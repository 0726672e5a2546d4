package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer rules and physical plans"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (5L, "der hund läuft schnell und die katze ist nicht da für das essen"),
    (6L, "le chat est dans la maison et les enfants sont pour le jardin"),
    (7L, "el perro es de la casa y los gatos en el jardin con que"),
    (8L, "short"))

  lazy val docDf = docs.toDF("doc_id", "text").cache()

  test("exact dedup: fingerprint collapses exact duplicates only") {
    val deduped = Dedup.dedupExact(docDf, "text")
    assert(deduped.count() == 7) // 1 and 4 collapse
    val dups = Dedup.exactDuplicates(docDf, Seq("text")).collect()
    assert(dups.length == 1 && dups.head.getLong(1) == 2L)
  }

  test("minhash LSH finds the near-duplicate pair and the exact pair") {
    val pairs = Dedup.nearDuplicatesMinhash(docDf, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc excluded
  }

  test("range-hashed shingles == sliding+mkString reference formulation") {
    // the round-7 zero-allocation shingle hasher must reproduce the
    // original definition hash-for-hash (oracle parity depends on it):
    // h_j over stringHash(slice.mkString(" "), seed) for every k-window
    import scala.util.hashing.MurmurHash3
    val texts = Seq(
      "the quick  brown\tfox \n jumps over the lazy dog",
      "  leading and trailing   ",
      "的 是 在 了 und die katze", // non-ASCII chars
      "one two", "single", "", null,
      "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    val numHashes = 64; val k = 3
    def refSig(text: String): Seq[Long] = {
      val toks =
        if (text == null) Array.empty[String]
        else text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
      val it: Iterator[String] =
        if (toks.length >= k) toks.sliding(k).map(_.mkString(" "))
        else Iterator(toks.mkString(" "))
      val mins = Array.fill(numHashes)(Long.MaxValue)
      it.foreach { sh =>
        val h1 = MurmurHash3.stringHash(sh, 0x9747b28c).toLong
        val h2 = MurmurHash3.stringHash(sh, 0x85ebca6b).toLong | 1L
        var j = 0
        while (j < numHashes) {
          val h = h1 + j * h2
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      mins.toSeq
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.minhashSignatures(df, "doc_id", "text", numHashes, k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == refSig(t), s"signature diverged for text #$i: '$t'")
    }
  }

  test("minhash est_jaccard is 1.0 for identical docs") {
    val sigs = Dedup.minhashSignatures(docDf, "doc_id", "text")
    val exact = Dedup.minhashLshPairs(sigs, "doc_id", threshold = 0.99)
      .filter($"id_a" === 1 && $"id_b" === 4).collect()
    assert(exact.length == 1 && exact.head.getDouble(2) == 1.0)
  }

  test("simhash near-dup detects exact + near pairs via hamming <= 3") {
    val pairs = Dedup.nearDuplicatesSimhashSigs(docDf, "doc_id", "text")
      .select("id_a", "id_b", "hamming").collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toList
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L)))
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 0) // identical → hamming 0
  }

  test("md5-60-bit simhash variant: signatures in output, exact dup at hamming 0") {
    val rows = Dedup.nearDuplicatesSimhashSigs(docDf, "doc_id", "text",
      tokenHash = Dedup.TokenHash.Md5Hash60, bits = 60).collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val r14 = m((1L, 4L))
    assert(r14.getAs[Long]("sh_a") == r14.getAs[Long]("sh_b"))
    assert(r14.getAs[Number]("hamming").intValue == 0)
    // 60-bit hash: the top 4 signature bits can never be set
    rows.foreach { r =>
      assert((r.getAs[Long]("sh_a") >>> 60) == 0L)
      assert((r.getAs[Long]("sh_b") >>> 60) == 0L)
    }
  }

  /** Reference simhash: the exploded Column form — one row per token
    * occurrence, the token hash as a Column expression, `bits` conditional
    * sign sums in one groupBy. Token-less docs vanish after the explode.
    */
  private def explodedSimhash(df: org.apache.spark.sql.DataFrame,
                              tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                              bits: Int): Map[Long, Long] = {
    val tok = df.select(col("doc_id"),
      explode(TextAnalysis.tokens(lower(col("text")))).as("__t"))
      .withColumn("__h", tokenHash(col("__t")))
    val bitSums = (0 until bits).map { b =>
      sum(when(col("__h").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L)).as(s"__b$b")
    }
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b => when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // the per-document fold must reproduce the exploded sign-sum EXACTLY
  // (occurrence-weighted bits, strict >0 sign, docs without tokens dropped)
  private def assertFoldMatchesExploded(hash: Dedup.TokenHash,
                                        columnHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                        bits: Int): Unit = {
    val texts = Seq(
      (1L, "the the the quick brown fox fox"),
      (2L, "a b a b a b"), // heavy repetition → memo path
      (3L, "  spaced\tout\n tokens  "),
      (4L, "的 是 在 und die"), // non-ASCII tokens
      (5L, "single"),
      (6L, "   "), // token-less → must be absent from BOTH outputs
      (7L, "MiXeD CaSe TOKENS mixed case tokens"))
    val df = texts.toDF("doc_id", "text")
    val fused = Dedup.simhash(df, "doc_id", "text", hash, bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exploded = explodedSimhash(df, columnHash, bits)
    assert(fused == exploded, s"fused simhash diverged: fused=$fused exploded=$exploded")
    assert(!fused.contains(6L))
  }

  test("fused md5 simhash == exploded Column-form simhash, doc for doc") {
    assertFoldMatchesExploded(Dedup.TokenHash.Md5Hash60,
      tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), bits = 60)
  }

  test("fused xxhash64 simhash == exploded Column-form simhash, doc for doc") {
    assertFoldMatchesExploded(Dedup.TokenHash.XxHash64, xxhash64(_), bits = 64)
  }

  test("prefixFilterPairs: complete recall vs brute force, planted + random") {
    // planted corpus: must reproduce the brute-force pair set exactly
    def brute(df: org.apache.spark.sql.DataFrame, t: Double): Set[(Long, Long)] = {
      val ids = df.select("doc_id").as[Long].collect().sorted
      val all = ids.flatMap(a => ids.filter(_ > a).map(b => (a, b)))
        .toSeq.toDF("id_a", "id_b")
      Dedup.ngramJaccard(all, df, "doc_id", "text")
        .filter($"jaccard" >= t)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    }
    val got = Dedup.prefixFilterPairs(docDf, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute(docDf, 0.5))
    assert(got.contains((1L, 4L)) && got.contains((1L, 2L)))

    // random corpus around the threshold boundary (shared word pool makes
    // borderline jaccards + size-filter edge cases likely)
    val pool = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val rnd = (1L to 60L).map { i =>
      val len = (i % 9 + 4).toInt
      (i, (0 until len).map(j => pool(((i * 13 + j * 7) % pool.length).toInt))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val gotR = Dedup.prefixFilterPairs(rnd, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotR == brute(rnd, 0.6))
    assert(gotR.nonEmpty) // the corpus genuinely has qualifying pairs
  }

  test("ngram jaccard verification: exact pair = 1.0, unrelated < 0.2") {
    val pairs = Seq((1L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(pairs, docDf, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 3L)) < 0.2)
  }

  test("decontaminate drops corpus docs near-duplicating a benchmark doc") {
    val s = spark; import s.implicits._
    val leaked = "the benchmark question asks what is the capital of france and the answer is paris obviously"
    val corpus = Seq(
      (10L, leaked + " extra"),                       // contaminated (near-dup)
      (11L, leaked),                                  // contaminated (exact)
      (12L, "completely unrelated training text about spark shuffle partitions and codegen"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, leaked)).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusPairs(corpus, probe, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 100L), (11L, 100L)))
    val clean = Dedup.decontaminate(corpus, probe, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSeq
    assert(clean === Seq(12L))
  }

  test("dedupNearDuplicatesBy keeps the max-score member per cluster") {
    val s = spark; import s.implicits._
    val base = "spark scans parquet row groups and prunes columns before the shuffle boundary even starts"
    val docs = Seq(
      (1L, base, 5.0), (2L, base + " tail", 9.0), (4L, base, 7.0), // one cluster
      (9L, "entirely unrelated text about something else altogether here", 1.0))
      .toDF("doc_id", "text", "score")
    val kept = Dedup.dedupNearDuplicatesBy(docs, "doc_id", "text",
        threshold = 0.6, score = col("score"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // cluster {1,2,4}: max score 9.0 → doc 2 survives; singleton 9 survives
    assert(kept === Seq(2L, 9L))
  }

  test("leakageSafeSplit: cluster members never straddle the split") {
    val s = spark; import s.implicits._
    val base = "spark scans parquet row groups and prunes columns before the shuffle boundary even starts"
    val docs = Seq(
      (1L, base), (2L, base + " tail"), (4L, base), // one near-dup cluster
      (9L, "entirely unrelated text about something else altogether here"),
      (12L, "another unique document with its own words and nothing shared"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatesExact(docs, "doc_id", "text", threshold = 0.6)
    val split = Dedup.leakageSafeSplit(docs, "doc_id", pairs, testSixteenths = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(split.length == 5, "every document gets a split")
    // the {1,2,4} cluster shares one representative and one side
    val cluster = split.filter(t => Set(1L, 2L, 4L)(t._1))
    assert(cluster.map(_._2).toSet.size == 1, s"reps diverged: ${cluster.toSeq}")
    assert(cluster.map(_._3).toSet.size == 1, s"cluster straddles: ${cluster.toSeq}")
    // singletons represent themselves
    assert(split.find(_._1 == 9L).get._2 == 9L)
    // deterministic: identical under re-partitioning
    val again = Dedup.leakageSafeSplit(docs.repartition(7), "doc_id", pairs,
      testSixteenths = 8).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(split.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("repetitionProfile: dup-word fraction and top-token share") {
    // "spam spam spam spam ham": 5 tokens, 2 distinct, dup = 3/5, top = 4/5
    val df = Seq((1L, "spam spam spam spam ham"),
      (2L, "all words here are unique"),
      (3L, "   ")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionProfile(df, "doc_id")
      .orderBy("doc_id").collect()
    assert(rows.length == 2) // whitespace-only doc drops out
    val r1 = rows(0)
    assert(r1.getLong(r1.fieldIndex("n_tokens")) == 5L)
    assert(r1.getLong(r1.fieldIndex("n_distinct")) == 2L)
    assert(r1.getLong(r1.fieldIndex("dup_ratio_1e6")) == 600000L)
    assert(r1.getLong(r1.fieldIndex("top_share_1e6")) == 800000L)
    val r2 = rows(1)
    assert(r2.getLong(r2.fieldIndex("dup_ratio_1e6")) == 0L)
    assert(r2.getLong(r2.fieldIndex("top_share_1e6")) == 200000L)
  }

  test("token counting: whitespace + subword") {
    val r = docDf.filter($"doc_id" === 8)
      .select(TextAnalysis.tokenCount($"text"), TextAnalysis.subwordCount($"text")).head()
    assert(r.getInt(0) == 1)
    val multi = spark.sql("SELECT 'a b,c d.' AS t")
    assert(multi.select(TextAnalysis.tokenCount($"t")).head().getInt(0) == 3)
    assert(multi.select(TextAnalysis.subwordCount($"t")).head().getInt(0) == 6) // a b , c d .
  }

  test("langId heuristic identifies en/de/fr/es") {
    val preds = docDf.withColumn("p", TextAnalysis.langId($"text"))
      .select("doc_id", "p").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(5L) == "de")
    assert(preds(6L) == "fr")
    assert(preds(7L) == "es")
    assert(preds(8L) == null) // no stopword evidence
  }

  test("quality score in [0,1], higher for natural text than garbage") {
    val q = Seq((1, "The quick brown fox jumps over the lazy dog and that was fine for all of us."),
      (2, "!!!###$$$ %%% ^^^ &&&")).toDF("id", "t")
      .select($"id", TextAnalysis.qualityScore($"t").as("q"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(q(1) >= 0 && q(1) <= 1 && q(2) >= 0 && q(2) <= 1)
    assert(q(1) > q(2))
  }

  test("fingerprint is whitespace/case insensitive") {
    val fp = Seq(("A  B\tc"), ("a b C")).toDF("t")
      .select(TextAnalysis.fingerprint($"t")).collect().map(_.getLong(0))
    assert(fp(0) == fp(1))
  }

  test("brute-force cosine top-k ranks planted duplicate first") {
    val base = (0 until 64).map(i => math.sin(i * 0.3).toFloat)
    val near = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val vecs = Seq((0L, base), (1L, near), (2L, (0 until 64).map(i => math.cos(i * 1.7).toFloat)),
      (3L, base.map(-_))).toDF("vec_id", "embedding")
    val top = Similarity.topK(vecs.filter($"vec_id" =!= 0), "vec_id", "embedding", base, 2)
      .collect()
    assert(top.head.getLong(0) == 1L)
    assert(top.head.getDouble(1) > 0.999)
    assert(top.last.getDouble(1) < top.head.getDouble(1))
  }

  test("LSH ANN finds the planted near-duplicate in its bucket") {
    val base = (0 until 64).map(i => math.sin(i * 0.3).toFloat)
    val near = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val rest = (2L until 50L).map(id =>
      (id, (0 until 64).map(i => (graft.synth.Synth.mix64(id * 64 + i) % 1000 / 1000.0).toFloat)))
    val vecs = (Seq((0L, base), (1L, near)) ++ rest).toDF("vec_id", "embedding")
    val top = Similarity.topKLsh(vecs.filter($"vec_id" =!= 0), "vec_id", "embedding", base, 5)
      .collect()
    assert(top.nonEmpty && top.head.getLong(0) == 1L)
  }

  test("exhaustive-probe LSH equals brute-force top-k through the index machinery") {
    val base = (0 until 64).map(i => math.sin(i * 0.3).toFloat)
    val rest = (1L until 40L).map(id =>
      (id, (0 until 64).map(i => (graft.synth.Synth.mix64(id * 64 + i) % 1000 / 1000.0).toFloat)))
    val vecs = (Seq((0L, base)) ++ rest).toDF("vec_id", "embedding")
    val pool = vecs.filter($"vec_id" =!= 0)
    val brute = Similarity.topK(pool, "vec_id", "embedding", base, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exhaustive = Similarity.topKLsh(pool, "vec_id", "embedding", base, 5,
      planes = 12, probeRadius = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(exhaustive === brute)
  }

  test("embedding cosine near-dup pairs via LSH") {
    val base = (0 until 64).map(i => math.sin(i * 0.3).toFloat)
    val near = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val vecs = Seq((0L, base), (1L, near),
      (2L, (0 until 64).map(i => math.cos(i * 1.7).toFloat))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairsLsh(vecs, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }
}
