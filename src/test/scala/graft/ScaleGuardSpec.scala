package graft

import org.apache.spark.sql.functions._
import graft.checks.ExactQuantiles
import graft.ops.Dedup

/** Scale-guard behaviors: LSH hot-bucket caps, the exact-verified near-dup
  * pipeline, distributed exact quantiles, null handling in the quantile
  * sketch, and the brute-force cosine input bound.
  */
class ScaleGuardSpec extends SparkSpec {

  test("LSH bucket cap bounds a degenerate identical-doc cluster") {
    val s = spark; import s.implicits._
    // 1000 IDENTICAL docs: every band bucket contains all 1000 signatures →
    // uncapped would self-join into ~500k pairs per band × 16 bands
    val docs = (0 until 1000).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val capped = Dedup.minhashLshCandidates(sigs, "doc_id", bands = 16, maxBucket = 50)
    val n = capped.count()
    // per band only the first 50 ids survive → pairs bounded by 50*49/2
    assert(n <= 50L * 49 / 2)
    assert(n > 0)
  }

  test("near-dup pipeline: exact-verified pairs equal brute-force truth") {
    val s = spark; import s.implicits._
    val base = "spark scans parquet row groups and prunes columns before the shuffle boundary even starts"
    val docs = Seq(
      (0L, base),
      (1L, base + " tail"),                            // near-dup of 0
      (2L, "completely different words about audio codec validation pipelines at scale"),
      (3L, base))                                      // exact dup of 0
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatesExact(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("bounded-group guard: hot group raises loudly instead of straggling") {
    val s = spark; import s.implicits._
    // planted hot group: 500 rows in one group vs 10 in the other. With
    // maxGroupRows=100 both rank-select operators must fail with the
    // self-defending message, not silently straggle. (Round 5: the guard
    // rides the operators' own count window — same raise contract, no
    // extra scan.)
    val df = ((0 until 500).map(i => ("hot", i.toDouble)) ++
      (0 until 10).map(i => ("cold", i.toDouble))).toDF("g", "v")
    val e1 = intercept[Exception] {
      graft.checks.Outliers.madOutliers(df, "g", "v", maxGroupRows = 100L).collect()
    }
    assert(e1.getMessage.contains("maxGroupRows=100"), e1.getMessage)
    assert(e1.getMessage.contains("ExactQuantiles"), "message must name the fallback")
    val e2 = intercept[Exception] {
      graft.checks.Integrity.groupedQuantiles(df, "g", "v", Seq(0.5),
        maxGroupRows = 100L).collect()
    }
    assert(e2.getMessage.contains("maxGroupRows=100"), e2.getMessage)
  }

  test("bounded-group guard: results identical with guard active vs disabled") {
    val s = spark; import s.implicits._
    // includes a NULL group key (round-4 ADVICE: the old count-join guard
    // silently dropped NULL groups that groupedQuantiles' window-only plan
    // kept — the guarded and unguarded paths must agree on them too)
    val df = ((0 until 500).map(i => (Some("hot"), (i * 37 % 101).toDouble)) ++
      (0 until 10).map(i => (Some("cold"), i.toDouble)) ++
      (0 until 7).map(i => (Option.empty[String], (i * 3).toDouble)))
      .toDF("g", "v")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("g").collect().toSeq
    assert(rows(graft.checks.Outliers.madOutliers(df, "g", "v", maxGroupRows = 1000L))
      == rows(graft.checks.Outliers.madOutliers(df, "g", "v", maxGroupRows = 0L)))
    val gq = graft.checks.Integrity.groupedQuantiles(
      df, "g", "v", Seq(0.5, 0.9), maxGroupRows = 1000L)
    assert(rows(gq)
      == rows(graft.checks.Integrity.groupedQuantiles(df, "g", "v", Seq(0.5, 0.9), maxGroupRows = 0L)))
    // the NULL group row survives the guarded plan (window semantics keep
    // NULL partitions; SQL GROUP BY would too)
    assert(gq.filter(col("g").isNull).count() == 1L)
  }

  test("cusumChangepoints guard: oversize key raises before buffering past the bound") {
    val s = spark; import s.implicits._
    // a raw-row caller's mistake: 500 rows under one key with
    // maxGroupBuckets=100 must raise the pre-aggregation contract loudly
    // BEFORE the per-key sort, never buffer-then-straggle
    val raw = (0 until 500).map(i =>
      ("hot", java.sql.Timestamp.valueOf(f"2026-01-01 00:${i / 60}%02d:${i % 60}%02d"), 1.0))
      .toDF("k", "ts", "v")
    val e = intercept[Exception] {
      graft.checks.Anomaly.cusumChangepoints(raw, "k", "ts", "v",
        muHi = 2.0, muLo = 0.5, threshold = 5.0, maxGroupBuckets = 100L).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxGroupBuckets=100"), msg)
    assert(msg.contains("PRE-AGGREGATED"), "message must name the contract")
  }

  test("cusumChangepoints guard: results identical with guard active vs disabled") {
    val s = spark; import s.implicits._
    val series = (0 until 80).map(i =>
      (if (i % 2 == 0) "a" else "b",
        java.sql.Timestamp.valueOf(f"2026-01-01 0${i / 10}:0${i % 10}:00"),
        if (i > 50) 9.0 else 3.0)).toDF("k", "ts", "v")
    def rows(bound: Long) = graft.checks.Anomaly.cusumChangepoints(
      series, "k", "ts", "v", muHi = 4.0, muLo = 2.0, threshold = 6.0,
      maxGroupBuckets = bound).orderBy("k", "ts").collect().toSeq
    assert(rows(1000L) == rows(0L))
  }

  test("duplicateClusters: transitive chain collapses to one component") {
    val s = spark; import s.implicits._
    // a~b and b~c are pairs but a~c is NOT: only the component view
    // discovers the 3-member cluster; d-e is a separate 2-cluster
    val pairs = Seq((10L, 20L), (20L, 30L), (50L, 40L))
      .toDF("id_a", "id_b")
    val expected = Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L, 50L -> 40L)
    // driver union-find path (edges fit) and distributed hash-min path
    // (forced via driverEdgeLimit=0) must agree on the fixpoint
    val local = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.duplicateClusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local === expected)
    assert(dist === expected)
  }

  test("duplicateClusters byte-bounds the driver path for wide string ids") {
    val s = spark; import s.implicits._
    // a 51-node chain of 50 edges with ~200-byte ids: far under the row
    // cap, but the payload is what matters for driver heap
    def id(i: Int) = "doc-" + ("x" * 200) + f"-$i%03d"
    val wide = (0 until 50).map(i => (id(i), id(i + 1))).toDF("id_a", "id_b")
    // tiny byte budget forces the distributed path; maxIters=0 makes that
    // path throw before converging — which is exactly how we observe the
    // byte bound (not the row cap) choosing it
    intercept[IllegalArgumentException] {
      Dedup.duplicateClusters(wide, maxIters = 0, maxDriverBytes = 1024)
    }
    // same pairs under the default budget stay on the driver union-find
    // (maxIters is ignored there) and collapse to one component
    val comp = Dedup.duplicateClusters(wide, maxIters = 0)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(comp.length == 51)
    assert(comp.forall(_._2 == id(0)))
  }

  test("duplicateClusters refuses unsupported id types up front") {
    val s = spark; import s.implicits._
    val pairs = Seq((true, false)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] { Dedup.duplicateClusters(pairs) }
  }

  test("duplicateClusters: driver and distributed paths agree for double ids") {
    val s = spark; import s.implicits._
    // lexicographic ordering would pick "10.0" < "2.5" — numeric must win
    // identically on both paths
    val pairs = Seq((10.0, 9.5), (9.5, 2.5), (7.25, 8.5)).toDF("id_a", "id_b")
    val expected = Map(10.0 -> 2.5, 9.5 -> 2.5, 2.5 -> 2.5, 7.25 -> 7.25, 8.5 -> 7.25)
    val local = Dedup.duplicateClusters(pairs)
      .as[(Double, Double)].collect().toMap
    val dist = Dedup.duplicateClusters(pairs, driverEdgeLimit = 0L)
      .as[(Double, Double)].collect().toMap
    assert(local === expected)
    assert(dist === expected)
  }

  test("dedupNearDuplicates keeps exactly the canonical member per cluster") {
    val s = spark; import s.implicits._
    val base = "spark scans parquet row groups and prunes columns before the shuffle boundary even starts"
    val docs = Seq(
      (3L, base), (1L, base + " tail"), (2L, base), // one cluster, min id 1
      (9L, "entirely unrelated text about something else altogether here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupNearDuplicates(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 9L))
  }

  test("ExactQuantiles matches in-memory quantile_cont on a skewed column") {
    val s = spark; import s.implicits._
    val values = (0 until 5000).map(i => math.pow(1.002, i) * (if (i % 7 == 0) -1 else 1))
    val df = values.toDF("v").repartition(13)
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = ExactQuantiles.quantiles(df, "v", qs, partitions = 8)
    val sorted = values.sorted.toIndexedSeq
    val want = qs.map { q =>
      val pos = q * (sorted.length - 1)
      val lo = sorted(math.floor(pos).toInt); val hi = sorted(math.ceil(pos).toInt)
      lo + (pos - math.floor(pos)) * (hi - lo)
    }
    got.zip(want).foreach { case (g, w) => assert(g === w, s"quantile mismatch: $g vs $w") }
  }

  test("IVF: nprobe=1 finds the planted neighbor inside the query's cluster") {
    val s = spark; import s.implicits._
    // three well-separated clusters on coordinate axes with small jitter
    def vec(axis: Int, jitter: Float): Seq[Float] =
      (0 until 8).map(d => (if (d == axis) 1.0f else 0.0f) +
        (if (d == (axis + 1) % 8) jitter else 0.0f))
    val rows = (0 until 30).flatMap { i =>
      Seq((i.toLong * 3, vec(0, i * 0.003f)),
        (i.toLong * 3 + 1, vec(3, i * 0.003f)),
        (i.toLong * 3 + 2, vec(6, i * 0.003f)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val model = graft.ops.Ivf.train(df, "vec_id", "embedding", k = 3, iters = 2)
    val assigned = graft.ops.Ivf.assign(df, "embedding", model)
    // each cluster collapses to one centroid
    assert(assigned.select("centroid_id").distinct().count() === 3)
    val query = vec(3, 0.001f)
    val top = graft.ops.Ivf.topK(assigned, "vec_id", "embedding", query, model,
      k = 5, nprobe = 1).collect()
    assert(top.length === 5)
    // every hit comes from the axis-3 cluster (vec_id % 3 == 1)
    assert(top.forall(_.getAs[Long]("vec_id") % 3 == 1))
    assert(top.head.getAs[Double]("cosine") > 0.999)
  }

  test("KLL sketch skips NULL and NaN inputs instead of folding them in") {
    val s = spark; import s.implicits._
    val withNulls = ((1 to 100).map(i => Some(i.toDouble * 10)) ++ Seq.fill(50)(None) ++
      Seq.fill(5)(Some(Double.NaN))).toDF("v")
    val r = withNulls.agg(kll_sketch_agg_double(col("v")).as("sk"))
      .select(kll_sketch_get_n_double(col("sk")),
        kll_sketch_get_quantile_double(col("sk"), lit(0.5)))
      .head()
    assert(r.getAs[Number](0).longValue == 100L)
    // nulls skipped → median ≈ 505; nulls-as-zero would drag it to ~340
    val med = r.getDouble(1)
    assert(math.abs(med - 505.0) < 30.0, s"median with nulls: $med")
  }

  test("cosinePairsBrute refuses an oversize input before collecting it") {
    // a vector that fails past the bound: the guard must fire without
    // materializing any row beyond the first 200001
    val vec = udf { (id: Long) =>
      if (id > 200001L) throw new IllegalStateException(s"row $id materialized")
      Array(1.0f, id.toFloat)
    }
    val big = spark.range(0, 300000, 1, 1).select(col("id"), vec(col("id")).as("v"))
    val err = intercept[IllegalArgumentException] {
      graft.ops.Similarity.cosinePairsBrute(big, "id", "v", 0.9)
    }
    assert(err.getMessage.contains("cosinePairsBrute"))
  }

  test("HLL approx distinct stays within 5% of exact (U3 tolerance)") {
    val s = spark; import s.implicits._
    val df = (0 until 20000).map(i => i % 7777).toDF("v")
    val r = df.agg(approx_count_distinct(col("v")).as("a"),
      countDistinct(col("v")).as("e")).head
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
  }

  test("emdTerms refuses an unbounded grid up front") {
    val s = spark; import s.implicits._
    val df = Seq(1.0, 2.0).toDF("v")
    val ex = intercept[IllegalArgumentException] {
      graft.checks.Drift.emdTerms(df, df, "v", lo = 0.0, hi = 1.0, bins = 5000)
    }
    assert(ex.getMessage.contains("bins <= 4096"))
  }
}
