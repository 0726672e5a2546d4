package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k with pure Column expressions
  * (`zip_with` + `aggregate` dot product — codegen'd, no UDF).
  * Scale path: random-hyperplane LSH — fixed-size bit signatures, bucket
  * groupBy for candidates, exact re-rank only within buckets. An IVF-style
  * variant falls out of the same shape with learned centroids instead of
  * random planes.
  */
object Similarity {

  /** Dot product of two array<float|double> columns, computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against one query vector. The query is a
    * literal array (broadcast into codegen), so this is a single scan +
    * TakeOrdered — no shuffle of the full table.
    */
  def topK(df: DataFrame, idCol: String, vecCol: String,
           query: Seq[Float], k: Int = 10): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    df.select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }


  /** Random-hyperplane signature: bit b = sign(v · plane_b). Returns the
    * input plus an integer `bucket` column (the packed signature).
    *
    * One tight-loop UDF computes all `planes` dot products per row; a
    * Column form (`planes` interpreted aggregate/zip_with HOF chains per
    * row) would evaluate the lambda per element per plane — ~20x slower on
    * the signature hot path. Plane component (p, d) is the deterministic
    * seeded stream `mix64(p*7919+d) >>> 11 / 2^53 * 2 - 1` (splitmix64, no
    * RNG state) — the same stream [[topKLsh]] uses driver-side for the
    * query signature.
    */
  def hyperplaneBuckets(df: DataFrame, vecCol: String, planes: Int, dim: Int): DataFrame = {
    val nPlanes = planes
    // plane matrix computed ONCE and captured by the closure — regenerating
    // the seeded stream inside the UDF would cost planes×dim mix64 calls
    // per ROW on the signature hot path
    val planeMatrix: Array[Array[Double]] = Array.tabulate(planes, dim) { (p, d) =>
      val u = (Synth.mix64(p.toLong * 7919L + d) >>> 11).toDouble / (1L << 53).toDouble
      u * 2.0 - 1.0
    }
    val bucketUdf = udf { (v: Seq[Float]) =>
      if (v == null) Option.empty[Long]
      else {
        var sig = 0L
        var p = 0
        while (p < nPlanes) {
          val plane = planeMatrix(p)
          var s = 0.0
          var d = 0
          val n = math.min(v.length, plane.length)
          while (d < n) {
            s += v(d).toDouble * plane(d)
            d += 1
          }
          if (s >= 0) sig |= 1L << p
          p += 1
        }
        Some(sig)
      }
    }
    df.withColumn("bucket", bucketUdf(col(vecCol)))
  }

  /** ANN top-k via LSH: probe the query's bucket plus all buckets within
    * hamming distance `probeRadius` (multi-probe), exact cosine re-rank
    * inside. At scale the bucketed table is written partitioned by bucket,
    * so a probe is a partition-pruned scan instead of a full pass.
    *
    * `probeRadius >= planes` probes EVERY bucket — brute-force routed
    * through the full index machinery (signature, bucket filter, re-rank),
    * the audit configuration whose output provably equals exact top-k (the
    * q_ann_ivf nprobe=k parity pattern). Partial radii prune, with recall
    * governed by the neighbors' angles: per plane P(bit agrees) = 1 − θ/π,
    * so genuinely close neighbors (cosine ≥ ~0.9) collide reliably at
    * radius 1, while near-orthogonal "neighbors" (cosine ≈ 0.3, θ ≈ 73°)
    * are indistinguishable from the bulk to ANY hyperplane code — on such
    * data only larger radii (or the IVF path) help, and the planted-pair
    * recall property is what unit tests pin.
    */
  def topKLsh(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int = 10, planes: Int = 12,
              probeRadius: Int = 1): DataFrame = {
    val dim = query.length
    val bucketed = hyperplaneBuckets(df, vecCol, planes, dim)
    // query signature computed driver-side with the same seeded planes
    val qSig = (0 until planes).map { p =>
      var s = 0.0
      (0 until dim).foreach { d =>
        val u = (Synth.mix64(p.toLong * 7919L + d) >>> 11).toDouble / (1L << 53).toDouble
        s += query(d) * (u * 2.0 - 1.0)
      }
      if (s >= 0) 1L << p else 0L
    }.reduce(_ | _)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val probed =
      if (probeRadius >= planes) bucketed // exhaustive probe: no bucket filter
      else {
        // all masks flipping <= probeRadius of the `planes` bits
        val probes = (0 to probeRadius).flatMap(r =>
          (0 until planes).combinations(r).map(bits =>
            bits.foldLeft(qSig)((s, b) => s ^ (1L << b))))
        bucketed.filter(col("bucket").isin(probes: _*))
      }
    probed
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs near-duplicate search by cosine >= threshold, LSH-bucketed:
    * candidates share a bucket (plus one-bit-off buckets would raise recall;
    * single-bucket keeps the join linear), verified by exact cosine.
    */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, planes: Int = 16, dim: Int = 64,
                     maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // cap bucket membership: a hot bucket (e.g. a huge near-identical
    // cluster collapsing to one signature) would self-join into O(N²) pairs;
    // keep the first maxBucket members per bucket (deterministic by id) —
    // see Dedup.DefaultMaxBucket for the recall trade-off
    val bucketed = Dedup.capBuckets(
      hyperplaneBuckets(df, vecCol, planes, dim)
        .select(col(idCol), col(vecCol), col("bucket")),
      Seq("bucket"), idCol, maxBucket)
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine").dropDuplicates("id_a", "id_b")
  }

  /** Tight-loop cosine over float arrays — the zip_with/aggregate Column
    * form is interpreted per element (non-codegen HOFs), which is fine for
    * one query vector but ~20x too slow on an O(n²) pair scan; a plain
    * Scala UDF with a while-loop wins there.
    */
  private val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    // null/empty embeddings yield null (row filtered out downstream) —
    // matching the Column-form behavior; zero vectors still yield NaN (0/0)
    if (a == null || b == null || a.isEmpty || b.isEmpty) Option.empty[Double]
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      Some(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  /** Brute-force all-pairs cosine >= threshold (small inputs / oracle twin
    * for the LSH path). O(n^2), baseline only; the exact per-pair
    * arithmetic matches [[cosine]] (sequential double accumulation).
    *
    * Execution (guide §3.1/§4): the table is bounded by the brute-force
    * contract (all-pairs is infeasible past ~10^5 rows regardless of
    * engine), so the right side is broadcast ONCE as primitive float
    * arrays and each task runs a tight two-level loop over them. The
    * previous cross-join form materialized every one of the n²/2 joined
    * rows and re-deserialized both vectors per pair through a boxed UDF —
    * measured at sf0.1 (2000 vecs × dim 64): 50-60 CPU-seconds vs ~2 for
    * the kernel, identical output. Long ids take the kernel; other id
    * types keep the generic join form.
    */
  def cosinePairsBrute(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism * 2
    if (df.schema(idCol).dataType == org.apache.spark.sql.types.LongType) {
      import spark.implicits._
      // null ids pair with nothing under `id_a < id_b` — drop them up
      // front (matches the generic join form) so the encoder never sees one
      val ds = df.select(col(idCol).cast("long"), col(vecCol))
        .where(col(idCol).isNotNull)
        .as[(Long, Array[Float])]
      // bounded-input guard: the broadcast is only sane where n² is; one
      // row past the bound is all the collect ever pulls to the driver
      val maxRows = 200000
      val all = ds.limit(maxRows + 1).collect()
      require(all.length <= maxRows,
        s"cosinePairsBrute: more than $maxRows rows — all-pairs cosine is a " +
          "bounded baseline; use cosinePairsLsh at this size")
      val bc = spark.sparkContext.broadcast(all)
      val thr = threshold
      // a small embeddings table often arrives as ONE parquet split —
      // spread the left side so the O(n²) loop parallelizes
      ds.repartition(parallelism).mapPartitions { it =>
        val right = bc.value
        it.flatMap { case (ida, va) =>
          if (va == null || va.isEmpty) Iterator.empty
          else right.iterator.flatMap { case (idb, vb) =>
            if (idb <= ida || vb == null || vb.isEmpty) None
            else {
              var dot = 0.0; var na = 0.0; var nb = 0.0
              var i = 0
              val n = math.min(va.length, vb.length)
              while (i < n) {
                val x = va(i).toDouble; val y = vb(i).toDouble
                dot += x * y; na += x * x; nb += y * y
                i += 1
              }
              val c = dot / (math.sqrt(na) * math.sqrt(nb))
              if (c >= thr) Some((ida, idb, c)) else None
            }
          }
        }
      }.toDF("id_a", "id_b", "cosine")
    } else {
      val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
        .repartition(parallelism)
      val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cosine", cosineUdf(col("vec_a"), col("vec_b")))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
  }
}
