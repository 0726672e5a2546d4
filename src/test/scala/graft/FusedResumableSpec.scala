package graft

import graft.runner.{CheckpointStore, ValidationConfig, ValidationSession}
import graft.synth.{Mutations, Synth}

/** The grouped fused resumable path (one pass for ALL pending partitions)
  * must agree per partition with the loop-of-modular-runs path, and must
  * honor checkpoint resume semantics.
  */
class FusedResumableSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  private def statuses(reports: Map[String, graft.runner.ValidationReport]) =
    reports.map { case (p, r) =>
      p -> r.outcomes.map(o => o.checkName -> (o.status, o.rowsFailed)).toMap
    }

  test("grouped fused per-partition verdicts == per-partition modular loop") {
    val ref = Synth.clipsRef(spark, 3, 120, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    // p0000 duration mutation, p0001 unknown codec + corrupt audio, p0002 clean
    val cand = Mutations.corruptAudio(
      Mutations.unknownCodec(
        Mutations.durOutOfRange(ref, "p0000"), "p0001"), "p0001")
    val sess = new ValidationSession(spark)
    val grouped = statuses(sess.runResumableFused(
      cand.toDF(), dim, new CheckpointStore(spark, tmp()), ref.toDF()))
    val modular = statuses(sess.runResumable(
      cand.toDF(), dim, new CheckpointStore(spark, tmp()), Some(ref.toDF())))
    assert(grouped.keySet === modular.keySet)
    grouped.foreach { case (p, checks) =>
      checks.foreach { case (name, v) =>
        assert(v === modular(p)(name), s"partition $p check $name") }
    }
    // the mutations land in their own partitions only
    assert(grouped("p0000")("dur_ms_range")._1 === "FAIL")
    assert(grouped("p0001")("codec_fk")._1 === "FAIL")
    assert(grouped("p0001")("pcm_allclose")._1 === "FAIL")
    assert(grouped("p0002").values.forall(_._2 == 0L))
    ref.unpersist()
  }

  test("fused evidence pass names the exact violating clip per check") {
    val ref = Synth.clipsRef(spark, 2, 80, maxAudioMs = 300).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.corruptAudio(
      Mutations.dropRow(
        Mutations.unknownCodec(ref, "p0000"), "p0001"), "p0001")
    val sess = new ValidationSession(spark)
    val ev = sess.fusedViolations(cand.toDF(), dim, ref.toDF())
      .collect().map(r => (r.getString(2), r.getString(1))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    // each mutation hits the min clip_id of its partition at mutation time:
    // unknownCodec → p0000's first clip; dropRow removes p0001's first clip
    // (...080), so corruptAudio then hits the NEXT one (...081)
    assert(ev("codec_fk") === Set("clip_000000000000"))
    assert(ev("clips_completeness") === Set("clip_000000000080"))
    assert(ev("pcm_allclose") === Set("clip_000000000081"))
    // dropped row is not an extra; no exclusivity violations expected
    assert(!ev.contains("clips_exclusivity"))
    assert(!ev.contains("transcript_equality"))
    ref.unpersist()
  }

  test("a partition wholly missing from the candidate is still validated and FAILS") {
    import org.apache.spark.sql.functions.col
    val ref = Synth.clipsRef(spark, 3, 50, maxAudioMs = 300).cache()
    val dim = Synth.dimCodec(spark).toDF()
    // the candidate load dropped p0002 entirely — the partition universe
    // must come from cand ∪ ref, or the loss is silently never validated
    val cand = ref.toDF().filter(col("part_id") =!= "p0002")
    val sess = new ValidationSession(spark)
    val store = new CheckpointStore(spark, tmp())
    val grouped = sess.runResumableFused(cand, dim, store, ref.toDF())
    assert(grouped.keySet === Set("p0000", "p0001", "p0002"))
    assert(grouped("p0002").status === "FAILED")
    val miss = grouped("p0002").outcomes.find(_.checkName == "clips_completeness").get
    assert(miss.status === "FAIL" && miss.rowsFailed === 50L)
    // checkpointed as FAILED (not left dangling in PROCESSING)
    assert(store.readAll().collect().find(_.part_id == "p0002").get.status === "FAILED")
    // the modular loop agrees
    val modular = sess.runResumable(cand, dim, new CheckpointStore(spark, tmp()),
      Some(ref.toDF()))
    assert(modular.keySet === Set("p0000", "p0001", "p0002"))
    assert(modular("p0002").status === "FAILED")
    assert(modular("p0002").outcomes
      .find(_.checkName == "clips_completeness").get.rowsFailed === 50L)
    ref.unpersist()
  }

  test("rows with NULL part_id are validated under the reserved label, not skipped") {
    import org.apache.spark.sql.functions.{col, when, lit}
    val ref = Synth.clipsRef(spark, 2, 40, maxAudioMs = 300).cache()
    val dim = Synth.dimCodec(spark).toDF()
    // corrupt the partition key of one candidate clip: no equality filter
    // can address it, so it must surface via the __null_part__ bucket
    val cand = ref.toDF().withColumn("part_id",
      when(col("clip_id") === "clip_000000000000", lit(null).cast("string"))
        .otherwise(col("part_id")))
    val sess = new ValidationSession(spark)
    val store = new CheckpointStore(spark, tmp())
    val grouped = sess.runResumableFused(cand, dim, store, ref.toDF())
    assert(grouped.keySet ===
      Set("p0000", "p0001", ValidationSession.NullPartLabel))
    // the null-keyed row is EXEMPT from the key-based reconciliation (it
    // can never join) — the dedicated part_id_not_null predicate flags it;
    // its reference twin is a completeness miss (FAIL) in p0000
    val nullRep = grouped(ValidationSession.NullPartLabel)
    assert(nullRep.status === "FAILED")
    val pn = nullRep.outcomes.find(_.checkName == "part_id_not_null").get
    assert(pn.status === "FAIL" && pn.rowsFailed === 1L)
    assert(nullRep.outcomes
      .find(_.checkName == "clips_exclusivity").get.rowsFailed === 0L)
    val miss = grouped("p0000").outcomes
      .find(_.checkName == "clips_completeness").get
    assert(miss.status === "FAIL" && miss.rowsFailed === 1L)
    assert(grouped("p0000").status === "FAILED")
    // checkpointed under the reserved label
    assert(store.readAll().collect()
      .exists(c => c.part_id == ValidationSession.NullPartLabel && c.status == "FAILED"))
    // the modular loop agrees on the bucket set and verdicts
    val modular = sess.runResumable(cand, dim, new CheckpointStore(spark, tmp()),
      Some(ref.toDF()))
    assert(modular.keySet === grouped.keySet)
    assert(modular(ValidationSession.NullPartLabel).status === "FAILED")
    assert(modular(ValidationSession.NullPartLabel).outcomes
      .find(_.checkName == "part_id_not_null").get.rowsFailed === 1L)
    ref.unpersist()
  }

  test("resume: validated partitions are skipped; failed ones retried") {
    val ref = Synth.clipsRef(spark, 3, 60, maxAudioMs = 300).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.durOutOfRange(ref, "p0001")
    val dir = tmp()
    val store = new CheckpointStore(spark, dir)
    val sess = new ValidationSession(spark)
    val first = sess.runResumableFused(cand.toDF(), dim, store, ref.toDF())
    assert(first.keySet === Set("p0000", "p0001", "p0002"))
    assert(first("p0001").status === "FAILED")
    // per-partition lineage metrics carry the candidate row count
    assert(store.readAll().collect()
      .forall(_.metrics_json.contains("\"rows_total\":60")))
    // second run: only the FAILED partition is pending
    val second = sess.runResumableFused(cand.toDF(), dim, store, ref.toDF())
    assert(second.keySet === Set("p0001"))
    // fix the data → partition turns SUCCESS, then nothing is pending
    val third = sess.runResumableFused(ref.toDF(), dim, store, ref.toDF())
    assert(third.keySet === Set("p0001") && third("p0001").status === "SUCCESS")
    assert(sess.runResumableFused(ref.toDF(), dim, store, ref.toDF()).isEmpty)
    ref.unpersist()
  }

  test("drift: ref duplicate key + null/NaN/Inf values agree on all three paths") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val base = Synth.clipsRef(spark, 2, 60, maxAudioMs = 400).toDF()
      .withColumn("dur_ms", col("dur_ms").cast("double")).cache()
    val ids = base.select("clip_id").as[String].collect().sorted // p0000 first
    val ref = base
      .withColumn("dur_ms", when(col("clip_id") === ids(3), lit(Double.NaN))
        .when(col("clip_id") === ids(64), lit(Double.NegativeInfinity))
        .otherwise(col("dur_ms")))
      .unionByName(base.filter(col("clip_id").isin(ids(0), ids(70)))) // duplicate keys
    val cand = base.withColumn("dur_ms",
      when(col("clip_id") === ids(1), lit(null).cast("double"))
        .when(col("clip_id").isin(ids(2), ids(65)), lit(Double.NaN))
        .when(col("clip_id") === ids(4), lit(Double.PositiveInfinity))
        .when(col("clip_id").isin(ids.slice(10, 30): _*), col("dur_ms") + 3000)
        .otherwise(col("dur_ms")))
    val dim = Synth.dimCodec(spark).toDF()
    val sess = new ValidationSession(spark, ValidationConfig(driftBins = 16))
    def drift(rep: graft.runner.ValidationReport) =
      rep.outcomes.filter(_.checkName.endsWith("_drift"))
        .map(o => (o.checkName, o.status, o.rowsFailed, o.observedValue)).sortBy(_._1)
    val modular = drift(sess.run(cand, dim, Some(ref)))
    assert(modular.map(_._1) == Seq("dur_ms_ks_drift", "dur_ms_psi_drift"))
    val fused = sess.runFused(cand, dim, ref)
    assert(drift(fused) == modular)
    val grouped = sess.runResumableFused(cand, dim, new CheckpointStore(spark, tmp()), ref)
    assert(grouped.keySet == Set("p0000", "p0001"))
    // suites that run Spark jobs report their real duration
    assert((fused.suites ++ grouped.values.flatMap(_.suites)).forall(_.durationMs > 0))
    grouped.foreach { case (p, rep) =>
      val one = col("part_id") === p
      assert(drift(rep) == drift(sess.run(cand.filter(one), dim, Some(ref.filter(one)))),
        s"partition $p")
    }
    base.unpersist()
  }
}
