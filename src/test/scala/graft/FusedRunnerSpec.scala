package graft

import graft.runner.ValidationSession
import graft.synth.{Mutations, Synth}

/** The fused 4-job plan must agree with the modular suite-by-suite engine:
  * same check names, same statuses, same rows_failed — on clean data and on
  * every mutation class (single-row mutations keep row-level == key-level
  * reconciliation counts).
  */
class FusedRunnerSpec extends SparkSpec {

  private def outcomesOf(r: graft.runner.ValidationReport): Map[String, (String, Long)] =
    r.outcomes.map(o => o.checkName -> (o.status, o.rowsFailed)).toMap

  test("fused == modular on clean data") {
    val ref = Synth.clipsRef(spark, 3, 200, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val sess = new ValidationSession(spark)
    val modular = outcomesOf(sess.run(ref.toDF(), dim, Some(ref.toDF())))
    val fused = outcomesOf(sess.runFused(ref.toDF(), dim, ref.toDF()))
    assert(fused.keySet === modular.keySet)
    fused.foreach { case (k, v) => assert(v === modular(k), s"check $k") }
    assert(fused.values.forall(_._2 == 0L))
    ref.unpersist()
  }

  test("fused == modular on mutated data (dup + codec + audio + drop + extra)") {
    val ref = Synth.clipsRef(spark, 4, 150, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.duplicateFirst(
      Mutations.extraRow(
        Mutations.corruptAudio(
          Mutations.dropRow(
            Mutations.unknownCodec(
              Mutations.durOutOfRange(ref, "p0000"), "p0001"), "p0002"), "p0003"), "p0001"),
      "p0000")
    val sess = new ValidationSession(spark)
    val modular = outcomesOf(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fused = outcomesOf(sess.runFused(cand.toDF(), dim, ref.toDF()))
    assert(fused.keySet === modular.keySet)
    fused.foreach { case (k, v) => assert(v === modular(k), s"check $k") }
    // sanity: the mutations were actually detected
    assert(fused("dur_ms_range")._1 === "FAIL")
    assert(fused("codec_fk")._1 === "FAIL")
    assert(fused("pcm_allclose")._1 === "FAIL")
    assert(fused("clips_completeness")._1 === "FAIL")
    assert(fused("clips_exclusivity")._2 === 1L)
    ref.unpersist()
  }

  test("config-disabled built-in checks drop from all three paths identically") {
    import graft.runner.{CheckpointStore, EngineConfig, ValidationConfig}
    val ref = Synth.clipsRef(spark, 3, 120, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    // candidate violates exactly codec_fk, pcm_allclose, and uniqueness —
    // all three disabled by config, so the verdict must flip to SUCCESS on
    // the modular, fused, and grouped-resumable paths alike
    val cand = Mutations.corruptAudio(
      Mutations.unknownCodec(
        Mutations.duplicateFirst(ref, "p0000"), "p0001"), "p0002")
    val cfgJson =
      """{"suites":[{"suite":"overrides","enabled":true,"checks":[
        |{"name":"codec_fk","enabled":false},
        |{"name":"pcm_allclose","enabled":false},
        |{"name":"clip_id_uniqueness","enabled":false}]}]}""".stripMargin
    val sess = new ValidationSession(spark,
      ValidationConfig(engineConfig = EngineConfig.parse(spark, cfgJson)))
    val modular = outcomesOf(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fusedRep = sess.runFused(cand.toDF(), dim, ref.toDF())
    val fused = outcomesOf(fusedRep)
    assert(fused.keySet === modular.keySet)
    fused.foreach { case (k, v) => assert(v === modular(k), s"check $k") }
    val disabled = Set("codec_fk", "pcm_allclose", "clip_id_uniqueness")
    assert(fused.keySet.intersect(disabled).isEmpty)
    assert(fusedRep.status === "SUCCESS")
    // grouped resumable path: same checks absent, every partition SUCCESS
    val dir = java.nio.file.Files.createTempDirectory("ckpt-cfg").toString + "/cp"
    val grouped = sess.runResumableFused(cand.toDF(), dim,
      new CheckpointStore(spark, dir), ref.toDF())
    assert(grouped.values.forall(_.status == "SUCCESS"))
    assert(grouped.values.flatMap(_.outcomes.map(_.checkName)).toSet
      .intersect(disabled).isEmpty)
    // violation evidence for disabled checks is not extracted either
    val tags = sess.fusedViolations(cand.toDF(), dim, ref.toDF())
      .select("check_name").distinct().collect().map(_.getString(0)).toSet
    assert(tags.intersect(disabled).isEmpty)
    ref.unpersist()
  }

  test("severity downgrade of a built-in check applies on every path") {
    import graft.runner.{EngineConfig, ValidationConfig}
    val ref = Synth.clipsRef(spark, 2, 100, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.unknownCodec(ref, "p0000")
    // codec_fk is hard-wired severity=error; the registry downgrade must
    // re-grade its violation to WARN on the modular AND fused paths —
    // flipping the run verdict to SUCCESS (runner.py:175-176 semantics)
    val cfgJson =
      """{"suites":[{"suite":"overrides","enabled":true,
        |"checks":[{"name":"codec_fk","severity":"warning"}]}]}""".stripMargin
    val sess = new ValidationSession(spark,
      ValidationConfig(engineConfig = EngineConfig.parse(spark, cfgJson)))
    val reps = Seq(
      sess.run(cand.toDF(), dim, Some(ref.toDF())),
      sess.runFused(cand.toDF(), dim, ref.toDF()))
    reps.foreach { rep =>
      assert(rep.status === "SUCCESS", rep.outcomes.mkString("\n"))
      val o = rep.outcomes.find(_.checkName == "codec_fk").get
      assert(o.status === "WARN")
      assert(o.severity === "Warning")
      assert(o.rowsFailed === 1L)
    }
    ref.unpersist()
  }

  test("fused drift detection matches modular on shifted distribution") {
    val ref = Synth.clipsRef(spark, 2, 300, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.shiftDistribution(ref, "p0000")
    val sess = new ValidationSession(spark)
    val modular = outcomesOf(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fused = outcomesOf(sess.runFused(cand.toDF(), dim, ref.toDF()))
    assert(fused("dur_ms_ks_drift") === modular("dur_ms_ks_drift"))
    assert(fused("dur_ms_ks_drift")._1 === "FAIL")
    ref.unpersist()
  }

  test("fused codec_fk counts every orphan when the dimension holds a NULL codec") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val ref = Synth.clipsRef(spark, 3, 100, maxAudioMs = 400).cache()
    // a NULL codec in the dimension matches nothing on the modular
    // anti-join, and must not turn the fused NOT IN into NULL
    val dim = Synth.dimCodec(spark)
      .union(Seq(graft.model.CodecDim(null, "unknown", 0)).toDS()).toDF()
    val cand = Seq("p0000", "p0001", "p0002").foldLeft(ref)(Mutations.unknownCodec)
    val planted = cand.filter(col("codec") === "MUTATED").select("clip_id").as[String]
      .collect().toSet
    assert(planted.size === 3)
    val sess = new ValidationSession(spark)
    val modular = outcomesOf(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fused = outcomesOf(sess.runFused(cand.toDF(), dim, ref.toDF()))
    assert(modular("codec_fk") === (("FAIL", 3L)))
    assert(fused("codec_fk") === modular("codec_fk"))
    val tagged = sess.fusedViolations(cand.toDF(), dim, ref.toDF())
      .filter(col("check_name") === "codec_fk").select("clip_id").as[String]
      .collect().toSet
    assert(tagged === planted)
    ref.unpersist()
  }
}
