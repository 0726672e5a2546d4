package graft

import org.apache.spark.sql.functions.col
import graft.checks.AudioChecks
import graft.model.{Check, RuleGroup, Severity}
import graft.runner.{CheckpointStore, ValidationConfig, ValidationSession}
import graft.synth.{Mutations, Synth}

/** Every runner path reads its checks from one catalog: a repeated check
  * name is rejected, and the fused, grouped-fused and modular paths report
  * each check with the same group, severity and expected value.
  */
class CheckCatalogSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-catalog").toString + "/cp"

  /** Partition p0000 drops a row, drifts, and its new first clip carries
    * an out-of-range duration, an unknown codec, corrupt audio and a
    * duplicate; an extra row rides along.
    */
  private def mutated(ref: org.apache.spark.sql.Dataset[graft.model.AudioClip]) = {
    val faulty = Mutations.corruptAudio(Mutations.unknownCodec(Mutations.durOutOfRange(
      Mutations.shiftDistribution(Mutations.dropRow(ref, "p0000"), "p0000"), "p0000"),
      "p0000"), "p0000")
    Mutations.duplicateFirst(Mutations.extraRow(faulty, "p0000"), "p0000")
  }

  test("a predicate check reusing a built-in or reserved name is rejected on every fused path") {
    val ref = Synth.clipsRef(spark, 1, 40, maxAudioMs = 300).toDF()
    val dim = Synth.dimCodec(spark).toDF()
    Seq("codec_fk", "__rows").foreach { name =>
      val sess = new ValidationSession(spark, ValidationConfig(predicateChecks =
        AudioChecks.defaults :+ Check(name, RuleGroup.ReferentialIntegrity, Severity.Error,
          col("codec").isNull)))
      val errors = Seq(
        intercept[IllegalArgumentException](sess.runFused(ref, dim, ref)),
        intercept[IllegalArgumentException](
          sess.runResumableFused(ref, dim, new CheckpointStore(spark, tmp()), ref)),
        intercept[IllegalArgumentException](sess.fusedViolations(ref, dim, ref)))
      errors.foreach(e => assert(e.getMessage.contains(s"duplicate check name(s): $name"),
        e.getMessage))
    }
  }

  test("one-partition mutated input: runFused == runResumableFused, field for field") {
    val ref = Synth.clipsRef(spark, 1, 150, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = mutated(ref)
    val sess = new ValidationSession(spark)
    val fused = sess.runFused(cand.toDF(), dim, ref.toDF()).outcomes
    val grouped = sess.runResumableFused(cand.toDF(), dim,
      new CheckpointStore(spark, tmp()), ref.toDF())
    assert(grouped.keySet === Set("p0000"))
    assert(grouped("p0000").outcomes === fused)
    // the input really fails: every mutation class shows up
    val failing = fused.filter(_.rowsFailed > 0).map(_.checkName).toSet
    assert(Set("clip_id_uniqueness", "codec_fk", "dur_ms_range", "clips_completeness",
      "clips_exclusivity", "pcm_allclose", "dur_ms_ks_drift").subsetOf(failing), failing)
    assert(fused.find(_.checkName == "clip_id_uniqueness").get.message ===
      Some("1 duplicated key(s) on (clip_id)"))
    ref.unpersist()
  }

  test("runFused and modular run agree on group, severity and expected value per check") {
    val ref = Synth.clipsRef(spark, 2, 150, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = mutated(ref)
    val sess = new ValidationSession(spark)
    def shape(outcomes: Seq[graft.model.CheckOutcome]) = outcomes.map(o =>
      o.checkName -> (o.ruleGroup, o.severity, o.expectedValue)).toMap
    val modular = shape(sess.run(cand.toDF(), dim, Some(ref.toDF())).outcomes)
    val fused = shape(sess.runFused(cand.toDF(), dim, ref.toDF()).outcomes)
    assert(fused.keySet === modular.keySet)
    fused.foreach { case (k, v) => assert(v === modular(k), s"check $k") }
    assert(fused("pcm_allclose")._3 === Some("SNR >= 30.0 dB"))
    assert(fused("dur_ms_psi_drift")._3 === Some("<= 0.2"))
    ref.unpersist()
  }
}
