package graft

import org.apache.spark.sql.functions._
import graft.audio.Pcm
import graft.checks.{AudioQuality, CheckCompiler}
import graft.functions.GraftFunctions

/** Audio quality metrics (pcm_stats, pcm_hum) and the AudioQuality rule
  * set.
  */
class AudioQualitySpec extends SparkSpec {
  import spark.implicits._

  private def pcm(samples: Int*): Array[Byte] =
    Pcm.encode(samples.map(_.toShort).toArray)

  test("statsKernel: hand-computed metrics on tiny payloads") {
    // alternating full-scale: everything clips, zcr 1.0
    val hot = Pcm.statsKernel(pcm(32767, -32768, 32767, -32768))
    assert(hot(0) == 4.0 && hot(1) == 32768.0)
    assert(hot(4) == 1.0) // clip_ratio
    assert(hot(5) == 0.0) // silence_ratio
    assert(hot(6) == 1.0) // zcr: 3 sign changes / 3
    val expRms = math.sqrt((2.0 * 32767.0 * 32767.0 + 2.0 * 32768.0 * 32768.0) / 4)
    assert(math.abs(hot(2) - expRms) < 1e-9)

    // quiet: all |s| <= 327 counts silent; signs +,+,- -> 1 crossing / 2
    val quiet = Pcm.statsKernel(pcm(100, 200, -300))
    assert(quiet(1) == 300.0 && quiet(4) == 0.0 && quiet(5) == 1.0)
    assert(quiet(6) == 0.5)
    assert(math.abs(quiet(2) - math.sqrt((10000.0 + 40000.0 + 90000.0) / 3)) < 1e-9)
    assert(math.abs(quiet(3) - 20.0 * math.log10(quiet(2) / 32768.0)) < 1e-12)

    // digital zero: dbfs -Inf, zcr 0 (zero runs don't count as crossings)
    val dead = Pcm.statsKernel(pcm(0, 0, 0, 0))
    assert(dead(3).isNegInfinity && dead(5) == 1.0 && dead(6) == 0.0)

    // undecodable
    assert(Pcm.statsKernel(null) == null)
    assert(Pcm.statsKernel(Array.empty[Byte]) == null)
    assert(Pcm.statsKernel(Array[Byte](7)) == null) // one stray byte
  }

  test("pcm_stats expression: codegen values equal kernel, null semantics") {
    val healthy = Pcm.encode(Pcm.synthSignal(16000, 100, 440.0, 0.2))
    val df = Seq(
      (1L, healthy), (2L, pcm(32767, -32768, 32767, -32768)),
      (3L, null.asInstanceOf[Array[Byte]]), (4L, Array[Byte](7))
    ).toDF("id", "bytes")
    val rows = df.select(col("id"),
        GraftFunctions.pcmStats(col("bytes")).as("st"))
      .select(col("id"), col("st.n_samples"), col("st.peak_abs"),
        col("st.rms"), col("st.clip_ratio"), col("st"))
      .orderBy("id").collect()
    val k = Pcm.statsKernel(healthy)
    assert(rows(0).getLong(1) == k(0).toLong && rows(0).getInt(2) == k(1).toInt)
    assert(rows(0).getDouble(3) == k(2))
    assert(rows(1).getDouble(4) == 1.0)
    assert(rows(2).isNullAt(5) && rows(3).isNullAt(5)) // null + undecodable
    val plan = df.select(GraftFunctions.pcmStats(col("bytes")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"expected native expression:\n$plan")
  }

  test("pcm_stats registers as a SQL function") {
    GraftFunctions.register(spark)
    val healthy = Pcm.encode(Pcm.synthSignal(8000, 80, 200.0, 0.0))
    Seq((1L, healthy)).toDF("id", "bytes").createOrReplaceTempView("aq_view")
    val r = spark.sql("SELECT pcm_stats(bytes).dbfs AS dbfs FROM aq_view").head()
    assert(r.getDouble(0) < 0.0 && r.getDouble(0) > -30.0)
    assert(r.getDouble(0) == Pcm.statsKernel(healthy)(3))
    assert(spark.sql("SELECT pcm_stats(NULL) AS st").head().isNullAt(0))
  }

  test("quality checks: clipped, dead and healthy clips classified") {
    val healthy = Pcm.encode(Pcm.synthSignal(16000, 200, 440.0, 0.1))
    // overdriven: amplitude 3x full scale, saturated at the rails
    val clipped = Pcm.encode(Pcm.synthSignal(16000, 200, 440.0, 0.1)
      .map(s => math.max(-32768, math.min(32767, s * 3)).toShort))
    val dead = Pcm.encode(Array.fill[Short](3200)(0))
    val df = Seq(
      ("ok", healthy), ("hot", clipped), ("dead", dead),
      ("null", null.asInstanceOf[Array[Byte]]), ("stray", Array[Byte](7))
    ).toDF("clip_id", "bytes")
    val outcomes = CheckCompiler.run(AudioQuality.withStats(df),
      AudioQuality.checks()).map(o => o.checkName -> o.rowsFailed).toMap
    assert(outcomes("audio_payload_decodable") == 1L) // stray only, not null
    assert(outcomes("audio_not_clipped") == 1L)       // hot
    assert(outcomes("audio_not_silent") == 1L)        // dead
    // evidence rows name the exact clips
    val ev = CheckCompiler.allViolations(AudioQuality.withStats(df),
        AudioQuality.checks(), Seq("clip_id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ev == Set(("stray", "audio_payload_decodable"),
      ("hot", "audio_not_clipped"), ("dead", "audio_not_silent")))
  }

  test("humKernel: DC offset and Goertzel mains-hum detection, clean signal clean") {
    val sr = 16000
    val clean = Pcm.synthSignal(sr, 400, 440.0, 0.0)
    val Array(dc0, hum0) = Pcm.humKernel(Pcm.encode(clean), sr)
    assert(math.abs(dc0) < 0.005, s"clean dc $dc0")
    assert(hum0 < 0.02, s"clean hum $hum0")
    // +8% FS bias
    val biased = clean.map(v => math.max(-32768, math.min(32767, v + 2621)).toShort)
    val Array(dcB, _) = Pcm.humKernel(Pcm.encode(biased), sr)
    assert(dcB > 0.06, s"biased dc $dcB")
    // 50 Hz hum at ~-11 dBFS mixed in
    val w = 2.0 * math.Pi * 50.0 / sr
    val hummed = clean.zipWithIndex.map { case (v, i) =>
      math.max(-32768, math.min(32767, v + (9000.0 * math.sin(w * i)).toInt)).toShort
    }
    val Array(_, humH) = Pcm.humKernel(Pcm.encode(hummed), sr)
    assert(humH > 0.2, s"hummed share $humH")
    // pure 50 Hz tone -> the mains bins carry (nearly) everything
    val pure = (0 until sr).map(i => (12000.0 * math.sin(w * i)).toShort).toArray
    val Array(_, humP) = Pcm.humKernel(Pcm.encode(pure), sr)
    assert(humP > 0.9, s"pure-tone share $humP")
    // silence -> (0, 0); undecodable / sub-Nyquist sr -> null
    assert(Pcm.humKernel(new Array[Byte](2000), sr).toSeq == Seq(0.0, 0.0))
    assert(Pcm.humKernel(Array[Byte](1), sr) == null)
    assert(Pcm.humKernel(Pcm.encode(clean), 100) == null)
  }

  test("pcm_hum rides the engine: fused == modular, dc/hum mutations caught") {
    import graft.runner.{ValidationConfig, ValidationSession}
    import graft.synth.{Mutations, Synth}
    import graft.checks.AudioChecks
    val ref = Synth.clipsRef(spark, 3, 60, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.humAudio(Mutations.dcOffsetAudio(ref, "p0000"), "p0001")
    val cfg = ValidationConfig(
      predicateChecks = AudioChecks.defaults ++ AudioQuality.humChecks())
    val sess = new ValidationSession(spark, cfg)
    def outcomes(r: graft.runner.ValidationReport): Map[String, (String, Long)] =
      r.outcomes.map(o => o.checkName -> (o.status, o.rowsFailed)).toMap
    val modular = outcomes(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fused = outcomes(sess.runFused(cand.toDF(), dim, ref.toDF()))
    assert(fused.keySet == modular.keySet)
    fused.foreach { case (k, v) => assert(v == modular(k), s"check $k") }
    assert(fused("audio_no_dc_offset") == (("FAIL", 1L)))
    assert(fused("audio_no_mains_hum")._2 == 1L)
    // the violation rows name the exact mutated clips
    val ev = sess.fusedViolations(cand.toDF(), dim, ref.toDF())
      .collect().map(r => (r.getAs[String]("check_name"), r.getAs[String]("part_id")))
      .toSet
    assert(ev.exists { case (c, p) => c == "audio_no_dc_offset" && p == "p0000" })
    assert(ev.exists { case (c, p) => c == "audio_no_mains_hum" && p == "p0001" })
    // SQL registration: pcm_hum is callable from pure SQL
    ref.toDF().limit(5).createOrReplaceTempView("hum_probe")
    val sqlRow = spark.sql(
      "SELECT pcm_hum(bytes, sr_hz).hum_ratio AS h FROM hum_probe").collect()
    assert(sqlRow.length == 5 && sqlRow.forall(!_.isNullAt(0)))
  }

  test("standalone quality checks ride the engine: fused == modular, " +
      "overdrive and silence mutations caught") {
    import graft.runner.{ValidationConfig, ValidationSession}
    import graft.synth.{Mutations, Synth}
    import graft.checks.AudioChecks
    val ref = Synth.clipsRef(spark, 3, 60, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.silenceAudio(
      Mutations.overdriveAudio(ref, "p0000"), "p0001")
    val cfg = ValidationConfig(
      predicateChecks = AudioChecks.defaults ++ AudioQuality.standaloneChecks())
    val sess = new ValidationSession(spark, cfg)
    def outcomes(r: graft.runner.ValidationReport): Map[String, (String, Long)] =
      r.outcomes.map(o => o.checkName -> (o.status, o.rowsFailed)).toMap
    val modular = outcomes(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fused = outcomes(sess.runFused(cand.toDF(), dim, ref.toDF()))
    assert(fused.keySet == modular.keySet)
    fused.foreach { case (k, v) => assert(v == modular(k), s"check $k") }
    assert(fused("audio_not_clipped") == (("FAIL", 1L)))
    assert(fused("audio_not_silent") == (("FAIL", 1L)))
    assert(fused("audio_payload_decodable") == (("PASS", 0L)))
    assert(fused("pcm_allclose")._1 == "FAIL") // byte corruption breaks SNR too
    // evidence pass names the exact mutated clips under the quality checks
    val ev = sess.fusedViolations(cand.toDF(), dim, ref.toDF())
      .collect().map(r => (r.getAs[String]("check_name"), r.getAs[String]("clip_id")))
      .toSet
    val hot = ev.collect { case ("audio_not_clipped", id) => id }
    val dead = ev.collect { case ("audio_not_silent", id) => id }
    assert(hot.size == 1 && dead.size == 1 && hot != dead)
    ref.unpersist()
  }

  test("transcript checks ride the engine: fused == modular, " +
      "blank and stuffed transcripts caught") {
    import graft.runner.{ValidationConfig, ValidationSession}
    import graft.synth.{Mutations, Synth}
    import graft.checks.AudioChecks
    import graft.model.{Check, RuleGroup, Severity}
    val ref = Synth.clipsRef(spark, 3, 60, maxAudioMs = 400).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val cand = Mutations.stuffTranscript(
      Mutations.blankTranscript(ref, "p0000"), "p0001")
    // transcript/audio pairing as two ordinary predicate checks: a speaking
    // rate (trimmed chars per second) outside [1, 500], and an empty
    // transcript on a clip of at least 150 ms
    val chars = length(trim($"transcript"))
    val cps = chars.cast("double") * lit(1000.0) / $"dur_ms".cast("double")
    val transcriptChecks = Seq(
      Check("transcript_rate_plausible", RuleGroup.OutOfRange, Severity.Warning,
        $"transcript".isNotNull && chars > 0 && $"dur_ms".isNotNull && $"dur_ms" > 0 &&
          (cps < 1.0 || cps > 500.0),
        "speaking rate must stay in [1, 500] chars/sec"),
      Check("transcript_nonempty_for_speech", RuleGroup.MissingValues, Severity.Warning,
        $"dur_ms".isNotNull && $"dur_ms" >= 150 && $"transcript".isNotNull && chars === 0,
        "clips >= 150ms must carry a non-empty transcript"))
    val cfg = ValidationConfig(predicateChecks = AudioChecks.defaults ++ transcriptChecks)
    val sess = new ValidationSession(spark, cfg)
    def outcomes(r: graft.runner.ValidationReport): Map[String, (String, Long)] =
      r.outcomes.map(o => o.checkName -> (o.status, o.rowsFailed)).toMap
    val modular = outcomes(sess.run(cand.toDF(), dim, Some(ref.toDF())))
    val fused = outcomes(sess.runFused(cand.toDF(), dim, ref.toDF()))
    assert(fused.keySet == modular.keySet)
    fused.foreach { case (k, v) => assert(v == modular(k), s"check $k") }
    // clean clips never trip the rate bounds (synth cps ~ 27-220 chars/s);
    // the two transcript faults are WARN (severity Warning -> run proceeds)
    assert(fused("transcript_rate_plausible") == (("WARN", 1L)))
    assert(fused("transcript_nonempty_for_speech") == (("WARN", 1L)))
    // an EMPTY transcript passes transcript_not_null (the null check) —
    // exactly the gap the new presence check closes
    assert(fused("transcript_not_null") == (("PASS", 0L)))
    // evidence pass names the exact mutated clips under the new checks
    val ev = sess.fusedViolations(cand.toDF(), dim, ref.toDF())
      .collect().map(r => (r.getAs[String]("check_name"), r.getAs[String]("part_id")))
      .toSet
    assert(ev.exists { case (c, p) => c == "transcript_nonempty_for_speech" && p == "p0000" })
    assert(ev.exists { case (c, p) => c == "transcript_rate_plausible" && p == "p0001" })
    ref.unpersist()
  }
}
