package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.checks.{CheckCompiler, Uniqueness}
import graft.model.{Check, RuleGroup, Severity}

/** ScalaCheck properties over the check algebra (SURVEY §5). Each property
  * runs real Spark jobs, so generators are kept small and minSuccessful low;
  * the point is the INVARIANT, not the sample count.
  */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, n: Int = 10): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: injected duplicate keys == duplicateKeys verdict count") {
    val s = spark; import s.implicits._
    val gen = for {
      nUnique <- Gen.choose(5, 60)
      nDup <- Gen.choose(0, 10)
      dupKeys <- Gen.pick(math.min(nDup, nUnique), 0 until nUnique)
    } yield (nUnique, dupKeys.toSeq)
    check(Prop.forAll(gen) { case (nUnique, dupKeys) =>
      val rows = (0 until nUnique).map(_.toLong) ++ dupKeys.map(_.toLong)
      val df = rows.toDF("k")
      val found = Uniqueness.duplicateKeys(df, Seq("k")).count()
      val foundSalted = Uniqueness.duplicateKeysSalted(df, Seq("k")).count()
      found == dupKeys.distinct.size.toLong && foundSalted == found
    })
  }

  test("property: violations ∪ passing == table for any threshold predicate") {
    val s = spark; import s.implicits._
    val gen = for {
      n <- Gen.choose(1, 80)
      values <- Gen.listOfN(n, Gen.choose(-1000, 1000))
      threshold <- Gen.choose(-1000, 1000)
    } yield (values, threshold)
    check(Prop.forAll(gen) { case (values, threshold) =>
      val df = values.map(_.toLong).toDF("v")
      val c = Check("v_range", RuleGroup.OutOfRange, Severity.Error,
        col("v") > threshold)
      val verdict = CheckCompiler.run(df, Seq(c)).head
      val violating = CheckCompiler.violations(df, c, Seq("v")).count()
      val passing = df.filter(!c.violation).count()
      verdict.rowsFailed == violating &&
        violating + passing == values.size.toLong &&
        violating == values.count(_ > threshold).toLong
    })
  }

  test("property: fused evidence rows == union of modular violation sets") {
    import graft.runner.{ValidationConfig, ValidationSession}
    import graft.synth.{Mutations, Synth}
    val ref = Synth.clipsRef(spark, 2, 40, maxAudioMs = 200).cache()
    val dim = Synth.dimCodec(spark).toDF()
    val allMutations: Seq[(String, org.apache.spark.sql.Dataset[graft.model.AudioClip] =>
        org.apache.spark.sql.Dataset[graft.model.AudioClip])] = Seq(
      ("dup", Mutations.duplicateFirst(_, "p0000")),
      ("codec", Mutations.unknownCodec(_, "p0001")),
      ("dur", Mutations.durOutOfRange(_, "p0000")),
      ("audio", Mutations.corruptAudio(_, "p0001")),
      ("drop", Mutations.dropRow(_, "p0000")),
      ("extra", Mutations.extraRow(_, "p0001")),
      ("transcript", Mutations.editTranscript(_, "p0000")))
    val gen = Gen.someOf(allMutations)
    val sess = new ValidationSession(spark, ValidationConfig())
    check(Prop.forAll(gen) { muts =>
      val cand = muts.foldLeft(ref)((d, m) => m._2(d)).toDF()
      // fused single-scan evidence: set of (clip_id, check_name), minus the
      // group-level uniqueness check which has no fused row form
      val fused = sess.fusedViolations(cand, dim, ref.toDF())
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      // modular twins: per-check violation plans + reconcile row sets +
      // row-invariant rows
      val preds = graft.checks.AudioChecks.defaults
      val predRows = CheckCompiler.allViolations(cand, preds, Seq("clip_id"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val fkRows = graft.checks.Referential.orphans(cand, dim,
          Seq("codec"), Seq("codec"))
        .select("clip_id").collect().map(r => (r.getString(0), "codec_fk")).toSet
      val missing = graft.checks.Reconcile.missing(ref.toDF(), cand,
          Seq("part_id", "clip_id"))
        .select("clip_id").collect()
        .map(r => (r.getString(0), "clips_completeness")).toSet
      val extra = graft.checks.Reconcile.extra(ref.toDF(), cand,
          Seq("part_id", "clip_id"))
        .select("clip_id").collect()
        .map(r => (r.getString(0), "clips_exclusivity")).toSet
      val inv = graft.checks.RowInvariant.violations(ref.toDF(), cand)
        .collect().flatMap { r =>
          val id = r.getString(1)
          (if (!r.getBoolean(3)) Seq((id, "pcm_allclose")) else Nil) ++
            (if (!r.getBoolean(4)) Seq((id, "transcript_equality")) else Nil)
        }.toSet
      fused == (predRows ++ fkRows ++ missing ++ extra ++ inv)
    }, n = 8)
    ref.unpersist()
    ()
  }

  private def kllQuantiles(values: Seq[Double], qs: Seq[Double]): Seq[Double] = {
    val s = spark; import s.implicits._
    values.toDF("v")
      .agg(kll_sketch_get_quantile_double(kll_sketch_agg_double(col("v")),
        array(qs.map(lit): _*)))
      .head().getSeq[Double](0)
  }

  test("property: KLL quantiles bounded by min/max and ordered in q") {
    val gen = for {
      n <- Gen.choose(2, 500)
      values <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
    } yield values
    check(Prop.forAll(gen) { values =>
      val est = kllQuantiles(values, Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      val lo = values.min; val hi = values.max
      est.forall(e => e >= lo && e <= hi) &&
        est.zip(est.tail).forall { case (a, b) => a <= b }
    }, n = 30)
  }

  test("property: KLL median within tight rank error of exact") {
    val gen = for {
      n <- Gen.choose(50, 400)
      values <- Gen.listOfN(n, Gen.choose(0.0, 1e4))
    } yield values
    check(Prop.forAll(gen) { values =>
      val est = kllQuantiles(values, Seq(0.5)).head
      // the estimate's rank sits within 2ε of the true median rank
      ApproxBoundsSpec.rankError(values.toArray.sorted, 0.5, est) <=
        2 * ApproxBoundsSpec.Eps
    }, n = 20)
  }
}
