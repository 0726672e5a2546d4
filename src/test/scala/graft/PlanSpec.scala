package graft

import org.apache.spark.sql.functions._
import graft.checks.{AudioChecks, CheckCompiler, Referential}
import graft.model.{Check, RuleGroup, Severity}
import graft.synth.Synth

/** Physical-plan assertions — the "is this the plan you'd want at 100 TB"
  * guarantees, locked in as tests:
  *  - dimension side of referential checks is BROADCAST (no fact shuffle);
  *  - predicate scans PRUNE the heavy bytes column when no check needs it;
  *  - filters REACH the parquet scan (PushedFilters);
  *  - joins on bucketed tables are SHUFFLE-FREE.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val tmpDir =
    java.nio.file.Files.createTempDirectory("graft-plan").toString

  test("referential orphan check broadcasts the dimension side") {
    val clips = Synth.clipsRef(spark, 2, 50, maxAudioMs = 300).toDF()
    val dim = Synth.dimCodec(spark).toDF()
    val p = plan(Referential.orphans(clips, dim, Seq("codec"), Seq("codec")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim side must not sort-merge")
  }

  test("predicate scan prunes bytes when no check references it") {
    val path = s"$tmpDir/clips_prune"
    Synth.clipsRef(spark, 2, 50, maxAudioMs = 300).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val noBytesChecks = AudioChecks.defaults.filterNot(c =>
      Seq("bytes_not_null", "bytes_length_consistent").contains(c.name))
    val agg = df.agg(noBytesChecks.map(c =>
      sum(when(c.violation, 1L).otherwise(0L)).as(c.name)).head,
      noBytesChecks.tail.map(c => sum(when(c.violation, 1L).otherwise(0L)).as(c.name)): _*)
    val p = plan(agg)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!readSchema.contains("bytes"), s"bytes not pruned: $readSchema")
  }

  test("partition-key filter is pushed to the parquet scan") {
    val path = s"$tmpDir/clips_push"
    Synth.clipsRef(spark, 2, 50, maxAudioMs = 300).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path).filter(col("part_id") === "p0000")
      .select("clip_id", "dur_ms")
    val p = plan(df)
    assert(p.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*part_id".r.findFirstIn(p).isDefined,
      s"filter not pushed:\n${p.take(2000)}")
  }

  test("join on bucketed tables is shuffle-free (storage-partitioned shape)") {
    val s = spark
    val path = s"$tmpDir/clips_bucketed"
    Synth.clipsRef(s, 2, 100, maxAudioMs = 300).toDF()
      .write.mode("overwrite")
      .bucketBy(4, "part_id", "clip_id").sortBy("part_id", "clip_id")
      .option("path", path).saveAsTable("plan_spec_clips")
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the non-broadcast path: at real scale both sides are huge and
      // the question is whether the SMJ needs a shuffle (it must not)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = s.table("plan_spec_clips")
      val joined = t.select("part_id", "clip_id", "dur_ms")
        .join(t.select(col("part_id"), col("clip_id"), col("dur_ms").as("d2")),
          Seq("part_id", "clip_id"))
      val p = plan(joined)
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected merge join:\n$p")
      assert(p.contains("Bucketed: true"), s"scan must use bucketing:\n$p")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS plan_spec_clips"); ()
    }
  }

  test("mart KPI plan broadcasts the customer dimension") {
    val s = spark; import s.implicits._
    val orders = Seq((1L, 10L, "F", 100.0,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val lineitem = Seq((1L, 7L, 10.0, 0.0, "N",
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 100.0))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_discount",
        "l_returnflag", "l_shipdate", "l_extendedprice")
    val customer = Seq((10L, "AUTO")).toDF("c_custkey", "c_mktsegment")
    val p = plan(graft.mart.Mart.orderSeasonKpi(orders, lineitem, customer))
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    // the exact distinct is two-phase: a countDistinct mixed into the main
    // aggregate would plan an Expand that doubles every enriched row
    // through the shuffle
    assert(!p.contains("Expand"), s"countDistinct Expand in mart KPI plan:\n$p")
  }

  test("schema-check rules compile into ONE scan (no per-rule jobs)") {
    import org.apache.spark.sql.types._
    val s = spark; import s.implicits._
    val df = Seq(("1", "ab", Seq("x"))).toDF("id", "name", "tags")
    val spec = graft.checks.SchemaSpec(Seq(
      graft.checks.FieldSpec("id", IntegerType),
      graft.checks.FieldSpec("name", StringType, minLength = Some(2)),
      graft.checks.FieldSpec("tags", ArrayType(StringType), minItems = Some(1))))
    val checks = graft.checks.SchemaCheck.compile(df, spec)
    assert(checks.size >= 5)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    CheckCompiler.run(df, checks)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after - before <= 2, s"schema rules must share one scan, saw ${after - before} jobs")
  }

  test("single-pass pivot: N predicate checks produce exactly one aggregate job") {
    val clips = Synth.clipsRef(spark, 2, 50, maxAudioMs = 300).toDF()
    val checks = Seq(
      Check("a", RuleGroup.MissingValues, Severity.Error, col("clip_id").isNull),
      Check("b", RuleGroup.OutOfRange, Severity.Error, col("dur_ms") < 0))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    CheckCompiler.run(clips, checks)
    // one action; Spark may add 0 trailing jobs for an agg over a local DS
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after - before <= 2, s"expected a single-pass agg, saw ${after - before} jobs")
  }

  test("fused evidence pass decodes PCM once per joined row") {
    val ref = Synth.clipsRef(spark, 2, 50, maxAudioMs = 300).toDF()
    val dim = Synth.dimCodec(spark).toDF()
    val ev = new graft.runner.ValidationSession(spark).fusedViolations(ref, dim, ref)
    val optimized = ev.queryExecution.optimizedPlan.toString
    assert("pcm_snr\\(".r.findAllIn(optimized).size == 1, s"expected one pcm_snr call in:\n$optimized")
  }
}
