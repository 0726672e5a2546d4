package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.model._

/** Signal-level audio quality validation — the checks a speech/training
  * corpus needs BEYOND metadata predicates: clipping, silence, loudness.
  * The reference validates payload STRUCTURE (`validators/api_source.py`
  * shape checks); for audio the payload is signal, so the checkable
  * structure is its statistics.
  *
  * Design for scale: ONE `pcm_stats` struct column (a single fused
  * decode+accumulate pass per row, native codegen —
  * [[graft.functions.PcmStats]]) feeds every quality predicate as a cheap
  * field read. The predicates then ride the same single-scan C16 pivot as
  * all other checks ([[CheckCompiler.run]]): adding quality checks to a
  * validation run costs one decode per row total, not one per check.
  */
object AudioQuality {

  /** Name of the attached stats struct column. */
  val StatsCol = "__pcm_stats"

  /** Attach the one-pass quality struct; every [[checks]] predicate reads
    * its fields.
    */
  def withStats(df: DataFrame, bytesCol: String = "bytes"): DataFrame =
    df.withColumn(StatsCol, GraftFunctions.pcmStats(col(bytesCol)))

  /** Quality rule set over [[withStats]] output. Null-struct rows (null
    * payload) make every field predicate null → not counted; the
    * decodability check owns non-null-but-undecodable payloads and
    * bytes_not_null (AudioChecks.defaults) owns nulls.
    *
    * Default gates: ≤0.1% clipped samples (steady-state clipping, not a
    * single transient), mean level above −50 dBFS AND under half the
    * samples silent (a clip can be quiet OR sparse, but not both dead).
    */
  def checks(maxClipRatio: Double = 0.001,
             minDbfs: Double = -50.0,
             maxSilenceRatio: Double = 0.5): Seq[Check] = Seq(
    Check("audio_payload_decodable", RuleGroup.SchemaMismatch, Severity.Error,
      col("bytes").isNotNull && col(StatsCol).isNull,
      "payload present but carries no decodable PCM16 sample"),
    Check("audio_not_clipped", RuleGroup.OutOfRange, Severity.Error,
      col(s"$StatsCol.clip_ratio") > maxClipRatio,
      s"clipped-sample ratio must stay <= $maxClipRatio"),
    Check("audio_not_silent", RuleGroup.OutOfRange, Severity.Error,
      col(s"$StatsCol.dbfs") < minDbfs &&
        col(s"$StatsCol.silence_ratio") > maxSilenceRatio,
      s"clip must not be digitally dead (level < $minDbfs dBFS and more " +
        s"than ${(maxSilenceRatio * 100).toInt}% silent samples)"))

  /** Self-contained variants of [[checks]] for the validation engine's
    * `ValidationConfig.predicateChecks`: each predicate embeds its own
    * `pcm_stats(bytes)` struct, so they need no schema preparation and
    * ride every engine path (modular suites, fused verdict aggregate,
    * grouped resumable, fused violation tags) as ordinary predicate
    * checks — config enable/severity-override included. Spark's
    * aggregate-level subexpression elimination typically dedupes the
    * repeated struct; when it doesn't, the worst case is one decode per
    * quality check, and the guaranteed-single-decode form remains
    * [[withStats]] + [[checks]].
    */
  def standaloneChecks(maxClipRatio: Double = 0.001,
                       minDbfs: Double = -50.0,
                       maxSilenceRatio: Double = 0.5,
                       bytesCol: String = "bytes"): Seq[Check] = {
    val st = GraftFunctions.pcmStats(col(bytesCol))
    Seq(
      Check("audio_payload_decodable", RuleGroup.SchemaMismatch, Severity.Error,
        col(bytesCol).isNotNull && st.isNull,
        "payload present but carries no decodable PCM16 sample"),
      Check("audio_not_clipped", RuleGroup.OutOfRange, Severity.Error,
        st.getField("clip_ratio") > maxClipRatio,
        s"clipped-sample ratio must stay <= $maxClipRatio"),
      Check("audio_not_silent", RuleGroup.OutOfRange, Severity.Error,
        st.getField("dbfs") < minDbfs &&
          st.getField("silence_ratio") > maxSilenceRatio,
        s"clip must not be digitally dead (level < $minDbfs dBFS and more " +
          s"than ${(maxSilenceRatio * 100).toInt}% silent samples)"))
  }

  /** Recording-chain-fault checks over [[graft.functions.PcmHum]]
    * (`pcm_hum(bytes, sr_hz)` — DC offset + Goertzel 50/60 Hz mains-hum
    * share, one fused decode per row): a biased ADC shows as |dc_ratio|
    * above a few percent; a ground-loop hum shows as the mains bins
    * carrying an outsized share of total energy. Ordinary predicate
    * checks — they ride every engine path like [[standaloneChecks]].
    */
  def humChecks(maxDcRatio: Double = 0.02,
                maxHumRatio: Double = 0.2,
                bytesCol: String = "bytes",
                srCol: String = "sr_hz"): Seq[Check] = {
    val h = GraftFunctions.pcmHum(col(bytesCol), col(srCol))
    Seq(
      Check("audio_no_dc_offset", RuleGroup.OutOfRange, Severity.Error,
        abs(h.getField("dc_ratio")) > maxDcRatio,
        s"signed DC offset share must stay within ±$maxDcRatio"),
      Check("audio_no_mains_hum", RuleGroup.OutOfRange, Severity.Warning,
        h.getField("hum_ratio") > maxHumRatio,
        s"50/60 Hz mains bins must carry <= ${(maxHumRatio * 100).toInt}% " +
          "of total energy"))
  }
}
