package graft.synth

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{AudioClip, CodecDim}
import graft.audio.Pcm

/** Deterministic, distributed synthetic-data generator for the audio
  * validation engine. No `Math.random` — every value derives from
  * splitmix64 over (partId, rowIdx), so expected violation rows are stable
  * (the reference seeds its mutators with `run_id:layer:kind:action`,
  * `src/app2/mutators/stg_mutations.py:107`).
  *
  * Generation is `spark.range(...)` → `map`, so it scales to any row count
  * without driver-side materialization.
  */
object Synth {

  val Codecs: Seq[CodecDim] = Seq(
    CodecDim("pcm_s16le", "lossless", 192000),
    CodecDim("flac", "lossless", 192000),
    CodecDim("opus", "lossy", 48000),
    CodecDim("mp3", "lossy", 48000),
    CodecDim("aac", "lossy", 96000),
    CodecDim("vorbis", "lossy", 48000))

  val SampleRates: Array[Int] = Array(8000, 16000, 22050, 24000, 44100, 48000)

  private val Words: Array[String] =
    ("the quick brown fox jumps over lazy dog audio clip speech transcript " +
      "validation engine spark scala partition codec sample rate duration " +
      "signal noise ratio check verdict lineage").split(" ")

  /** splitmix64 — public-domain mixing function (Steele et al., JDK
    * SplittableRandom). Deterministic, splittable by construction.
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform [0,1) from a seed chain position. */
  private def unit(seed: Long, stream: Long): Double =
    ((mix64(seed * 1000003L + stream) >>> 11).toDouble) / (1L << 53).toDouble

  /** Build one clip deterministically from its global row index. */
  def clipAt(i: Long, numParts: Int, rowsPerPart: Long, maxAudioMs: Int): AudioClip = {
    val partIdx = i / rowsPerPart
    val partId = f"p$partIdx%04d"
    val seed = mix64(i)
    // sr_hz skewed: ~70% on 16000 (hot key per north rule)
    val srHz =
      if (unit(seed, 1) < 0.70) 16000
      else SampleRates((unit(seed, 2) * SampleRates.length).toInt.min(SampleRates.length - 1))
    // codec skewed: ~60% opus
    val codec =
      if (unit(seed, 3) < 0.60) "opus"
      else Codecs((unit(seed, 4) * Codecs.length).toInt.min(Codecs.length - 1)).codec
    val durMs = 200 + (unit(seed, 5) * (maxAudioMs - 200)).toInt
    val freq = 80.0 + unit(seed, 6) * 3000.0
    val phase = unit(seed, 7) * 2.0 * math.Pi
    val bytes = Pcm.encode(Pcm.synthSignal(srHz, durMs, freq, phase))
    val nWords = 3 + (durMs / 900)
    val sb = new StringBuilder
    var w = 0
    while (w < nWords) {
      if (w > 0) sb.append(' ')
      sb.append(Words((unit(seed, 100 + w) * Words.length).toInt.min(Words.length - 1)))
      w += 1
    }
    AudioClip(partId, f"clip_$i%012d", bytes, srHz, durMs, codec, sb.toString)
  }

  /** The reference ("ground truth") clips table — `clips_ref` in FIXTURES.md.
    * maxAudioMs kept small in tests so bytes stay cheap; the schema and the
    * plan shape are identical at any duration.
    */
  def clipsRef(spark: SparkSession, numParts: Int, rowsPerPart: Long,
               maxAudioMs: Int = 2000): Dataset[AudioClip] = {
    import spark.implicits._
    spark.range(0L, numParts * rowsPerPart, 1L, numParts)
      .map(i => clipAt(i, numParts, rowsPerPart, maxAudioMs))
  }

  def dimCodec(spark: SparkSession): Dataset[CodecDim] = {
    import spark.implicits._
    spark.createDataset(Codecs)
  }

  /** ±1-LSB perturbation of every 8th sample: SNR ≈ 87 dB vs the original —
    * far above the 30 dB allclose gate, so validation still PASSes, but the
    * bytes differ so the row-invariant's equality short-circuit can't skip
    * the real decode+SNR computation. Used by the bench candidate table.
    */
  def lsbNoise(bytes: Array[Byte]): Array[Byte] = {
    val s = Pcm.decode(bytes)
    var i = 0
    while (i < s.length) {
      if (s(i) < Short.MaxValue) s(i) = (s(i) + 1).toShort
      i += 8
    }
    Pcm.encode(s)
  }

  /** Generator whose OUTPUT partitioning already matches a bucketed write on
    * (part_id, clip_id): only (idx, part_id, clip_id) — a few bytes per row —
    * cross the repartition shuffle; the heavy `bytes` payload is synthesized
    * AFTER the shuffle from the deterministic row index. Writing the result
    * with `bucketBy(buckets, part_id, clip_id)` then yields exactly one file
    * per bucket with zero payload shuffle.
    */
  def clipsBucketAligned(spark: SparkSession, numParts: Int, rowsPerPart: Long,
                         buckets: Int, maxAudioMs: Int,
                         noise: Boolean = false): Dataset[AudioClip] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.range(0L, numParts * rowsPerPart, 1L, buckets)
      .map { i =>
        val partIdx = i / rowsPerPart
        (i, f"p$partIdx%04d", f"clip_$i%012d")
      }
      .toDF("idx", "part_id", "clip_id")
      .repartition(buckets, col("part_id"), col("clip_id"))
      .as[(Long, String, String)]
      .map { case (i, _, _) =>
        val c = clipAt(i, numParts, rowsPerPart, maxAudioMs)
        if (noise) c.copy(bytes = lsbNoise(c.bytes)) else c
      }
  }
}

/** Test-scope fault injectors — ports of the reference mutation catalog
  * (`src/app2/mutators/stg_mutations.py`, `dds_mutations.py`) to Dataset
  * transformations. Each is deterministic given (partId) and targets the
  * FIRST clip of the partition, like the reference's `duplicate_first` /
  * `drop_required` mutating the first element.
  */
object Mutations {
  import org.apache.spark.sql.functions._

  private def firstClipId(ds: Dataset[AudioClip], partId: String): String = {
    val cid = ds.filter(col("part_id") === partId)
      .agg(min(col("clip_id"))).head().getString(0)
    // a mutation aimed at a partition with no rows would silently no-op and
    // make an expect-FAIL experiment read SUCCESS — refuse loudly instead
    require(cid != null, s"mutation target partition '$partId' has no rows")
    cid
  }

  /** duplicate_first (`stg_mutations.py:36-38`): re-append the first clip. */
  def duplicateFirst(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    val dup = ds.filter($"part_id" === partId && $"clip_id" === cid)
    ds.unionAll(dup)
  }

  /** drop_required (`stg_mutations.py:39-45`): null out clip_id + transcript. */
  def dropRequired(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map { c =>
      if (c.part_id == partId && c.clip_id == cid)
        c.copy(clip_id = null, transcript = null)
      else c
    }
  }

  /** corrupt_id analogue (`stg_mutations.py:46-49`): sr_hz → negative junk. */
  def corruptType(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map(c => if (c.part_id == partId && c.clip_id == cid) c.copy(sr_hz = -1) else c)
  }

  /** matchday_out_of_range analogue (`stg_mutations.py:50-53`): dur_ms → 1e9. */
  def durOutOfRange(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map(c => if (c.part_id == partId && c.clip_id == cid) c.copy(dur_ms = 1000000000) else c)
  }

  /** DDS 'MUTATED' status analogue (`dds_mutations.py:98-104`): unknown codec. */
  def unknownCodec(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map(c => if (c.part_id == partId && c.clip_id == cid) c.copy(codec = "MUTATED") else c)
  }

  /** DDS insert-extra-row analogue (`dds_mutations.py:93-104`). */
  def extraRow(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val extra = AudioClip(partId, "clip_999999000001",
      Pcm.encode(Pcm.synthSignal(16000, 300, 440.0, 0.0)), 16000, 300, "opus", "extra row")
    ds.unionAll(spark.createDataset(Seq(extra)))
  }

  /** source-completeness inverse (`matches_source.py:18-39`): drop a ref row. */
  def dropRow(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.filter(!($"part_id" === partId && $"clip_id" === cid))
  }

  /** swap_teams silent-corruption analogue (`stg_mutations.py:54-92`):
    * perturb bytes well beyond 30 dB SNR (invert + clip the signal).
    */
  def corruptAudio(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map { c =>
      if (c.part_id == partId && c.clip_id == cid) {
        val s = Pcm.decode(c.bytes).map(v => (-v / 3).toShort)
        c.copy(bytes = Pcm.encode(s))
      } else c
    }
  }

  /** Quality-fault injector: overdrive one clip's signal 3x into the
    * int16 rails — a steadily CLIPPED recording
    * ([[graft.checks.AudioQuality]] audio_not_clipped; also breaks the
    * 30 dB SNR row invariant, like any byte corruption).
    */
  def overdriveAudio(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map { c =>
      if (c.part_id == partId && c.clip_id == cid) {
        val s = Pcm.decode(c.bytes)
          .map(v => math.max(-32768, math.min(32767, v * 3)).toShort)
        c.copy(bytes = Pcm.encode(s))
      } else c
    }
  }

  /** Recording-chain-fault injector: bias one clip's samples by a constant
    * +8% of full scale (a stuck-ADC/bad-int-conversion DC offset). Rails
    * clamp keeps the payload valid PCM16; the
    * [[graft.checks.AudioQuality.humChecks]] audio_no_dc_offset gate (and
    * the SNR invariant) catch it.
    */
  def dcOffsetAudio(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map { c =>
      if (c.part_id == partId && c.clip_id == cid) {
        val s = Pcm.decode(c.bytes)
          .map(v => math.max(-32768, math.min(32767, v + 2621)).toShort)
        c.copy(bytes = Pcm.encode(s))
      } else c
    }
  }

  /** Recording-chain-fault injector: mix a 50 Hz mains-hum sine at ~-11
    * dBFS into one clip (a ground loop). Caught by the audio_no_mains_hum
    * Goertzel gate ([[graft.checks.AudioQuality.humChecks]]).
    */
  def humAudio(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map { c =>
      if (c.part_id == partId && c.clip_id == cid) {
        val s = Pcm.decode(c.bytes)
        val w = 2.0 * math.Pi * 50.0 / c.sr_hz
        val out = new Array[Short](s.length)
        var i = 0
        while (i < s.length) {
          val v = s(i) + (9000.0 * math.sin(w * i)).toInt
          out(i) = math.max(-32768, math.min(32767, v)).toShort
          i += 1
        }
        c.copy(bytes = Pcm.encode(out))
      } else c
    }
  }

  /** Quality-fault injector: replace one clip's signal with digital
    * silence of the SAME length (length-consistency still holds — only the
    * audio_not_silent quality gate and the SNR invariant catch it).
    */
  def silenceAudio(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map { c =>
      if (c.part_id == partId && c.clip_id == cid)
        c.copy(bytes = new Array[Byte](c.bytes.length))
      else c
    }
  }

  /** dim-rename analogue (`dds_mutations.py:135-152`): edit one transcript. */
  def editTranscript(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map(c => if (c.part_id == partId && c.clip_id == cid) c.copy(transcript = c.transcript + " EDITED") else c)
  }

  /** Transcript-pairing fault: blank one clip's transcript to the EMPTY
    * string (not null — slips past `transcript_not_null`; caught by
    * `transcript_equality` against the reference).
    */
  def blankTranscript(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map(c => if (c.part_id == partId && c.clip_id == cid) c.copy(transcript = "") else c)
  }

  /** Transcript-pairing fault: stuff one clip's transcript to ~500× its
    * length, the concatenated-upload shape (caught by
    * `transcript_equality` against the reference).
    */
  def stuffTranscript(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val cid = firstClipId(ds, partId)
    ds.map(c => if (c.part_id == partId && c.clip_id == cid)
      c.copy(transcript = Seq.fill(500)(c.transcript).mkString(" ")) else c)
  }

  /** north-star drift mutation: shift dur_ms distribution of a partition. */
  def shiftDistribution(ds: Dataset[AudioClip], partId: String): Dataset[AudioClip] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(c => if (c.part_id == partId) c.copy(dur_ms = c.dur_ms + 8000) else c)
  }
}
