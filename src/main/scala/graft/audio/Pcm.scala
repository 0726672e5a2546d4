package graft.audio

import java.nio.{ByteBuffer, ByteOrder}

/** Hand-rolled PCM16 little-endian codec + SNR math — zero external deps.
  *
  * The synthetic `bytes` column is PCM16LE mono. The per-row invariant from
  * `BASELINE.json` input_hint is "decoded-PCM allclose (SNR >= 30 dB)" vs the
  * reference row; this module supplies decode + SNR. (The reference repo has
  * no audio; its analogous per-row equality is payload equality between
  * staging copies, `src/app2/experiments/stg_copy.py:47-97`.)
  */
object Pcm {

  /** Encode int16 samples as little-endian PCM bytes. */
  def encode(samples: Array[Short]): Array[Byte] = {
    val bb = ByteBuffer.allocate(samples.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Decode little-endian PCM16 bytes to int16 samples (truncates odd tail). */
  def decode(bytes: Array[Byte]): Array[Short] = {
    val n = bytes.length / 2
    val out = new Array[Short](n)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { out(i) = bb.getShort(i * 2); i += 1 }
    out
  }

  /** Deterministic sine+harmonic test signal, int16, amplitude < 0.5 FS. */
  def synthSignal(srHz: Int, durMs: Int, freqHz: Double, phase: Double): Array[Short] = {
    val n = (srHz.toLong * durMs / 1000L).toInt
    val out = new Array[Short](n)
    val w = 2.0 * math.Pi * freqHz / srHz
    var i = 0
    while (i < n) {
      val v = 0.35 * math.sin(w * i + phase) + 0.12 * math.sin(2.5 * w * i)
      out(i) = (v * 32767.0).toShort
      i += 1
    }
    out
  }

  /** SNR in dB of candidate vs reference PCM. Identical signals → +Inf.
    * Length mismatch or empty reference → -Inf (always a violation).
    */
  def snrDb(ref: Array[Short], cand: Array[Short]): Double = {
    if (ref.length != cand.length || ref.length == 0) return Double.NegativeInfinity
    var sig = 0.0
    var noise = 0.0
    var i = 0
    while (i < ref.length) {
      val r = ref(i).toDouble
      val d = r - cand(i).toDouble
      sig += r * r
      noise += d * d
      i += 1
    }
    if (noise == 0.0) Double.PositiveInfinity
    else if (sig == 0.0) Double.NegativeInfinity
    else 10.0 * math.log10(sig / noise)
  }

  /** SNR over raw byte payloads (decodes both sides). */
  def snrDbBytes(ref: Array[Byte], cand: Array[Byte]): Double = {
    if (ref == null || cand == null) Double.NegativeInfinity
    else snrDb(decode(ref), decode(cand))
  }

  /** SNR straight off the byte payloads — decode fused into the accumulation
    * loop, no intermediate short[] allocations (two fewer allocations + two
    * fewer passes per row on the engine's hottest path). Bit-identical to
    * [[snrDbBytes]]: the same int16 sample values (little-endian, odd tail
    * byte truncated) accumulated in the same order. Called from
    * whole-stage-generated Java ([[graft.functions.PcmSnr]]), so it must
    * stay a static-forwardable object method with no overloads.
    */
  def snrDbBytesDirect(ref: Array[Byte], cand: Array[Byte]): Double = {
    if (ref == null || cand == null) return Double.NegativeInfinity
    val n = ref.length / 2
    if (n != cand.length / 2 || n == 0) return Double.NegativeInfinity
    var sig = 0.0
    var noise = 0.0
    var i = 0
    while (i < n) {
      val r = (((ref(2 * i) & 0xFF) | (ref(2 * i + 1) << 8)).toShort).toDouble
      val c = (((cand(2 * i) & 0xFF) | (cand(2 * i + 1) << 8)).toShort).toDouble
      val d = r - c
      sig += r * r
      noise += d * d
      i += 1
    }
    if (noise == 0.0) Double.PositiveInfinity
    else if (sig == 0.0) Double.NegativeInfinity
    else 10.0 * math.log10(sig / noise)
  }

  /** |sample| at-or-above this counts as clipped (int16 full scale is
    * -32768..32767; a recording driven into the rail saturates at ±FS).
    */
  val ClipThreshold: Int = 32767

  /** |sample| at-or-below this counts as silence: 327 = floor of
    * 32768·10^(−40/20), i.e. −40 dBFS — the standard "digital silence"
    * gate for speech material.
    */
  val SilenceThreshold: Int = 327

  /** Per-payload audio quality metrics in ONE fused decode+accumulate pass
    * (no intermediate short[]): the audio-domain analogue of the
    * reference's per-payload shape checks (`validators/api_source.py`
    * validates payload structure; here the payload IS signal, so the
    * checkable structure is its signal statistics).
    *
    * Returns null for a null or sample-less payload (callers flag that via
    * a dedicated decodability check). Slot layout (see [[StatsSlots]]):
    * 0 n_samples, 1 peak_abs (0..32768), 2 rms, 3 dbfs (20·log10(rms/FS),
    * −∞ for all-zero), 4 clip_ratio (|s| ≥ [[ClipThreshold]]),
    * 5 silence_ratio (|s| ≤ [[SilenceThreshold]]), 6 zcr (sign changes
    * between consecutive NONZERO samples / (n−1) — zero runs don't count,
    * so pure silence has zcr 0, not an artifact of sign(0) conventions).
    */
  def statsKernel(bytes: Array[Byte]): Array[Double] = {
    if (bytes == null) return null
    val n = bytes.length / 2
    if (n == 0) return null
    var sumSq = 0.0
    var peak = 0
    var clipped = 0L
    var silent = 0L
    var crossings = 0L
    var prevSign = 0
    var i = 0
    while (i < n) {
      val s = (((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort).toInt
      val a = if (s < 0) -s else s // -(-32768) = 32768 fits in Int
      if (a > peak) peak = a
      if (a >= ClipThreshold) clipped += 1
      if (a <= SilenceThreshold) silent += 1
      sumSq += s.toDouble * s.toDouble
      if (s != 0) {
        val sign = if (s > 0) 1 else -1
        if (prevSign != 0 && sign != prevSign) crossings += 1
        prevSign = sign
      }
      i += 1
    }
    val rms = math.sqrt(sumSq / n)
    val dbfs =
      if (rms == 0.0) Double.NegativeInfinity
      else 20.0 * math.log10(rms / 32768.0)
    Array(n.toDouble, peak.toDouble, rms, dbfs,
      clipped.toDouble / n, silent.toDouble / n,
      if (n > 1) crossings.toDouble / (n - 1) else 0.0)
  }

  val StatsSlots: Seq[String] =
    Seq("n_samples", "peak_abs", "rms", "dbfs", "clip_ratio",
      "silence_ratio", "zcr")

  /** Recording-chain-fault kernel: DC offset + mains-hum share, one fused
    * decode pass ([[graft.functions.PcmHum]]).
    *
    *  - slot 0 `dc_ratio`  — mean sample value / 32768 (signed): a healthy
    *    AC-coupled recording sits at ~0; a biased ADC / botched int
    *    conversion shifts it.
    *  - slot 1 `hum_ratio` — energy share of the 50 Hz + 60 Hz mains bins,
    *    each measured with a GOERTZEL recurrence (the O(n)-per-frequency
    *    single-bin DFT — no FFT library needed, fully deterministic) and
    *    normalized so a pure tone at the bin reads ≈1.0:
    *    share_f = 2·p_f / (n · Σs²) with p_f the Goertzel magnitude².
    *
    * Returns null for undecodable payloads or a sample rate too low to
    * carry the mains bins (sr < 240 Hz keeps both below Nyquist with
    * margin). All-silent payloads report (0, 0) — silence has no hum.
    */
  def humKernel(bytes: Array[Byte], srHz: Int): Array[Double] = {
    if (bytes == null || srHz < 240) return null
    val n = bytes.length / 2
    if (n == 0) return null
    val w50 = 2.0 * math.Pi * 50.0 / srHz
    val w60 = 2.0 * math.Pi * 60.0 / srHz
    val c50 = 2.0 * math.cos(w50)
    val c60 = 2.0 * math.cos(w60)
    var s1a = 0.0; var s2a = 0.0 // 50 Hz state
    var s1b = 0.0; var s2b = 0.0 // 60 Hz state
    var sum = 0.0
    var sumSq = 0.0
    var i = 0
    while (i < n) {
      val x = (((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort).toDouble
      sum += x
      sumSq += x * x
      val s0a = x + c50 * s1a - s2a; s2a = s1a; s1a = s0a
      val s0b = x + c60 * s1b - s2b; s2b = s1b; s1b = s0b
      i += 1
    }
    val dc = sum / n / 32768.0
    if (sumSq == 0.0) return Array(dc, 0.0)
    val p50 = s1a * s1a + s2a * s2a - c50 * s1a * s2a
    val p60 = s1b * s1b + s2b * s2b - c60 * s1b * s2b
    val share = 2.0 * (math.max(p50, 0.0) + math.max(p60, 0.0)) / (n * sumSq)
    Array(dc, math.min(share, 1.0))
  }
}
