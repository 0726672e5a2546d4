package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.audio.Pcm

class PcmSpec extends AnyFunSuite {

  test("encode/decode roundtrip is lossless") {
    val s = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    assert(Pcm.decode(Pcm.encode(s)).toSeq == s.toSeq)
  }

  test("synth signal has expected length") {
    val sig = Pcm.synthSignal(16000, 500, 440.0, 0.0)
    assert(sig.length == 8000)
  }

  test("identical signals → +Inf SNR, passes allclose") {
    val b = Pcm.encode(Pcm.synthSignal(16000, 300, 440.0, 0.1))
    assert(Pcm.snrDbBytes(b, b).isPosInfinity)
    assert(Pcm.snrDbBytes(b, b) >= 30.0)
  }

  test("tiny dither stays above 30 dB; inverted signal fails") {
    val ref = Pcm.synthSignal(16000, 300, 440.0, 0.1)
    val dither = ref.zipWithIndex.map { case (v, i) =>
      (v + (if (i % 2 == 0) 1 else -1)).toShort
    }
    assert(Pcm.snrDb(ref, dither) >= 30.0)
    val inverted = ref.map(v => (-v / 3).toShort)
    assert(Pcm.snrDb(ref, inverted) < 30.0)
    assert(!(Pcm.snrDbBytes(Pcm.encode(ref), Pcm.encode(inverted)) >= 30.0))
  }

  test("length mismatch / null → -Inf") {
    val a = Pcm.encode(Pcm.synthSignal(8000, 100, 200.0, 0.0))
    assert(Pcm.snrDbBytes(a, a.take(10)).isNegInfinity)
    assert(Pcm.snrDbBytes(null, a).isNegInfinity)
  }
}
