package graft

import scala.util.Random

import graft.operators.Multimodal

/** PCM16 silence segmentation: pause rule, trimming, short-quiet
  * tolerance, degenerate payloads. */
class AudioVadSpec extends SparkSpec {

  // a WAV whose every sample is loud except the planted windows
  private def wav(n: Int, silences: (Int, Int)*) =
    Multimodal.syntheticWavPcm16Silence(8000, id = 12345L, n, silences.toSeq)

  private def segs(b: Array[Byte], minRun: Int = 50) =
    Multimodal.wavSilenceSegments(b, ampThreshold = 100, minRun).get

  test("planted pauses cut; segments trim to their voiced extent") {
    val b = wav(400, (100, 80), (250, 80))
    val s = segs(b)
    assert(s.map(_._1) == Seq(0, 1, 2))
    assert(s(0) == ((0, 0L, 100L)))
    assert(s(1)._2 == 180L && s(1)._3 == 250L)
    assert(s(2)._2 == 330L && s(2)._3 == 400L)
  }

  test("a quiet run shorter than minRun does not split") {
    val b = wav(400, (100, 49))
    assert(segs(b).size == 1)
    assert(segs(b).head == ((0, 0L, 400L)))
  }

  test("leading and trailing silence produce no empty segments") {
    val b = wav(400, (0, 80), (320, 80))
    val s = segs(b)
    assert(s == Seq((0, 80L, 320L)), s.toString)
  }

  test("an all-silent payload yields no segments") {
    val b = wav(200, (0, 200))
    assert(segs(b).isEmpty)
  }

  test("non-PCM16 payloads refuse with None") {
    assert(Multimodal.wavSilenceSegments(Array[Byte](1, 2, 3), 100, 50).isEmpty)
    val stereoHeader = Multimodal.syntheticWavBytes(8000, 2, 16, 10)
    assert(Multimodal.wavSilenceSegments(stereoHeader, 100, 50).isEmpty)
  }

  test("silence segmentation is total; segments are ordered, disjoint, in-range") {
    val rnd = new Random(20260818L)
    for (i <- 1 to 300) {
      val junk = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(junk)
      Multimodal.wavSilenceSegments(junk, 100, 10) // must not throw
      val n = 20 + rnd.nextInt(300)
      val sil = Seq.fill(rnd.nextInt(3))(
        (rnd.nextInt(n), 1 + rnd.nextInt(60)))
      val wav = Multimodal.syntheticWavPcm16Silence(8000, i.toLong, n, sil)
      val segs = Multimodal.wavSilenceSegments(wav, 100,
        1 + rnd.nextInt(40)).get
      // invariants for ANY input: ordered, disjoint, within [0, n)
      segs.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 <= b._2, s"$a overlaps $b")
        case _ =>
      }
      assert(segs.forall(s => s._2 >= 0 && s._3 <= n && s._2 < s._3))
      assert(segs.map(_._1) == segs.indices)
      // truncations of the container must be None or consistent
      Multimodal.wavSilenceSegments(
        wav.take(rnd.nextInt(wav.length + 1)), 100, 10)
    }
  }
}
