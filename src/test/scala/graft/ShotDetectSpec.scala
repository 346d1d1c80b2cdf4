package graft

import scala.util.Random

import graft.operators.Multimodal

/** MP4 shot-boundary detection: cuts land on the seed jumps, drift
  * stays under threshold, degenerate containers refuse. */
class ShotDetectSpec extends SparkSpec {

  test("cuts exactly at the shot grid, frame 0 opens shot 0") {
    val b = Multimodal.syntheticMp4WithShots(64, 48, 1000, 40,
      nFrames = 18, frameSize = 48, shotLen = 6, docSeed = 5L)
    val shots = Multimodal.mp4ShotBoundaries(b, threshold100 = 8000).get
    assert(shots.map(_._2) == Seq(0, 6, 12), shots.toString)
    assert(shots.map(_._1) == Seq(0, 1, 2))
    assert(shots.map(_._3) == Seq(0L, 240L, 480L)) // f * 40ms
  }

  test("a single-shot video never cuts") {
    val b = Multimodal.syntheticMp4WithShots(64, 48, 1000, 40,
      nFrames = 12, frameSize = 48, shotLen = 100, docSeed = 9L)
    val shots = Multimodal.mp4ShotBoundaries(b, threshold100 = 8000).get
    assert(shots == Seq((0, 0, 0L)))
  }

  test("threshold 1 cuts every frame; huge threshold cuts none") {
    val b = Multimodal.syntheticMp4WithShots(64, 48, 1000, 40,
      nFrames = 8, frameSize = 32, shotLen = 4, docSeed = 3L)
    val all = Multimodal.mp4ShotBoundaries(b, threshold100 = 1).get
    assert(all.size == 8)
    val none = Multimodal.mp4ShotBoundaries(b, threshold100 = 100000).get
    assert(none.size == 1)
  }

  test("non-MP4 and header-only containers refuse with None") {
    assert(Multimodal.mp4ShotBoundaries(Array[Byte](1, 2, 3), 8000).isEmpty)
    val headerOnly = Multimodal.syntheticMp4Bytes(64, 48, 1000, 100L)
    assert(Multimodal.mp4ShotBoundaries(headerOnly, 8000).isEmpty)
  }

  test("frame sampling still reads the refactored table identically") {
    val b = Multimodal.syntheticMp4WithSamples(32, 24, 1000, 40,
      nFrames = 10, frameSize = 20, seed = 7L)
    val frames = Multimodal.mp4FrameSample(b, k = 3).get
    assert(frames.map(_._1) == Seq(0, 3, 6, 9))
    assert(frames.forall(_._3 == 20))
    // byte sums match the builder's closed form
    val expect = frames.map { case (f, _, _, _) =>
      (0 until 20).map(j => (7L + f * 31L + j * 7L) % 256L).sum
    }
    assert(frames.map(_._4) == expect)
  }

  test("shot detection is total on arbitrary bytes and truncations") {
    val rnd = new Random(20260817L)
    for (i <- 1 to 300) {
      val junk = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(junk)
      Multimodal.mp4ShotBoundaries(junk, 8000) // may be None, must not throw
      val valid = Multimodal.syntheticMp4WithShots(32, 24, 1000, 40,
        nFrames = 2 + rnd.nextInt(12), frameSize = 8 + rnd.nextInt(40),
        shotLen = 1 + rnd.nextInt(6), docSeed = i.toLong)
      // bit flips and truncations of a valid container
      val cut = valid.take(rnd.nextInt(valid.length + 1))
      Multimodal.mp4ShotBoundaries(cut, 8000)
      val flipped = valid.clone()
      for (_ <- 0 to 4)
        flipped(rnd.nextInt(flipped.length)) = rnd.nextInt(256).toByte
      Multimodal.mp4ShotBoundaries(flipped, 8000)
      // the untouched container must parse with shot 0 at frame 0
      val ok = Multimodal.mp4ShotBoundaries(valid, 8000)
      assert(ok.exists(s => s.headOption.contains((0, 0, 0L))))
    }
  }
}
