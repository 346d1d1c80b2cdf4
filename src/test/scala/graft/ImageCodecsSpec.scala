package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ImageCodecs
import graft.operators.Multimodal

/** GIF (LZW) and WebP-VP8L codec round trips, LZW width-growth sync,
  * Huffman form coverage, interlace, and malformed-input totality. */
class ImageCodecsSpec extends AnyFunSuite {

  private def rgbPattern(id: Long, w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val c = i % 3
      val x = p % w; val y = p / w
      ((id + x * 3 + y * 5 + c * 11) % 256).toByte
    }

  private def rgbaPattern(id: Long, w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h * 4) { i =>
      val p = i / 4; val c = i % 4
      val x = p % w; val y = p / w
      ((id + x * 3 + y * 5 + c * 11) % 256).toByte
    }

  test("GIF round trip: the fixture pixel pattern survives exactly") {
    for (id <- Seq(0L, 7L, 42L, 255L); (w, h) <- Seq((4, 4), (16, 14), (9, 11))) {
      val px = rgbPattern(id, w, h)
      val gif = ImageCodecs.gifEncode(w, h, px)
      val got = ImageCodecs.gifDecode(gif)
      assert(got.isDefined, s"decode failed id=$id ${w}x$h")
      val (gw, gh, ch, gpx) = got.get
      assert(gw == w && gh == h && ch == 3)
      assert(java.util.Arrays.equals(gpx, px), s"pixels id=$id ${w}x$h")
    }
  }

  test("GIF LZW code-width growth stays in sync on a 256-color image") {
    // 64x64 with 256 distinct colors and long runs: the dict passes
    // 512/1024/2048 entries, exercising every width transition
    val w = 64; val h = 64
    val px = Array.tabulate(w * h * 3) { i =>
      val p = i / 3
      (((p / 16) + (i % 3) * 85) % 256).toByte
    }
    val gif = ImageCodecs.gifEncode(w, h, px)
    val got = ImageCodecs.gifDecode(gif)
    assert(got.isDefined)
    assert(java.util.Arrays.equals(got.get._4, px))
  }

  test("GIF two-color image uses the small-palette path") {
    val w = 10; val h = 6
    val px = Array.tabulate(w * h * 3)(i =>
      (if ((i / 3) % 2 == 0) 0 else 255).toByte)
    val got = ImageCodecs.gifDecode(ImageCodecs.gifEncode(w, h, px))
    assert(got.isDefined && java.util.Arrays.equals(got.get._4, px))
  }

  test("GIF interlaced image deinterlaces (hand-built descriptor)") {
    // re-encode, then flip the interlace bit and reorder rows the way
    // an interlaced encoder would have: decode must undo it
    val w = 4; val h = 9
    val px = rgbPattern(3L, w, h)
    // rebuild: encode row-permuted pixels, then set the interlace flag —
    // decode of the flagged stream must equal the ORIGINAL pixel order
    val order = (0 until h by 8) ++ (4 until h by 8) ++
      (2 until h by 4) ++ (1 until h by 2)
    val permuted = new Array[Byte](px.length)
    order.zipWithIndex.foreach { case (srcY, dstPos) =>
      System.arraycopy(px, srcY * w * 3, permuted, dstPos * w * 3, w * 3)
    }
    val enc = ImageCodecs.gifEncode(w, h, permuted)
    // descriptor offset computed structurally (a palette byte can be
    // 0x2C, so indexWhere would mislocate): header 13 + 3 * GCT size
    val palN = 2 << (enc(10) & 7)
    val ix2 = 13 + 3 * palN
    assert((enc(ix2) & 0xff) == 0x2C, "descriptor offset")
    enc(ix2 + 9) = (enc(ix2 + 9) | 0x40).toByte // interlace flag
    val got = ImageCodecs.gifDecode(enc)
    assert(got.isDefined)
    assert(java.util.Arrays.equals(got.get._4, px),
      "deinterlace must restore natural row order")
  }

  test("WebP VP8L round trip: fixture patterns, gradients, flat images") {
    for (id <- Seq(0L, 7L, 42L); (w, h) <- Seq((4, 4), (16, 14), (9, 11))) {
      val px = rgbaPattern(id, w, h)
      val webp = ImageCodecs.webpEncode(w, h, px)
      val got = ImageCodecs.webpDecode(webp)
      assert(got.isDefined, s"decode failed id=$id ${w}x$h")
      val (gw, gh, ch, gpx) = got.get
      assert(gw == w && gh == h && ch == 4)
      assert(java.util.Arrays.equals(gpx, px), s"pixels id=$id ${w}x$h")
    }
    // flat image: every channel single-symbol (simple codes, zero-bit
    // literals)
    val flat = Array.fill[Byte](8 * 8 * 4)(77)
    val got = ImageCodecs.webpDecode(ImageCodecs.webpEncode(8, 8, flat))
    assert(got.isDefined && java.util.Arrays.equals(got.get._4, flat))
    // two-value channels: the 2-symbol simple form
    val duo = Array.tabulate(6 * 6 * 4)(i =>
      (if ((i / 4) % 2 == 0) 10 else 200).toByte)
    val got2 = ImageCodecs.webpDecode(ImageCodecs.webpEncode(6, 6, duo))
    assert(got2.isDefined && java.util.Arrays.equals(got2.get._4, duo))
    // wide image: 300+ distinct greens exercise deep Huffman codes
    val big = Array.tabulate(64 * 32 * 4) { i =>
      val p = i / 4
      (i % 4 match {
        case 0 => p % 251
        case 1 => (p * p + 13) % 256
        case 2 => (p * 7) % 253
        case _ => 255
      }).toByte
    }
    val got3 = ImageCodecs.webpDecode(ImageCodecs.webpEncode(64, 32, big))
    assert(got3.isDefined && java.util.Arrays.equals(got3.get._4, big))
  }

  test("decoders are total on malformed bytes") {
    val cases = Seq[Array[Byte]](
      null, Array.empty, Array.fill(10)(0x41),
      "GIF89a".getBytes("US-ASCII"),
      "RIFFxxxxWEBP".getBytes("US-ASCII"),
      ImageCodecs.gifEncode(3, 3, rgbPattern(1, 3, 3)).dropRight(5),
      ImageCodecs.webpEncode(3, 3, rgbaPattern(1, 3, 3)).dropRight(3))
    cases.foreach { b =>
      assert(ImageCodecs.gifDecode(b).isEmpty || (b != null && b.length > 20))
      // never throws is the real assertion
      ImageCodecs.gifDecode(b)
      ImageCodecs.webpDecode(b)
    }
    // truncated payloads specifically must be None, not garbage
    assert(ImageCodecs.gifDecode(
      ImageCodecs.gifEncode(9, 9, rgbPattern(5, 9, 9)).dropRight(6)).isEmpty)
    assert(ImageCodecs.webpDecode(
      ImageCodecs.webpEncode(9, 9, rgbaPattern(5, 9, 9)).dropRight(4)).isEmpty)
    // lossy VP8 container is out of envelope, silently
    val lossy = "RIFF".getBytes ++ Array[Byte](20, 0, 0, 0) ++
      "WEBPVP8 ".getBytes ++ Array[Byte](4, 0, 0, 0, 1, 2, 3, 4)
    assert(ImageCodecs.webpDecode(lossy).isEmpty)
  }

  test("crafted chunk sizes near Int.MaxValue cannot crash the decoders") {
    // RIFF chunk whose size wraps an Int bounds compare: must be None,
    // never a StringIndexOutOfBounds from a negative walk position
    val evil = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WEBP".getBytes("US-ASCII") ++ "XXXX".getBytes("US-ASCII") ++
      Array[Byte](-1, -1, -1, 0x7f) ++ Array[Byte](1)
    assert(ImageCodecs.webpDecode(evil).isEmpty)
    // same class through the VP8L id so the walk takes the skip branch
    val evil2 = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WEBP".getBytes("US-ASCII") ++ "ABCD".getBytes("US-ASCII") ++
      Array[Byte](-10, -1, -1, 0x7f) ++ Array.fill[Byte](30)(0)
    assert(ImageCodecs.webpDecode(evil2).isEmpty)
  }

  test("WebP VP8L round trip: color cache, predictor, cross-color, " +
      "subtract-green — every transform combination") {
    for {
      id <- Seq(1L, 9L, 42L)
      (w, h) <- Seq((4, 4), (16, 14), (9, 11), (33, 7))
      cacheBits <- Seq(0, 1, 4, 11)
      (pred, ct, sg) <- Seq((true, false, false), (false, true, false),
        (false, false, true), (true, true, true), (true, false, true))
    } {
      val px = rgbaPattern(id, w, h)
      val webp = ImageCodecs.webpEncode(w, h, px, cacheBits, pred, ct, sg)
      val got = ImageCodecs.webpDecode(webp)
      assert(got.isDefined,
        s"decode failed id=$id ${w}x$h cache=$cacheBits p=$pred c=$ct g=$sg")
      assert(java.util.Arrays.equals(got.get._4, px),
        s"pixels id=$id ${w}x$h cache=$cacheBits p=$pred c=$ct g=$sg")
    }
    // a cache-friendly image (few distinct pixels, wide) where hits
    // dominate — pins the hash-slot arithmetic under heavy reuse
    val w = 40; val h = 12
    val few = Array.tabulate(w * h * 4) { i =>
      val p = i / 4
      (i % 4 match {
        case 0 => (p % 5) * 50; case 1 => (p % 3) * 80
        case 2 => (p % 7) * 30; case _ => 255
      }).toByte
    }
    for (cb <- Seq(2, 6, 9)) {
      val got = ImageCodecs.webpDecode(
        ImageCodecs.webpEncode(w, h, few, cb, false, false, false))
      assert(got.isDefined && java.util.Arrays.equals(got.get._4, few),
        s"cache-heavy roundtrip cb=$cb")
    }
  }

  test("VP8L code-length-code order interop: hand-built spec-order " +
      "stream (9 declared cl symbols, symbol 16 at slot 8) decodes") {
    // An INDEPENDENT bit-writer (not the encoder under test) emits a
    // normal-form green tree whose code-length code declares exactly 9
    // symbols — per spec order (17,18,0,1,2,3,4,5,16,...) slot 8 is
    // symbol 16 (repeat-previous). A decoder using the pre-fix order
    // (...,15,16 last) would read slot 8 as symbol 6 and misparse.
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Int, n: Int): Unit = // LSB-first, the VP8L convention
      (0 until n).foreach(i => bits += ((v >> i) & 1))
    def putCode(code: Int, len: Int): Unit = // prefix codes root-first
      (len - 1 to 0 by -1).foreach(i => bits += ((code >> i) & 1))
    put(1, 14); put(1, 14) // w-1=1, h-1=1 → 2x2
    put(0, 1); put(0, 3)   // alpha hint, version
    put(0, 1)              // no transforms
    put(0, 1); put(0, 1)   // no color cache, no meta prefix
    // green tree, normal form: cl code {2→len1, 16→len1}; 9 slots
    put(0, 1)              // normal form
    put(9 - 4, 4)          // numCl = 9
    Seq(0, 0, 0, 0, 1, 0, 0, 0, 1).foreach(l => put(l, 3)) // spec order
    put(1, 1)              // use max_symbol
    put(0, 3)              // lenNBits = 2
    put(0, 2)              // max_symbol = 2 (two cl operations)
    putCode(0, 1)          // cl symbol 2: literal length 2 (for green 0)
    putCode(1, 1)          // cl symbol 16: repeat prev length ...
    put(0, 2)              // ... 3 times → greens 0..3 all length 2
    // red / blue / alpha: 1-symbol simple codes (0x40 / 0x80 / 0xff)
    for (s <- Seq(0x40, 0x80, 0xff)) {
      put(1, 1); put(0, 1); put(1, 1); put(s, 8)
    }
    put(1, 1); put(0, 1); put(0, 1); put(0, 1) // dist: 1-symbol stub
    // pixels: green symbols 0..3, canonical 2-bit codes 00/01/10/11
    (0 until 4).foreach(g => putCode(g, 2))
    val payloadBits = bits.toArray
    val body = new java.io.ByteArrayOutputStream()
    body.write(0x2f)
    payloadBits.grouped(8).foreach { grp =>
      var b = 0
      grp.zipWithIndex.foreach { case (v, i) => b |= v << i }
      body.write(b)
    }
    val payload = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    val riffLen = 4 + 8 + payload.length + (payload.length & 1)
    Seq(riffLen, riffLen >> 8, riffLen >> 16, riffLen >> 24)
      .foreach(v => out.write(v & 0xff))
    out.write("WEBPVP8L".getBytes("US-ASCII"))
    Seq(payload.length, payload.length >> 8, payload.length >> 16,
      payload.length >> 24).foreach(v => out.write(v & 0xff))
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    val got = ImageCodecs.webpDecode(out.toByteArray)
    assert(got.isDefined, "spec-order stream must decode")
    val (w, h, ch, px) = got.get
    assert(w == 2 && h == 2 && ch == 4)
    val expected = (0 until 4).flatMap(g =>
      Seq(0x40.toByte, g.toByte, 0x80.toByte, 0xff.toByte))
    assert(java.util.Arrays.equals(px, expected.toArray),
      "pixels from the hand-built spec-order bitstream")
  }

  test("truncated VP8L chunk with trailing chunks sets truncated, " +
      "never reads the next chunk's bytes as bitstream") {
    val full = ImageCodecs.webpEncode(9, 9, rgbaPattern(5, 9, 9))
    // shrink the VP8L payload by 6 bytes but keep those bytes in the
    // file as a following junk chunk: decode must refuse (truncated),
    // not consume junk bytes as bitstream and return garbage pixels
    val vp8lLen = (full(16) & 0xff) | ((full(17) & 0xff) << 8) |
      ((full(18) & 0xff) << 16) | ((full(19) & 0xff) << 24)
    val cut = 6
    val newLen = vp8lLen - cut
    val out = new java.io.ByteArrayOutputStream()
    out.write(full, 0, 16)
    Seq(newLen, newLen >> 8, newLen >> 16, newLen >> 24)
      .foreach(v => out.write(v & 0xff))
    out.write(full, 20, newLen)
    if ((newLen & 1) == 1) out.write(0)
    out.write("JUNK".getBytes("US-ASCII"))
    val junkLen = 64
    Seq(junkLen, 0, 0, 0).foreach(out.write)
    (0 until junkLen).foreach(_ => out.write(0xff))
    val bytes = out.toByteArray
    // fix the RIFF size
    val riffLen = bytes.length - 8
    bytes(4) = (riffLen & 0xff).toByte
    bytes(5) = ((riffLen >> 8) & 0xff).toByte
    bytes(6) = ((riffLen >> 16) & 0xff).toByte
    bytes(7) = ((riffLen >> 24) & 0xff).toByte
    assert(ImageCodecs.webpDecode(bytes).isEmpty,
      "truncation inside the VP8L chunk must be refused")
  }

  test("VP8L palette (color-indexing) round trip across every " +
      "bundling width, ragged edges included") {
    // palette sizes hitting widthBits 3/2/1/0 (8, 4, 2, 1 px per byte)
    for ((colors, w, h) <- Seq((2, 19, 5), (4, 9, 7), (13, 21, 4),
      (200, 23, 11))) {
      val px = Array.tabulate(w * h * 4) { i =>
        val p = i / 4; val c = p % colors
        (i % 4 match {
          case 0 => c * 37 % 256; case 1 => c * 11 % 256
          case 2 => c * 53 % 256; case _ => 255 - c % 7
        }).toByte
      }
      val webp = ImageCodecs.webpEncodePalette(w, h, px)
      val got = ImageCodecs.webpDecode(webp)
      assert(got.isDefined, s"palette $colors ${w}x$h")
      assert(java.util.Arrays.equals(got.get._4, px),
        s"palette pixels $colors ${w}x$h")
    }
    intercept[IllegalArgumentException] {
      // 400 genuinely distinct colors
      val many = Array.tabulate(20 * 20 * 4) { i =>
        val p = i / 4
        (i % 4 match {
          case 0 => p % 256; case 1 => p / 256; case _ => 0
        }).toByte
      }
      ImageCodecs.webpEncodePalette(20, 20, many)
    }
  }

  test("VP8L palette interop: hand-built spec stream (delta from 0, " +
      "lowest-bits-first bundling) decodes to the expected colors") {
    // 4x1 image, 2-color palette {red, green} -> widthBits 3, one
    // packed byte 0b0110 (indices 0,1,1,0; first sub-pixel at bit 0);
    // table deltas: red - 0, then green - red (per-channel mod 256)
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Int, n: Int): Unit =
      (0 until n).foreach(i => bits += ((v >> i) & 1))
    def putCode(code: Int, len: Int): Unit =
      (len - 1 to 0 by -1).foreach(i => bits += ((code >> i) & 1))
    put(3, 14); put(0, 14)       // 4x1
    put(0, 1); put(0, 3)         // alpha hint, version
    put(1, 1); put(3, 2)         // transform: color indexing
    put(1, 8)                    // table size - 1 = 1
    // table delta image (2x1): cache 0; trees then 2 delta pixels
    put(0, 1)
    // green {0x00, 0xff}: simple 2-symbol (1-bit first form)
    put(1, 1); put(1, 1); put(0, 1); put(0, 1); put(0xff, 8)
    // red {0x01, 0xff}: simple 2-symbol, s0 = 1 via the 1-bit form
    put(1, 1); put(1, 1); put(0, 1); put(1, 1); put(0xff, 8)
    // blue single 0; alpha {0x00, 0xff}; dist stub
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    put(1, 1); put(1, 1); put(0, 1); put(0, 1); put(0xff, 8)
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    // delta pixel 0: g=0x00 (code 0), r=0xff (code 1), a=0xff (code 1)
    putCode(0, 1); putCode(1, 1); putCode(1, 1)
    // delta pixel 1: g=0xff (code 1), r=0x01 (code 0), a=0x00 (code 0)
    putCode(1, 1); putCode(0, 1); putCode(0, 1)
    put(0, 1)                    // end of transforms
    // main image (1x1): green single-symbol 6 (8-bit simple form);
    // r/b/a single-symbol 0; dist stub; the pixel costs zero bits
    put(0, 1); put(0, 1)         // no cache, no meta
    put(1, 1); put(0, 1); put(1, 1); put(6, 8)
    (0 until 3).foreach { _ => put(1, 1); put(0, 1); put(0, 1); put(0, 1) }
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    val body = new java.io.ByteArrayOutputStream()
    body.write(0x2f)
    bits.grouped(8).foreach { grp =>
      var b = 0
      grp.zipWithIndex.foreach { case (v, i) => b |= v << i }
      body.write(b)
    }
    val webp = ImageCodecs.wrapWebp(Seq(("VP8L", body.toByteArray)))
    val got = ImageCodecs.webpDecode(webp)
    assert(got.isDefined, "hand-built palette stream must decode")
    val (w, h, _, px) = got.get
    assert(w == 4 && h == 1)
    val expected = Seq(
      (0xff, 0x00, 0x00, 0xff), (0x00, 0xff, 0x00, 0xff),
      (0x00, 0xff, 0x00, 0xff), (0xff, 0x00, 0x00, 0xff))
      .flatMap { case (r, g, b, a) =>
        Seq(r.toByte, g.toByte, b.toByte, a.toByte) }
    assert(java.util.Arrays.equals(px, expected.toArray),
      s"got ${px.toSeq}")
  }

  test("webpEncode survives an all-cache-hit image (empty r/b/a " +
      "trees get valid 1-symbol codes)") {
    // every pixel 0x00000000 hashes to the zero-initialized slot and
    // scores a cache hit from the FIRST pixel on — r/b/a trees have
    // zero used symbols
    val clear = new Array[Byte](6 * 4 * 4)
    for (cb <- Seq(1, 4)) {
      val webp = ImageCodecs.webpEncode(6, 4, clear, cb, false, false, false)
      val got = ImageCodecs.webpDecode(webp)
      assert(got.isDefined && java.util.Arrays.equals(got.get._4, clear),
        s"all-transparent roundtrip cb=$cb")
    }
  }

  test("stripWebpExif tolerates a missing RIFF pad byte after an " +
      "odd-sized final chunk (never throws)") {
    val rgba = Array.tabulate(5 * 3 * 4)(i => (i * 11 % 256).toByte)
    val full = ImageCodecs.webpEncode(5, 3, rgba)
    val sz = (full(16) & 0xff) | ((full(17) & 0xff) << 8) |
      ((full(18) & 0xff) << 16) | ((full(19) & 0xff) << 24)
    val vp8l = full.slice(20, 20 + sz)
    // build a container with an odd-sized trailing EXIF chunk and DROP
    // its pad byte (a common wild-file deviation)
    val oddExif = Array.tabulate(7)(i => (i + 1).toByte) // odd length
    val wrapped = ImageCodecs.wrapWebp(Seq(("VP8L", vp8l),
      ("EXIF", oddExif)))
    val noPad = wrapped.dropRight(1) // drop the pad byte
    // fix the RIFF size for the shortened file
    val riffLen = noPad.length - 8
    noPad(4) = (riffLen & 0xff).toByte
    noPad(5) = ((riffLen >> 8) & 0xff).toByte
    val (clean, status) = ImageCodecs.stripWebpExif(noPad)
    assert(status == "scrubbed", status)
    assert(ImageCodecs.webpMeta(clean).exists(_.exif.isEmpty))
    // same shape with an odd-sized KEPT chunk missing its pad: the
    // rewrite must re-pad rather than read past the end
    val oddKept = ImageCodecs.wrapWebp(Seq(("VP8L", vp8l),
      ("JUNK", oddExif), ("EXIF", Array[Byte](1, 2))))
    val (clean2, status2) = ImageCodecs.stripWebpExif(oddKept)
    assert(status2 == "scrubbed" &&
      ImageCodecs.webpDecode(clean2).isDefined)
  }

  test("gifMeta: animation structure, stills, loop extension, " +
      "totality — and the 1x1 anim frames really decode") {
    val anim = ImageCodecs.gifAnimBytes(320, 240, Seq(10, 20, 30), loop = 5)
    val m = ImageCodecs.gifMeta(anim).get
    assert(m.width == 320 && m.height == 240 && m.frames == 3 &&
      m.animated && m.totalDelayCs == 60 && m.loopCount == 5, m.toString)
    // the poster frame's LZW payload is genuinely decodable
    val poster = ImageCodecs.gifDecode(anim)
    assert(poster.exists(p => p._1 == 1 && p._2 == 1),
      "1x1 frame decode: " + poster)
    // no loop extension -> -1; single frame -> not animated
    val single = ImageCodecs.gifAnimBytes(10, 10, Seq(7))
    val sm = ImageCodecs.gifMeta(single).get
    assert(sm.frames == 1 && !sm.animated && sm.totalDelayCs == 7 &&
      sm.loopCount == -1)
    // a still from the regular encoder: one frame, zero delay
    val still = ImageCodecs.gifMeta(
      ImageCodecs.gifEncode(4, 4, rgbPattern(1, 4, 4))).get
    assert(still.frames == 1 && !still.animated &&
      still.totalDelayCs == 0 && still.loopCount == -1)
    // totality on truncations
    (0 until anim.length by 11).foreach(cut =>
      ImageCodecs.gifMeta(anim.take(cut)))
    assert(ImageCodecs.gifMeta("not a gif".getBytes).isEmpty)
    assert(ImageCodecs.gifMeta(anim.dropRight(1)).isEmpty,
      "missing trailer refuses")
  }

  test("gifEncode refuses >256 distinct colors loudly") {
    val w = 32; val h = 32 // 1024 distinct colors
    val px = Array.tabulate(w * h * 3) { i =>
      val p = i / 3
      (i % 3 match {
        case 0 => p % 256; case 1 => (p / 256) * 61; case _ => 7
      }).toByte
    }
    intercept[IllegalArgumentException] {
      ImageCodecs.gifEncode(w, h, px)
    }
  }

  test("jpegDecodeInterleaved is total; success means a full pixel buffer") {
    val rnd = new Random(20260819L)
    for (_ <- 1 to 300) {
      val junk = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(junk)
      if (junk.length >= 2) { junk(0) = 0xFF.toByte; junk(1) = 0xD8.toByte }
      Multimodal.jpegDecodeInterleaved(junk) // None or decode, never throw
    }
    val valid = Multimodal.syntheticJpegDcBytes(9L, 13, 11, color = true)
    for (_ <- 1 to 200) {
      val b = valid.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Multimodal.jpegDecodeInterleaved(b).foreach { case (w, h, c, px) =>
        assert(px.length == w * h * c && w > 0 && h > 0)
      }
    }
  }

  test("dhashFromPixels: bounds refused, brightness-invariance holds") {
    val rnd = new Random(20260820L)
    for (_ <- 1 to 100) {
      val w = 1 + rnd.nextInt(20); val h = 1 + rnd.nextInt(20)
      val c = 1 + 2 * rnd.nextInt(2) // 1 or 3
      val px = Array.fill(w * h * c)(rnd.nextInt(256))
      val (hi, lo) = Multimodal.dhashFromPixels(w, h, c, px)
      // constant brightness shift (clamped-free range) preserves the hash
      if (px.forall(v => v < 200)) {
        val shifted = px.map(_ + 55)
        assert(Multimodal.dhashFromPixels(w, h, c, shifted) == ((hi, lo)))
      }
    }
    intercept[IllegalArgumentException] {
      Multimodal.dhashFromPixels(3, 3, 3, new Array[Int](5)) // short buffer
    }
    intercept[IllegalArgumentException] {
      Multimodal.dhashFromPixels(0, 3, 3, new Array[Int](0))
    }
  }
}
