package graft

import graft.sources.{Jp2, Wavelet53}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** S5 JP2 input (`/root/reference/code/tx.py:26,38,42`): the
  * deterministic stages are tested for real — container/codestream
  * header parse against synthetic ITU-T T.800 streams built byte by
  * byte here, the reversible 5/3 DWT as a bit-exact round-trip
  * property, and the full [[Jp2.decode]] pipeline driven end-to-end
  * through codestreams from the test-only encoder ([[Jp2Fixture]]);
  * out-of-profile and corrupt streams fail loudly, never as a silent
  * mis-decode.
  */
class Jp2Spec extends AnyFunSuite {

  // -- synthetic codestream builder (ITU-T T.800 Annex A layouts) ---

  private def codestream(w: Int, h: Int, bitDepth: Int, levels: Int,
      reversible: Boolean, payload: Array[Byte],
      tilePartHeaderSegment: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeShort(0xFF4F)            // SOC
    d.writeShort(0xFF51)            // SIZ
    d.writeShort(38 + 3)            // Lsiz, one component
    d.writeShort(0)                 // Rsiz
    d.writeInt(w); d.writeInt(h)    // Xsiz Ysiz
    d.writeInt(0); d.writeInt(0)    // XOsiz YOsiz
    d.writeInt(w); d.writeInt(h)    // XTsiz YTsiz (one tile)
    d.writeInt(0); d.writeInt(0)    // XTOsiz YTOsiz
    d.writeShort(1)                 // Csiz
    d.writeByte(bitDepth - 1)       // Ssiz (unsigned)
    d.writeByte(1); d.writeByte(1)  // XRsiz YRsiz
    d.writeShort(0xFF52)            // COD
    d.writeShort(12)                // Lcod
    d.writeByte(0)                  // Scod
    d.writeByte(0)                  // progression LRCP
    d.writeShort(1)                 // layers
    d.writeByte(0)                  // no MCT
    d.writeByte(levels)             // decomposition levels
    d.writeByte(4); d.writeByte(4)  // 64x64 code blocks (exp - 2)
    d.writeByte(0)                  // code-block style
    d.writeByte(if (reversible) 1 else 0) // 1 = 5/3, 0 = 9/7
    d.writeShort(0xFF5C)            // QCD (skipped by length)
    d.writeShort(4)
    d.writeByte(0x20); d.writeByte(0)
    val thSeg = if (tilePartHeaderSegment) 2 + 8 else 0 // marker + Lcom
    d.writeShort(0xFF90)            // SOT
    d.writeShort(10)                // Lsot
    d.writeShort(0)                 // Isot
    d.writeInt(12 + thSeg + 2 + payload.length) // Psot
    d.writeByte(0); d.writeByte(1)  // TPsot TNsot
    if (tilePartHeaderSegment) {    // a COM segment in the tile-part
      d.writeShort(0xFF64)          // header (T.800 A.4.2): the data
      d.writeShort(8)               // offset must still land on SOD+2
      d.writeShort(0); d.write("graf".getBytes("US-ASCII"))
    }
    d.writeShort(0xFF93)            // SOD
    d.write(payload)
    d.writeShort(0xFFD9)            // EOC
    out.toByteArray
  }

  /** Wrap a codestream in minimal JP2 container boxes (ISO 15444-1
    * §I.4): signature, ftyp, jp2c.
    */
  private def jp2Container(cs: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(12); d.writeBytes("jP  "); d.writeInt(0x0D0A870A)
    d.writeInt(20); d.writeBytes("ftyp"); d.writeBytes("jp2 ")
    d.writeInt(0); d.writeBytes("jp2 ")
    d.writeInt(8 + cs.length); d.writeBytes("jp2c"); d.write(cs)
    out.toByteArray
  }

  // -- 5/3 wavelet -------------------------------------------------

  test("5/3 forward matches the T.800 lifting arithmetic on a golden vector") {
    // x = [1,2,3,4]: d0 = 2 - floor((1+3)/2) = 0; d1 (sym-extended)
    // = 4 - floor((3+3)/2) = 1; s0 = 1 + floor((0+0+2)/4) = 1;
    // s1 = 3 + floor((0+1+2)/4) = 3 -> interleaved [1,0,3,1]
    assert(Wavelet53.forward1d(Array(1, 2, 3, 4)).toSeq == Seq(1, 0, 3, 1))
  }

  test("5/3 1-D round-trips bit-exactly on arbitrary signals, any length") {
    val rng = new Random(53)
    for (n <- (1 to 40) ++ Seq(63, 64, 65, 1000)) {
      val x = Array.fill(n)(rng.nextInt(65536) - 32768)
      assert(Wavelet53.inverse1d(Wavelet53.forward1d(x)).toSeq == x.toSeq,
        s"length $n")
    }
  }

  test("5/3 2-D multi-level round-trips bit-exactly, odd and even shapes") {
    val rng = new Random(35)
    for {
      (w, h) <- Seq((1, 1), (1, 7), (5, 1), (2, 2), (7, 7), (8, 8),
        (13, 9), (64, 48), (33, 65))
      levels <- Seq(1, 3, 5)
    } {
      val img = Array.fill(w * h)(rng.nextInt(4096) - 2048)
      val rt = Wavelet53.inverse2d(Wavelet53.forward2d(img, w, h, levels),
        w, h, levels)
      assert(rt.toSeq == img.toSeq, s"${w}x$h levels=$levels")
    }
  }

  // -- header parse ------------------------------------------------

  test("codestream header parse extracts the Sentinel-2 profile fields") {
    val payload = Array.tabulate(300)(i => (i % 127).toByte)
    val bytes = codestream(512, 256, 12, 5, reversible = true, payload)
    val h = Jp2.parseHeader(bytes)
    assert(h.width == 512 && h.height == 256 && h.components == 1)
    assert(h.bitDepth == 12 && !h.signed)
    assert(h.levels == 5 && h.reversible)
    assert(h.codeblockW == 64 && h.codeblockH == 64)
    assert(h.tileWidth == 512 && h.tileHeight == 256)
    assert(h.progression == 0 && h.layers == 1)
    val tp = h.tileParts match { case Seq(only) => only }
    assert(tp.tileIndex == 0 && tp.partIndex == 0)
    assert(bytes.slice(tp.dataOffset, tp.dataOffset + tp.dataLength)
      .toSeq == payload.toSeq)
  }

  test("tile-part header segments between SOT and SOD are walked, not assumed absent") {
    val payload = Array.tabulate(64)(_.toByte)
    val bytes = codestream(64, 64, 8, 2, reversible = true, payload,
      tilePartHeaderSegment = true)
    val tp = Jp2.parseHeader(bytes).tileParts.head
    assert(bytes.slice(tp.dataOffset, tp.dataOffset + tp.dataLength)
      .toSeq == payload.toSeq)
  }

  test("JP2 container boxes route to the embedded codestream") {
    val bytes = jp2Container(
      codestream(128, 96, 10, 3, reversible = true, Array[Byte](1, 2, 3)))
    val h = Jp2.parseHeader(bytes)
    assert(h.width == 128 && h.height == 96 && h.bitDepth == 10 && h.levels == 3)
  }

  test("a non-JP2 byte stream is rejected, not misparsed") {
    val junk = Array.tabulate(64)(i => (i * 7).toByte)
    intercept[Exception] { Jp2.parseHeader(junk) }
  }

  // -- the real entropy stage: tier-2 + tier-1 + MQ ----------------

  test("tier-1 code-block round-trip: every band, sparse and dense") {
    val rng = new Random(91)
    for {
      band <- 0 to 3
      (w, h) <- Seq((16, 16), (7, 5), (16, 3), (3, 16), (1, 1), (64, 64),
        (5, 11))
      density <- Seq(0.05, 0.5, 1.0)
    } {
      val coeffs = Array.fill(w * h)(
        if (rng.nextDouble() < density) rng.nextInt(2048) - 1024 else 0)
      graft.Jp2Fixture.encodeBlock(coeffs, w, h, band) match {
        case None => assert(coeffs.forall(_ == 0))
        case Some((bytes, numbps, numPasses)) =>
          val got = graft.sources.Ebcot.decodeBlock(bytes, 0, bytes.length,
            w, h, band, numPasses, numbps - 1)
          assert(got.toSeq == coeffs.toSeq,
            s"band=$band ${w}x$h density=$density")
      }
    }
  }

  test("tag trees round-trip through the stuffed-bit header I/O") {
    val rng = new Random(17)
    for ((w, h) <- Seq((1, 1), (3, 2), (8, 8), (5, 7))) {
      val values = Array.fill(w * h)(rng.nextInt(6))
      val t = new graft.sources.Tier2.TagTree(w, h)
      for (y <- 0 until h; x <- 0 until w) t.set(x, y, values(y * w + x))
      t.build()
      val out = new graft.sources.Tier2.BitWriter
      for (y <- 0 until h; x <- 0 until w) t.encode(out, x, y, 999)
      val data = out.flush()
      val in = new graft.sources.Tier2.BitReader(data, 0)
      val t2 = new graft.sources.Tier2.TagTree(w, h)
      for (y <- 0 until h; x <- 0 until w) {
        var k = 1
        while (!t2.decode(in, x, y, k)) k += 1
        assert(k - 1 == values(y * w + x), s"leaf ($x,$y) in ${w}x$h")
      }
    }
  }

  test("full decode: pixels round-trip bit-exactly through a real codestream") {
    val rng = new Random(23)
    for {
      (w, h, levels, cb) <- Seq((64, 48, 3, 16), (33, 27, 2, 16),
        (128, 96, 5, 32), (16, 16, 1, 16), (8, 8, 0, 16), (75, 1, 2, 16),
        (1, 40, 2, 16))
    } {
      val img = Array.fill(w * h)(rng.nextInt(256))
      val cs = graft.Jp2Fixture.encode(img, w, h, levels, cbw = cb, cbh = cb)
      val (hdr, px) = Jp2.decode(cs)
      assert(hdr.width == w && hdr.height == h && hdr.levels == levels)
      assert(px.toSeq == img.toSeq, s"${w}x$h levels=$levels cb=$cb")
    }
  }

  test("decode(encode(img)) == img across code-block shapes, depths and levels (seeded sweep)") {
    // Code-blocks from 4x4 up to Sentinel-2's 64x64, non-square ones,
    // image heights off the 4-row stripe grid (run-length stripe
    // tails), 8- and 12-bit samples, 0-5 levels. Content mixes a
    // smooth field, sparse spikes on a flat field (long zero runs:
    // the run-length path) and full-range noise (dense blocks).
    val rng = new Random(4242)
    val blocks = Seq((4, 4), (8, 8), (16, 16), (32, 32), (64, 64),
      (4, 64), (64, 4), (8, 32), (32, 8), (16, 4), (4, 16))
    for {
      (cbw, cbh) <- blocks
      depth <- Seq(8, 12)
      levels <- 0 to 5
    } {
      val w = 2 * cbw - 3 + rng.nextInt(40)
      val h = 4 * (8 + rng.nextInt(16)) + 1 + rng.nextInt(3) // never 4k
      val max = (1 << depth) - 1
      val (fx, fy) = (rng.nextDouble() * 0.3, rng.nextDouble() * 0.3)
      val kind = rng.nextInt(3)
      val img = Array.tabulate(w * h) { i =>
        val (x, y) = (i % w, i / w)
        kind match {
          case 0 => ((max / 2) * (1 + math.sin(fx * x) * math.cos(fy * y))).toInt
          case 1 => if (rng.nextInt(40) == 0) rng.nextInt(max + 1) else max / 3
          case _ => rng.nextInt(max + 1)
        }
      }
      val cs = graft.Jp2Fixture.encode(img, w, h, levels, bitDepth = depth,
        cbw = cbw, cbh = cbh)
      val (hdr, px) = Jp2.decode(cs)
      assert(hdr.codeblockW == cbw && hdr.codeblockH == cbh)
      assert(java.util.Arrays.equals(px, img),
        s"${w}x$h cb=${cbw}x$cbh depth=$depth levels=$levels kind=$kind")
    }
  }

  test("full decode across multiple tile-parts (Sentinel's per-resolution split)") {
    val rng = new Random(67)
    val (w, h, levels) = (64, 48, 3)
    val img = Array.fill(w * h)(rng.nextInt(256))
    for (parts <- Seq(2, 4)) { // levels+1 = 4 packets → also one-per-part
      val cs = graft.Jp2Fixture.encode(img, w, h, levels, tileParts = parts)
      val hdr = Jp2.parseHeader(cs)
      assert(hdr.tileParts.size == parts,
        s"fixture should emit $parts tile-parts")
      assert(Jp2.decode(cs)._2.toSeq == img.toSeq, s"parts=$parts")
    }
  }

  test("full decode with SOP/EPH markers (real encoders emit them)") {
    val rng = new Random(71)
    val (w, h) = (48, 40)
    val img = Array.fill(w * h)(rng.nextInt(256))
    val cs = graft.Jp2Fixture.encode(img, w, h, levels = 2, sopEph = true)
    // the markers are really in the stream
    assert(cs.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0x91))
    assert(cs.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0x92))
    assert(Jp2.decode(cs)._2.toSeq == img.toSeq)
    // and combined with the tile-part split
    val cs2 = graft.Jp2Fixture.encode(img, w, h, levels = 2, sopEph = true,
      tileParts = 2)
    assert(Jp2.decode(cs2)._2.toSeq == img.toSeq)
  }

  test("full decode: structured content (flat regions, gradients, edges)") {
    val (w, h) = (96, 64)
    val flat = Array.fill(w * h)(200)
    val gradient = Array.tabulate(w * h)(i => (i % w) * 255 / (w - 1))
    val edges = Array.tabulate(w * h) { i =>
      if ((i % w) / 16 % 2 == 0 ^ (i / w) / 16 % 2 == 0) 255 else 0
    }
    for (img <- Seq(flat, gradient, edges)) {
      val cs = graft.Jp2Fixture.encode(img, w, h, levels = 3)
      assert(Jp2.decode(cs)._2.toSeq == img.toSeq)
    }
  }

  test("full decode inside a JP2 container, 12-bit Sentinel-style depth") {
    val rng = new Random(44)
    val (w, h) = (40, 56)
    val img = Array.fill(w * h)(rng.nextInt(1 << 12))
    val cs = graft.Jp2Fixture.encode(img, w, h, levels = 4, bitDepth = 12)
    val (hdr, px) = Jp2.decode(jp2Container(cs))
    assert(hdr.bitDepth == 12)
    assert(px.toSeq == img.toSeq)
  }

  test("9/7 wavelet: forward/inverse mirror to machine precision") {
    val rng = new Random(97)
    for {
      (w, h) <- Seq((1, 1), (7, 7), (13, 9), (64, 48), (33, 65))
      levels <- Seq(1, 3)
    } {
      val img = Array.fill(w * h)(rng.nextInt(4096) - 2048.0)
      val rt = graft.sources.Wavelet97.inverse2d(
        graft.sources.Wavelet97.forward2d(img, w, h, levels), w, h, levels)
      val maxErr = img.zip(rt).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr < 1e-6, s"${w}x$h levels=$levels err=$maxErr")
    }
  }

  test("full decode of an irreversible 9/7 codestream within the " +
      "quantization error bound") {
    val rng = new Random(79)
    for ((w, h, levels, depth) <- Seq((64, 48, 3, 8), (40, 56, 2, 12))) {
      val img = Array.fill(w * h)(rng.nextInt(1 << depth))
      val cs = graft.Jp2Fixture.encode97(img, w, h, levels, bitDepth = depth)
      val (hdr, px) = Jp2.decode(cs)
      assert(!hdr.reversible && hdr.sbMantissas.nonEmpty)
      val errs = img.zip(px).map { case (a, b) => math.abs(a - b) }
      val mean = errs.sum.toDouble / errs.length
      // Δ = 1 midpoint quantization: per-coefficient error ≤ 0.5,
      // bounded pixel error through the 9/7 synthesis gain
      assert(errs.max <= 8, s"${w}x$h: max error ${errs.max}")
      assert(mean <= 1.5, s"${w}x$h: mean error $mean")
    }
  }

  test("irreversible 9/7 without expounded quantization is rejected") {
    // reversible=false but QCD style 0 — an out-of-profile mix
    val bytes = codestream(32, 32, 8, 2, reversible = false, Array[Byte](0))
    val err = intercept[IllegalArgumentException] { Jp2.decode(bytes) }
    assert(err.getMessage.contains("9/7"))
  }

  test("corrupted codestreams fail loudly, never decode to wrong pixels") {
    val rng = new Random(13)
    val (w, h) = (32, 32)
    val img = Array.fill(w * h)(rng.nextInt(256))
    val good = graft.Jp2Fixture.encode(img, w, h, levels = 2)
    // truncation anywhere in the marker region must throw, not
    // fabricate pixels
    for (cut <- Seq(3, 20, 60)) {
      intercept[Exception] { Jp2.decode(good.take(cut)) }
    }
    // a codestream whose packet data is torn off mid-stream must not
    // return silently plausible pixels for the missing region: either
    // it throws, or (MQ's marker-termination feeds 1-bits) the result
    // differs from the original — never a false bit-exact success
    val tornAt = good.length - 40
    val torn = good.take(tornAt) ++ Array[Byte](0xFF.toByte, 0xD9.toByte)
    val res = scala.util.Try(Jp2.decode(torn))
    res.foreach { case (_, px) =>
      assert(px.toSeq != img.toSeq,
        "a torn stream must not decode bit-exactly")
    }
  }

  test("multi-component decode: every plane round-trips bit-exactly " +
      "through the interleaved LRCP packet stream (no MCT)") {
    val rng = new Random(83)
    for ((w, h, levels, nc) <- Seq((48, 40, 3, 3), (33, 27, 2, 2),
        (16, 16, 1, 4), (64, 1, 2, 3))) {
      val planes = Seq.fill(nc)(Array.fill(w * h)(rng.nextInt(256)))
      val cs = graft.Jp2Fixture.encodeMulti(planes, w, h, levels)
      val hdr = Jp2.parseHeader(cs)
      assert(hdr.components == nc && !hdr.mct)
      // jointly
      val (_, all) = Jp2.decodeAll(cs)
      assert(all.size == nc)
      for (c <- 0 until nc)
        assert(all(c).toSeq == planes(c).toSeq,
          s"${w}x$h levels=$levels comp=$c of $nc (decodeAll)")
      // and per-component through the single-plane entry point
      for (c <- 0 until nc)
        assert(Jp2.decode(cs, component = c)._2.toSeq == planes(c).toSeq,
          s"${w}x$h comp=$c of $nc (decode)")
    }
  }

  test("RGB with the reversible color transform round-trips " +
      "bit-exactly; a 4th component passes through untouched") {
    val rng = new Random(89)
    for ((w, h, levels, nc) <- Seq((48, 40, 3, 3), (33, 27, 2, 4))) {
      val planes = Seq.fill(nc)(Array.fill(w * h)(rng.nextInt(256)))
      val cs = graft.Jp2Fixture.encodeMulti(planes, w, h, levels,
        mct = true)
      val hdr = Jp2.parseHeader(cs)
      assert(hdr.mct, "COD must signal the MCT")
      // the coded planes really are color-transformed: component 0
      // alone (Y) must NOT equal the red plane for random content
      val (_, all) = Jp2.decodeAll(cs)
      for (c <- 0 until nc)
        assert(all(c).toSeq == planes(c).toSeq,
          s"${w}x$h levels=$levels comp=$c of $nc (RCT round-trip)")
      // structured content too (flat + gradient + edges as R/G/B)
      val flat = Array.fill(w * h)(200)
      val grad = Array.tabulate(w * h)(i => (i % w) * 255 / (w - 1))
      val edge = Array.tabulate(w * h) { i =>
        if ((i % w) / 8 % 2 == 0 ^ (i / w) / 8 % 2 == 0) 255 else 0
      }
      val cs2 = graft.Jp2Fixture.encodeMulti(
        Seq(flat, grad, edge).map(_.toArray), w, h, levels, mct = true)
      val (_, all2) = Jp2.decodeAll(cs2)
      assert(all2(0).toSeq == flat.toSeq && all2(1).toSeq == grad.toSeq
        && all2(2).toSeq == edge.toSeq)
    }
  }

  test("all five progression orders round-trip: one layer and one " +
      "precinct collapse them to res-major (LRCP/RLCP/RPCL) vs " +
      "component-major (PCRL/CPRL) packet sequences; unknown orders " +
      "refuse") {
    val rng = new Random(97)
    val (w, h) = (40, 32)
    val planes = Seq.fill(3)(Array.fill(w * h)(rng.nextInt(256)))
    for (prog <- 0 to 4; mct <- Seq(false, true)) {
      val cs = graft.Jp2Fixture.encodeMulti(planes, w, h, levels = 2,
        mct = mct, progression = prog)
      assert(Jp2.parseHeader(cs).progression == prog)
      val (_, all) = Jp2.decodeAll(cs)
      for (c <- 0 until 3)
        assert(all(c).toSeq == planes(c).toSeq,
          s"prog=$prog mct=$mct comp=$c")
    }
    // an out-of-spec progression value must refuse, never guess the
    // packet sequence
    val cs = graft.Jp2Fixture.encodeMulti(planes, w, h, levels = 2)
    val codAt = cs.indices.find(i =>
      (cs(i) & 0xff) == 0xff && i + 1 < cs.length &&
        (cs(i + 1) & 0xff) == 0x52).get
    val bad = cs.clone()
    bad(codAt + 5) = 7
    val e = intercept[IllegalArgumentException] { Jp2.decodeAll(bad) }
    assert(e.getMessage.contains("progression"))
  }

  test("single-component decode of an MCT stream refuses with a " +
      "pointer to decodeAll (a YCbCr plane is not pixels)") {
    val rng = new Random(91)
    val (w, h) = (32, 24)
    val planes = Seq.fill(3)(Array.fill(w * h)(rng.nextInt(256)))
    val cs = graft.Jp2Fixture.encodeMulti(planes, w, h, levels = 2,
      mct = true)
    val e = intercept[IllegalArgumentException] { Jp2.decode(cs) }
    assert(e.getMessage.contains("decodeAll"))
    // decodeAll on a single-component stream is the identity case
    val one = graft.Jp2Fixture.encode(planes.head, w, h, levels = 2)
    val (h1, all1) = Jp2.decodeAll(one)
    assert(h1.components == 1 && all1.size == 1)
    assert(all1.head.toSeq == planes.head.toSeq)
  }

  test("decodeReduced: the overview read reconstructs the EXACT LL_d " +
      "of the source (5/3), at every discard level, odd dimensions") {
    val rng = new Random(31)
    val (w, h) = (97, 61) // odd at every halving — the ceil-recursion case
    val img = Array.fill(w * h)(rng.nextInt(1 << 12))
    val bytes = graft.Jp2Fixture.encode(img, w, h, levels = 3, bitDepth = 12)
    // discard = 0 is the full decode
    val (_, w0, h0, px0) = Jp2.decodeReduced(bytes, 0)
    assert((w0, h0) == (w, h))
    assert(px0.toSeq == Jp2.decode(bytes)._2.toSeq)
    val shift = 1 << 11
    for (d <- 1 to 3) {
      val (_, wr, hr, px) = Jp2.decodeReduced(bytes, d)
      var (ew, eh) = (w, h)
      (0 until d).foreach { _ => ew = (ew + 1) / 2; eh = (eh + 1) / 2 }
      assert((wr, hr) == (ew, eh), s"discard $d dims")
      // independent truth: forward-transform the DC-shifted source d
      // levels, keep the top-left LL_d rectangle, un-shift — the
      // decoder must match BIT-EXACTLY (reversible path, full
      // bitplanes), proving the kept packets carry the precise
      // low-resolution subbands and the detail packets were never
      // needed
      val fwd = Wavelet53.forward2d(img.map(_ - shift), w, h, d)
      val expected = Array.tabulate(wr * hr)(i =>
        fwd((i / wr) * w + (i % wr)) + shift)
      assert(px.toSeq == expected.toSeq, s"discard $d pixels diverged")
    }
    intercept[IllegalArgumentException](Jp2.decodeReduced(bytes, 4))
  }

  test("multi-tile decode: an aligned tile grid round-trips " +
      "BIT-EXACTLY, edge tiles clipped, and the overview read " +
      "assembles the per-tile LL_d planes exactly") {
    val rng = new Random(67)
    val (w, h, levels) = (97, 61, 3) // odd image dims -> clipped edge tiles
    val (tileW, tileH) = (32, 16)    // divisible by 2^3: the aligned profile
    val img = Array.fill(w * h)(rng.nextInt(256))
    val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, tileW, tileH,
      levels)
    val hdr = Jp2.parseHeader(bytes)
    assert(hdr.tileWidth == tileW && hdr.tileHeight == tileH)
    assert(hdr.tileParts.map(_.tileIndex).distinct.size == 16,
      "4x4 grid -> 16 tiles") // ceil(97/32) x ceil(61/16) = 4 x 4
    // full decode: every tile decodes against its own geometry and
    // lands at its canvas origin — bit-exact vs the source
    val (_, px) = Jp2.decode(bytes)
    assert(px.toSeq == img.toSeq, "multi-tile round-trip diverged")
    // the overview read: per-tile truth — forward-transform each
    // DC-shifted tile d levels, keep its top-left ceil-halved
    // rectangle, place at the halved origin (exact because the grid
    // is aligned: origins stay integral under halving)
    val shift = 128
    for (d <- 1 to levels) {
      val (_, wr, hr, red) = Jp2.decodeReduced(bytes, d)
      def halved(v0: Int): Int = {
        var v = v0; (0 until d).foreach(_ => v = (v + 1) / 2); v
      }
      assert((wr, hr) == (halved(w), halved(h)), s"discard $d dims")
      val expected = new Array[Int](wr * hr)
      for (ty <- 0 until (h + tileH - 1) / tileH;
           tx <- 0 until (w + tileW - 1) / tileW) {
        val (x0, y0) = (tx * tileW, ty * tileH)
        val (tw, th) = (math.min(tileW, w - x0), math.min(tileH, h - y0))
        val tpx = Array.tabulate(tw * th)(i =>
          img((y0 + i / tw) * w + (x0 + i % tw)) - shift)
        val fwd = Wavelet53.forward2d(tpx, tw, th, d)
        val (twr, thr) = (halved(tw), halved(th))
        for (y <- 0 until thr; x <- 0 until twr)
          expected(((y0 >> d) + y) * wr + ((x0 >> d) + x)) =
            fwd(y * tw + x) + shift
      }
      assert(red.toSeq == expected.toSeq, s"discard $d pixels diverged")
    }
  }

  test("multi-tile 9/7 decode: each tile dequantizes against its own " +
      "layout, full and overview reads within the quantization bound") {
    val rng = new Random(71)
    val (w, h, levels, depth) = (72, 56, 3, 8) // clipped 8- and 24-wide edges
    val (tileW, tileH) = (32, 32)              // divisible by 2^3
    val img = Array.fill(w * h)(rng.nextInt(1 << depth))
    val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, tileW, tileH,
      levels, bitDepth = depth, irreversible = true)
    val hdr = Jp2.parseHeader(bytes)
    assert(!hdr.reversible && hdr.tileParts.map(_.tileIndex).distinct.size == 6)
    // the single-tile 9/7 bounds: Δ = 1 midpoint quantization through
    // the synthesis gain
    val (_, px) = Jp2.decode(bytes)
    val errs = img.zip(px).map { case (a, b) => math.abs(a - b) }
    assert(errs.max <= 8, s"max error ${errs.max}")
    assert(errs.sum.toDouble / errs.length <= 1.5, "mean error")
    // overview read, d = 1: per-tile truth is the UNQUANTIZED LL_1 of
    // each DC-shifted tile, placed at the halved tile origin
    val shift = 1 << (depth - 1)
    val (_, wr, hr, red) = Jp2.decodeReduced(bytes, 1)
    assert((wr, hr) == ((w + 1) / 2, (h + 1) / 2))
    val truth = new Array[Double](wr * hr)
    for (y0 <- 0 until h by tileH; x0 <- 0 until w by tileW) {
      val (tw, th) = (math.min(tileW, w - x0), math.min(tileH, h - y0))
      val fwd = graft.sources.Wavelet97.forward2d(Array.tabulate(tw * th)(i =>
        (img((y0 + i / tw) * w + (x0 + i % tw)) - shift).toDouble), tw, th, 1)
      for (y <- 0 until (th + 1) / 2; x <- 0 until (tw + 1) / 2)
        truth(((y0 >> 1) + y) * wr + ((x0 >> 1) + x)) = fwd(y * tw + x) + shift
    }
    val rerrs = red.zip(truth).map { case (a, t) => math.abs(a - t) }
    assert(rerrs.max <= 16, s"discard 1: max error ${rerrs.max}")
    assert(rerrs.sum / rerrs.length <= 3.0, "discard 1: mean error")
  }

  test("multi-tile decode: seeded property sweep — random aligned " +
      "grids, dims, depths, and content all round-trip bit-exactly") {
    val rng = new Random(79)
    for (trial <- 1 to 6) {
      val levels = 1 + rng.nextInt(3)
      val step = 1 << levels
      val (w, h) = (17 + rng.nextInt(110), 13 + rng.nextInt(90))
      val tileW = step * (1 + rng.nextInt(4))
      val tileH = step * (1 + rng.nextInt(4))
      val depth = Seq(8, 12)(rng.nextInt(2))
      val img = Array.fill(w * h)(rng.nextInt(1 << depth))
      val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, tileW, tileH,
        levels, bitDepth = depth)
      val (hdr, px) = Jp2.decode(bytes)
      val nTiles = ((w + tileW - 1) / tileW) * ((h + tileH - 1) / tileH)
      assert(hdr.tileParts.map(_.tileIndex).distinct.size == nTiles)
      assert(px.toSeq == img.toSeq,
        s"trial $trial: ${w}x$h tiles ${tileW}x$tileH levels=$levels " +
          s"depth=$depth diverged")
    }
  }

  test("multi-tile decode: seeded property sweep over NON-ORIGIN " +
      "grids (XTOsiz/YTOsiz and XOsiz/YOsiz != 0, 2^levels-aligned) " +
      "with SOP/EPH markers — round-trips bit-exactly, first tile " +
      "row/column clipped to the image area") {
    val rng = new Random(141)
    for (trial <- 1 to 8) {
      val levels = 1 + rng.nextInt(3)
      val step = 1 << levels
      val (w, h) = (17 + rng.nextInt(90), 13 + rng.nextInt(70))
      val tileW = step * (1 + rng.nextInt(4))
      val tileH = step * (1 + rng.nextInt(4))
      // aligned origins: the image sits at a 2^levels multiple on the
      // canvas, the tile grid at or before it within the first tile
      val xTOff = step * rng.nextInt(3)
      val yTOff = step * rng.nextInt(3)
      val maxDx = (tileW + xTOff - 1 - xTOff) / step // xOff < xTOff+tileW
      val xOff = xTOff + step * rng.nextInt(math.max(1, maxDx))
      val maxDy = (tileH + yTOff - 1 - yTOff) / step
      val yOff = yTOff + step * rng.nextInt(math.max(1, maxDy))
      val sopEph = trial % 2 == 0
      val img = Array.fill(w * h)(rng.nextInt(256))
      val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, tileW,
        tileH, levels, xOff = xOff, yOff = yOff, xTOff = xTOff,
        yTOff = yTOff, sopEph = sopEph)
      val hdr = Jp2.parseHeader(bytes)
      assert((hdr.xOff, hdr.yOff, hdr.xTOff, hdr.yTOff) ==
        ((xOff, yOff, xTOff, yTOff)), s"trial $trial header offsets")
      assert((hdr.width, hdr.height) == ((w, h)),
        "width/height are the image EXTENT (Xsiz - XOsiz)")
      val (_, px) = Jp2.decode(bytes)
      assert(px.toSeq == img.toSeq,
        s"trial $trial: ${w}x$h at ($xOff,$yOff), tiles " +
          s"${tileW}x$tileH at ($xTOff,$yTOff), levels=$levels, " +
          s"sopEph=$sopEph diverged")
      // the overview read stays exact under offset grids (origins
      // remain integral at every halving)
      val (_, wr, hr, _) = Jp2.decodeReduced(bytes, 1)
      assert((wr, hr) == (((w + 1) / 2, (h + 1) / 2)))
    }
  }

  test("multi-tile decode: an UNALIGNED grid ORIGIN refuses loudly " +
      "(tile dims aligned, origin not)") {
    val rng = new Random(143)
    val (w, h, levels) = (60, 40, 2)
    val img = Array.fill(w * h)(rng.nextInt(256))
    // 2 % 2^2 != 0: the per-tile lifting parity would diverge
    val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, 16, 16,
      levels, xOff = 2, yOff = 0, xTOff = 2, yTOff = 0)
    val e = intercept[IllegalArgumentException] { Jp2.decode(bytes) }
    assert(e.getMessage.contains("align"), e.getMessage)
    intercept[IllegalArgumentException] { Jp2.decodeReduced(bytes, 1) }
  }

  test("parseHeader: a tile-grid origin PAST the image origin " +
      "(XTOsiz > XOsiz, non-conformant per A.5.1) refuses at parse") {
    val rng = new Random(145)
    val (w, h, levels) = (32, 32, 1)
    val img = Array.fill(w * h)(rng.nextInt(256))
    val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, 16, 16, levels)
    // corrupt XTOsiz to 4 > XOsiz = 0: SOC(2) + SIZ marker(2) +
    // Lsiz(2) -> payload at 6, XTOsiz int32 at 6+26 = 32..35
    val bad = bytes.clone()
    bad(35) = 4
    val e = intercept[IllegalArgumentException] { Jp2.parseHeader(bad) }
    assert(e.getMessage.contains("XTOsiz"), e.getMessage)
  }

  test("multi-tile decode: a stream missing one tile's tile-part " +
      "refuses with the tile named, never returns a hole") {
    val rng = new Random(73)
    val (w, h, levels) = (64, 32, 2)
    val img = Array.fill(w * h)(rng.nextInt(256))
    val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, 32, 16, levels)
    // excise tile 2's SOT..data span (parse gives exact offsets); the
    // remaining stream is well-formed but incomplete
    val hdr = Jp2.parseHeader(bytes)
    assert(hdr.tileParts.size == 4)
    val victim = hdr.tileParts.find(_.tileIndex == 2).get
    // SOT starts 12 bytes + SOD(2) before the data
    val sotStart = victim.dataOffset - 14
    val cut = bytes.take(sotStart) ++
      bytes.drop(victim.dataOffset + victim.dataLength)
    val e = intercept[IllegalArgumentException] { Jp2.decode(cut) }
    assert(e.getMessage.contains("tile 2"), e.getMessage)
  }

  test("multi-tile decode: an UNALIGNED tile grid refuses loudly " +
      "instead of mis-decoding near tile seams") {
    val rng = new Random(71)
    val (w, h, levels) = (60, 40, 3)
    val img = Array.fill(w * h)(rng.nextInt(256))
    // 20 % 2^3 != 0: per-tile local subband split would diverge from
    // the canvas-coordinate one
    val bytes = graft.Jp2Fixture.encodeTiledGrid(img, w, h, 20, 16, levels)
    val e = intercept[IllegalArgumentException] { Jp2.decode(bytes) }
    assert(e.getMessage.contains("align"), e.getMessage)
    intercept[IllegalArgumentException] { Jp2.decodeReduced(bytes, 1) }
  }

  test("decodeReduced: the 9/7 overview read stays within the " +
      "quantization bound of the forward-transformed LL_d truth, " +
      "with per-subband steps varying BY QCD INDEX") {
    val rng = new Random(47)
    val (w, h, levels, depth) = (61, 45, 3, 8) // odd at every halving
    val img = Array.fill(w * h)(rng.nextInt(1 << depth))
    // varySteps alternates Δ_b ∈ {1, 2} by qcdIdx, so dequantizing a
    // kept subband through the WRONG QCD slot (the risk decodeReduced
    // runs: it re-enumerates subbands in the REDUCED wr×hr layout and
    // assumes those qcdIdx values coincide with the original stream's)
    // would halve/double its coefficients and blow the bound
    val bytes = graft.Jp2Fixture.encode97(img, w, h, levels,
      bitDepth = depth, varySteps = true)
    // discard = 0 must equal the full decode exactly
    val (_, w0, h0, px0) = Jp2.decodeReduced(bytes, 0)
    assert((w0, h0) == (w, h))
    assert(px0.toSeq == Jp2.decode(bytes)._2.toSeq)
    val shift = 1 << (depth - 1)
    val shifted = img.map(v => (v - shift).toDouble)
    for (d <- 1 to levels) {
      val (_, wr, hr, px) = Jp2.decodeReduced(bytes, d)
      var (ew, eh) = (w, h)
      (0 until d).foreach { _ => ew = (ew + 1) / 2; eh = (eh + 1) / 2 }
      assert((wr, hr) == (ew, eh), s"discard $d dims")
      // independent truth: the UNQUANTIZED LL_d — forward 9/7 the
      // DC-shifted source d levels, keep the top-left rectangle,
      // un-shift. Midpoint dequantization bounds each coefficient's
      // error by Δ_b/2 ≤ 1; the 9/7 synthesis gain over ≤ 3 levels
      // keeps the pixel error within the same envelope the full-
      // decode test pins (max ≤ 16, mean ≤ 3 at Δ ≤ 2)
      val fwd = graft.sources.Wavelet97.forward2d(shifted, w, h, d)
      val truth = Array.tabulate(wr * hr)(i =>
        fwd((i / wr) * w + (i % wr)) + shift)
      val errs = px.zip(truth).map { case (a, t) => math.abs(a - t) }
      val mean = errs.sum / errs.length
      assert(errs.max <= 16, s"discard $d: max error ${errs.max}")
      assert(mean <= 3.0, s"discard $d: mean error $mean")
    }
  }

  test("hostile inputs: random bytes and truncated real codestreams " +
      "refuse in bounded time — never hang, never return pixels") {
    val rng = new Random(83)
    // pure noise at several sizes
    (1 to 40).foreach { i =>
      val junk = Array.fill(rng.nextInt(4000))((rng.nextInt(256) - 128).toByte)
      val t0 = System.nanoTime()
      intercept[Exception](Jp2.decode(junk))
      assert((System.nanoTime() - t0) / 1e9 < 5.0, s"noise $i too slow")
    }
    // a VALID stream truncated at every kind of boundary: the parser
    // or the entropy stage must throw, and must never fabricate a
    // full pixel plane from a partial stream
    val img = Array.fill(48 * 32)(rng.nextInt(1 << 12))
    val good = graft.Jp2Fixture.encode(img, 48, 32, levels = 2, bitDepth = 12)
    val cuts = Seq(1, 2, 10, 20, 45, 80, good.length / 2,
      good.length - 20, good.length - 3, good.length - 1)
    cuts.foreach { cut =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(Jp2.decode(good.take(cut)))
      assert((System.nanoTime() - t0) / 1e9 < 5.0, s"cut $cut too slow")
      r match {
        case scala.util.Failure(_) => // refused: correct
        case scala.util.Success((_, px)) =>
          // tolerated only if the cut removed nothing decode needs
          // (trailing EOC padding); pixels must still be EXACT
          assert(px.toSeq == img.toSeq,
            s"cut $cut returned WRONG pixels instead of refusing")
      }
    }
    // random single-byte corruption in the header region must refuse
    // or produce a decode error — not crash the JVM or loop
    (1 to 30).foreach { i =>
      val bad = good.clone()
      val at = rng.nextInt(80)
      bad(at) = (bad(at) ^ (1 << rng.nextInt(8))).toByte
      val t0 = System.nanoTime()
      scala.util.Try(Jp2.decode(bad)) // either refuses or decodes junk
      assert((System.nanoTime() - t0) / 1e9 < 5.0, s"corrupt $i too slow")
    }
  }

  test("the fixture encoder's output bytes are pinned: SHA-256 of a " +
      "fixed set of encodings") {
    // Digests of the encoder as it was before its tier-1 scan became
    // plain while loops; any change to the emitted bytes (pass order,
    // contexts, packet headers, markers) breaks this pin. The images
    // mix a flat band (run-length mode, all-zero blocks) with a
    // product field plus noise (dense blocks).
    def img(w: Int, h: Int, bits: Int, seed: Long): Array[Int] = {
      val rng = new Random(seed)
      val max = (1 << bits) - 1
      Array.tabulate(w * h) { i =>
        val (x, y) = (i % w, i / w)
        if (y < h / 4) 0
        else math.min(max, (x * y) % (max + 1) / 2 + rng.nextInt(1 << (bits - 3)))
      }
    }
    val F = graft.Jp2Fixture
    val encodings = Seq(
      "encode 64x64 8-bit" -> F.encode(img(64, 64, 8, 1), 64, 64, levels = 3),
      "encode 256x256 12-bit, 2 tile-parts" -> F.encode(img(256, 256, 12, 2),
        256, 256, levels = 4, bitDepth = 12, tileParts = 2),
      "encode 37x29 10-bit, 8x4 blocks, SOP/EPH, 3 tile-parts" ->
        F.encode(img(37, 29, 10, 3), 37, 29, levels = 2, bitDepth = 10,
          cbw = 8, cbh = 4, tileParts = 3, sopEph = true),
      "encodeMulti RCT, RPCL" -> F.encodeMulti(
        Seq(img(48, 40, 8, 4), img(48, 40, 8, 5), img(48, 40, 8, 6)), 48, 40,
        levels = 3, mct = true, progression = 2),
      "encode97 varySteps" -> F.encode97(img(40, 40, 8, 7), 40, 40, levels = 2,
        varySteps = true),
      "encodeTiledGrid 64x48, 32x32 tiles" -> F.encodeTiledGrid(
        img(64, 48, 8, 8), 64, 48, tileW = 32, tileH = 32, levels = 2))
    val pinned = Seq(
      "58fe1791cfbe7dde29756b790433dd2a4235a71886ed73cc728b7fed0098d239",
      "d9e9f08e12c3c344f24935946dd48ae2082d9dc37377caedee15efa0d5655b0d",
      "677455812ecb67b3ea48ab24709f1813ec205c9e7f0e27635f4417cae4c74932",
      "08ef761117b9914c964a9ece03901b7f68541424ec58d9d03d6373e1b04bd896",
      "e3a9c76a7a6b8bf4f943eba0caa6f3225d6a44f7c40340f723160fc5caeabe7c",
      "89d60e7c83d003d589fe91e9bc716ffa1e888a7adf34b8fa061ed90aca03406a")
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    val got = encodings.map { case (_, b) => sha(b) }
    encodings.zip(got).zip(pinned).foreach { case (((name, _), g), want) =>
      assert(g == want, s"$name: digest $g, pinned $want")
    }
  }

  test("decoded pixels are pinned: SHA-256 of the decode of a fixed " +
      "set of encodings") {
    // Digest of width, height, then every plane's samples as
    // big-endian ints. The 9/7 path is only error-bounded elsewhere,
    // so this is what pins its exact output.
    // The fixture has no tiled 9/7 encoder: the multi-tile streams
    // are 5/3.
    def img(w: Int, h: Int, bits: Int, seed: Long): Array[Int] = {
      val rng = new Random(seed)
      val max = (1 << bits) - 1
      Array.tabulate(w * h) { i =>
        val (x, y) = (i % w, i / w)
        if (y < h / 4) 0
        else math.min(max, (x * y) % (max + 1) / 2 + rng.nextInt(1 << (bits - 3)))
      }
    }
    val F = graft.Jp2Fixture
    def full(b: Array[Byte]) = {
      val (h, px) = Jp2.decode(b)
      (h.width, h.height, Seq(px))
    }
    def reduced(b: Array[Byte], d: Int) = {
      val (_, w, h, px) = Jp2.decodeReduced(b, d)
      (w, h, Seq(px))
    }
    val lossy = F.encode97(img(61, 47, 12, 9), 61, 47, levels = 3,
      bitDepth = 12)
    val tiled = F.encodeTiledGrid(img(97, 61, 8, 10), 97, 61, tileW = 32,
      tileH = 16, levels = 3)
    val decodes = Seq(
      "9/7 40x40 varySteps" -> full(F.encode97(img(40, 40, 8, 7), 40, 40,
        levels = 2, varySteps = true)),
      "9/7 61x47 12-bit" -> full(lossy),
      "9/7 61x47 12-bit, decodeReduced d=1" -> reduced(lossy, 1),
      "9/7 61x47 12-bit, decodeReduced d=2" -> reduced(lossy, 2),
      "97x61, 32x16 tiles" -> full(tiled),
      "97x61, 32x16 tiles, decodeReduced d=1" -> reduced(tiled, 1),
      "70x45, 16x16 tiles, origins (8,4), grid (4,0)" -> full(
        F.encodeTiledGrid(img(70, 45, 8, 11), 70, 45, tileW = 16,
          tileH = 16, levels = 2, xOff = 8, yOff = 4, xTOff = 4)),
      "decodeAll RCT, RPCL" -> {
        val (h, planes) = Jp2.decodeAll(F.encodeMulti(
          Seq(img(48, 40, 8, 4), img(48, 40, 8, 5), img(48, 40, 8, 6)),
          48, 40, levels = 3, mct = true, progression = 2))
        (h.width, h.height, planes)
      },
      "37x29 10-bit, SOP/EPH, 3 tile-parts" -> full(F.encode(
        img(37, 29, 10, 3), 37, 29, levels = 2, bitDepth = 10, cbw = 8,
        cbh = 4, tileParts = 3, sopEph = true)))
    val pinned = Seq(
      "b29d8970ee95b448981423addfaf5f2ac22f0cb8d5f390bc9a18966a0d6585fa",
      "f879fa8f6c8b5573ba2c0bb9ca1999e510a833814aa759f506a0aa46a07743f0",
      "0a533c2386bcf9f3e744c9c824e9f86fb8797b6e9a7e0a527e2271ccf0ad6a00",
      "2d391b84dae8a15f69f6ec674b0434c37a34eeb0941e4a1ef4ea10143edc0813",
      "ed898c0f382a340f2484c09e3ba3b810a3a0566583dd3de20488cf11f4ed9be6",
      "a8025e6ee9e08ed326b2b97bca2c1e942390511d35a954ced1a9877f94d0ad90",
      "69a9cb3c826ffb56c8b46f0028f5f3cb4fe577e8ad6fc58c3248ac0ed0bf4f4d",
      "68361aaff94932a9dd19b3d751f67eff2aa9c79af634be294c5320758b3b53d8",
      "41598784ea496fbca5aeef528ae42311c898918782ce2061edf67022f56505a4")
    def sha(w: Int, h: Int, planes: Seq[Array[Int]]): String = {
      val buf = java.nio.ByteBuffer.allocate(4 * (2 + planes.map(_.length).sum))
      buf.putInt(w).putInt(h)
      planes.foreach(p => p.foreach(buf.putInt))
      java.security.MessageDigest.getInstance("SHA-256").digest(buf.array())
        .map(x => f"${x & 0xff}%02x").mkString
    }
    val got = decodes.map { case (_, (w, h, planes)) => sha(w, h, planes) }
    decodes.zip(got).zip(pinned).foreach { case (((name, _), g), want) =>
      assert(g == want, s"$name: digest $g, pinned $want")
    }
  }
}
