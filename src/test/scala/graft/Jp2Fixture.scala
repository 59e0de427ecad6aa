package graft

import graft.sources.{Ebcot, Mq, Tier2, Wavelet53, Wavelet97}
import java.io.{ByteArrayOutputStream, DataOutputStream}

/** TEST-ONLY JPEG 2000 encoder — the golden-fixture generator that
  * proves [[graft.sources.Jp2]]'s entropy stage end-to-end: it emits a
  * spec-conformant reversible single-tile codestream (SIZ/COD/QCD +
  * one SOT/SOD tile-part, LRCP single-layer packets, tier-1 coded
  * code-blocks) that Jp2.decode must reproduce bit-exactly. The
  * library deliberately ships no JP2 WRITER (the reference never
  * writes JP2 — only GeoTIFF, S7); this lives in test scope.
  *
  * The encoder mirrors Ebcot's decoder pass structure but forms its
  * contexts with its own code ([[Block]], a direct neighbour scan),
  * independent of the decoder's flag-word kernel; the two share only
  * the Table D.1-D.3 rules (`Ebcot.zcContext`/`scContext`), the
  * context numbering and initial states (`Ebcot.freshContexts`), and
  * the MQ coder, which MqSpec pins on its own.
  */
object Jp2Fixture {
  import Ebcot.{CxMr, CxZc, scContext, zcContext}

  val guardBits = 2

  /** Per-block coding state of the encoder: significance, signs,
    * the per-plane visited flag (pi) and the refined flag, with the
    * Annex D contexts formed by scanning the neighbours directly —
    * an implementation independent of the decoder's flag-word kernel
    * ([[Ebcot.decodeBlock]]).
    */
  private final class Block(val w: Int, val h: Int, val band: Int) {
    val sig = new Array[Boolean](w * h)
    val neg = new Array[Boolean](w * h)
    val visited = new Array[Boolean](w * h)
    val refined = new Array[Boolean](w * h)

    private def sigAt(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h) 0
      else if (sig(y * w + x)) 1 else 0

    // significant neighbours: horizontal, vertical, diagonal
    private def hSum(x: Int, y: Int): Int = sigAt(x - 1, y) + sigAt(x + 1, y)
    private def vSum(x: Int, y: Int): Int = sigAt(x, y - 1) + sigAt(x, y + 1)
    private def dSum(x: Int, y: Int): Int =
      sigAt(x - 1, y - 1) + sigAt(x + 1, y - 1) +
        sigAt(x - 1, y + 1) + sigAt(x + 1, y + 1)

    def zcCx(x: Int, y: Int): Int =
      CxZc + zcContext(band, hSum(x, y), vSum(x, y), dSum(x, y))

    private def signContrib(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h || !sig(y * w + x)) 0
      else if (neg(y * w + x)) -1 else 1

    private def clamp(s: Int): Int = math.max(-1, math.min(1, s))

    def scCx(x: Int, y: Int): (Int, Int) =
      scContext(
        clamp(signContrib(x - 1, y) + signContrib(x + 1, y)),
        clamp(signContrib(x, y - 1) + signContrib(x, y + 1)))

    def mrCx(x: Int, y: Int): Int =
      if (refined(y * w + x)) CxMr + 2
      else if (hSum(x, y) + vSum(x, y) + dSum(x, y) > 0) CxMr + 1
      else CxMr

    /** Column starts a full 4-row stripe usable for run-length mode? */
    def rlEligible(x: Int, y0: Int): Boolean = {
      var ok = y0 + 3 < h
      var y = y0
      while (ok && y < y0 + 4) {
        val i = y * w + x
        ok = !sig(i) && !visited(i) && zcCx(x, y) == CxZc
        y += 1
      }
      ok
    }
  }

  /** Tier-1 encode one code-block; None when all-zero (the block is
    * then simply not included in its packet). Returns (MQ segment,
    * numbps, numPasses).
    */
  def encodeBlock(coeffs: Array[Int], w: Int, h: Int, band: Int)
      : Option[(Array[Byte], Int, Int)] = {
    val mag = coeffs.map(math.abs)
    val maxMag = mag.max
    if (maxMag == 0) return None
    val numbps = 32 - Integer.numberOfLeadingZeros(maxMag)
    val numPasses = 3 * numbps - 2
    val mq = new Mq.Encoder
    val cx = Ebcot.freshContexts()
    val blk = new Block(w, h, band)
    var pass = 0
    var plane = numbps - 1
    var passType = 2 // the MSB plane has only a cleanup pass
    while (pass < numPasses) {
      passType match {
        case 0 => spp(mq, cx, blk, mag, coeffs, plane)
        case 1 => mrp(mq, cx, blk, mag, plane)
        case 2 => cup(mq, cx, blk, mag, coeffs, plane)
      }
      pass += 1
      if (passType == 2) {
        plane -= 1; passType = 0
        java.util.Arrays.fill(blk.visited, false)
      } else passType += 1
    }
    Some((mq.flush(), numbps, numPasses))
  }

  private def encodeSign(mq: Mq.Encoder, cx: Mq.Contexts, blk: Block,
      coeffs: Array[Int], x: Int, y: Int): Unit = {
    val i = y * blk.w + x
    blk.sig(i) = true
    blk.neg(i) = coeffs(i) < 0
    val (sc, xor) = blk.scCx(x, y)
    mq.encode(cx, sc, (if (blk.neg(i)) 1 else 0) ^ xor)
  }

  // The three passes walk the tier-1 scan order: stripes of 4 rows,
  // columns left-to-right within a stripe, rows top-to-bottom within
  // a column.

  private def spp(mq: Mq.Encoder, cx: Mq.Contexts, blk: Block,
      mag: Array[Int], coeffs: Array[Int], plane: Int): Unit = {
    var y0 = 0
    while (y0 < blk.h) {
      val yEnd = math.min(y0 + 4, blk.h)
      var x = 0
      while (x < blk.w) {
        var y = y0
        while (y < yEnd) {
          val i = y * blk.w + x
          if (!blk.sig(i)) {
            val zc = blk.zcCx(x, y)
            if (zc != Ebcot.CxZc) {
              blk.visited(i) = true
              val bit = (mag(i) >>> plane) & 1
              mq.encode(cx, zc, bit)
              if (bit == 1) encodeSign(mq, cx, blk, coeffs, x, y)
            }
          }
          y += 1
        }
        x += 1
      }
      y0 += 4
    }
  }

  private def mrp(mq: Mq.Encoder, cx: Mq.Contexts, blk: Block,
      mag: Array[Int], plane: Int): Unit = {
    var y0 = 0
    while (y0 < blk.h) {
      val yEnd = math.min(y0 + 4, blk.h)
      var x = 0
      while (x < blk.w) {
        var y = y0
        while (y < yEnd) {
          val i = y * blk.w + x
          if (blk.sig(i) && !blk.visited(i)) {
            mq.encode(cx, blk.mrCx(x, y), (mag(i) >>> plane) & 1)
            blk.refined(i) = true
          }
          y += 1
        }
        x += 1
      }
      y0 += 4
    }
  }

  private def cup(mq: Mq.Encoder, cx: Mq.Contexts, blk: Block,
      mag: Array[Int], coeffs: Array[Int], plane: Int): Unit = {
    var y0 = 0
    while (y0 < blk.h) {
      val yEnd = math.min(y0 + 4, blk.h)
      var x = 0
      while (x < blk.w) {
        var y = y0
        if (blk.rlEligible(x, y0)) {
          // run-length mode: the first of the 4 rows whose bit is set
          var k = 0
          while (k < 4 && ((mag((y0 + k) * blk.w + x) >>> plane) & 1) == 0)
            k += 1
          if (k == 4) {
            mq.encode(cx, Ebcot.CxRl, 0)
          } else {
            mq.encode(cx, Ebcot.CxRl, 1)
            mq.encode(cx, Ebcot.CxUni, (k >> 1) & 1)
            mq.encode(cx, Ebcot.CxUni, k & 1)
            encodeSign(mq, cx, blk, coeffs, x, y0 + k)
          }
          y = y0 + k + 1
        }
        while (y < yEnd) {
          val i = y * blk.w + x
          if (!blk.sig(i) && !blk.visited(i)) {
            val bit = (mag(i) >>> plane) & 1
            mq.encode(cx, blk.zcCx(x, y), bit)
            if (bit == 1) encodeSign(mq, cx, blk, coeffs, x, y)
          }
          y += 1
        }
        x += 1
      }
      y0 += 4
    }
  }

  private case class Contribution(sbIdx: Int, data: Array[Byte],
      zeroBp: Int, numPasses: Int)

  /** Encode a full raw codestream (FF4F…FFD9): unsigned `bitDepth`
    * pixels, `levels` 5/3 decomposition levels, `cbw`×`cbh`
    * code-blocks (powers of two in [4, 1024]). `tileParts` > 1 splits
    * the packet stream across that many SOT/SOD tile-parts at packet
    * boundaries (the real Sentinel-2 one-part-per-resolution layout).
    */
  def encode(img: Array[Int], w: Int, h: Int, levels: Int,
      bitDepth: Int = 8, cbw: Int = 16, cbh: Int = 16,
      tileParts: Int = 1, sopEph: Boolean = false): Array[Byte] = {
    require(img.length == w * h)
    // DC shift + forward DWT (bit-exact partner of the decode path)
    val shifted = img.map(_ - (1 << (bitDepth - 1)))
    val coeffPlane = Wavelet53.forward2d(shifted, w, h, levels)
    val (packets, maxBps) = tier1Encode(coeffPlane, w, h, levels, cbw, cbh)
    val exps = maxBps.map(b => math.max(1, b - guardBits + 1))
    assemble(w, h, levels, bitDepth, cbw, cbh, tileParts, sopEph,
      reversible = true, guardBits, exps, None, Seq(packets), mct = false)
  }

  /** MULTI-COMPONENT reversible encode: each plane DC-shifts, then —
    * with `mct = true` — the forward REVERSIBLE color transform
    * (T.800 G.2.1: Y = floor((R + 2G + B) / 4); Cb = B − G;
    * Cr = R − G) maps the first three planes to Y/Cb/Cr before the
    * per-component 5/3 DWT. Packets interleave resolution-major,
    * component-minor (LRCP, one layer, one precinct); all components
    * share the main-header QCD (exponents = per-subband max over
    * components, which upper-bounds every block's bit-planes).
    */
  def encodeMulti(planes: Seq[Array[Int]], w: Int, h: Int, levels: Int,
      bitDepth: Int = 8, cbw: Int = 16, cbh: Int = 16,
      mct: Boolean = false, tileParts: Int = 1,
      progression: Int = 0): Array[Byte] = {
    require(planes.nonEmpty && planes.forall(_.length == w * h))
    require(!mct || planes.size >= 3, "RCT needs >= 3 components")
    require(progression >= 0 && progression <= 4)
    val shifted = planes.map(_.map(_ - (1 << (bitDepth - 1))))
    val xformed =
      if (!mct) shifted
      else {
        val (rP, gP, bP) = (shifted(0), shifted(1), shifted(2))
        val n = w * h
        val y = new Array[Int](n); val cb = new Array[Int](n)
        val cr = new Array[Int](n)
        var i = 0
        while (i < n) {
          y(i) = Math.floorDiv(rP(i) + 2 * gP(i) + bP(i), 4)
          cb(i) = bP(i) - gP(i)
          cr(i) = rP(i) - gP(i)
          i += 1
        }
        Seq(y, cb, cr) ++ shifted.drop(3)
      }
    val encoded = xformed.map(p =>
      tier1Encode(Wavelet53.forward2d(p, w, h, levels), w, h, levels,
        cbw, cbh))
    // shared QCD: per-subband max bit-planes over ALL components
    val maxBps = encoded.map(_._2).transpose.map(_.max)
    val exps = maxBps.map(b => math.max(1, b - guardBits + 1)).toArray
    assemble(w, h, levels, bitDepth, cbw, cbh, tileParts,
      sopEph = false, reversible = true, guardBits, exps, None,
      encoded.map(_._1), mct, progression)
  }

  /** Encode with the IRREVERSIBLE 9/7 transform + scalar-expounded
    * quantization (QCD style 2), step Δ_b = 1 (ε_b = R_b, μ_b = 0) so
    * the end-to-end reconstruction error is bounded by the midpoint
    * rule, not by coarse steps. Guard bits absorb whatever coefficient
    * growth the 9/7 synthesis produces.
    */
  def encode97(img: Array[Int], w: Int, h: Int, levels: Int,
      bitDepth: Int = 8, cbw: Int = 16, cbh: Int = 16,
      varySteps: Boolean = false): Array[Byte] = {
    require(img.length == w * h)
    val shifted = img.map(v => (v - (1 << (bitDepth - 1))).toDouble)
    val (q, exps) = quantize97(shifted, w, h, levels, bitDepth, varySteps)
    val (packets, maxBps) = tier1Encode(q, w, h, levels, cbw, cbh)
    assemble(w, h, levels, bitDepth, cbw, cbh, tileParts = 1,
      sopEph = false, reversible = false, guard97(maxBps, exps), exps,
      Some(Array.fill(exps.length)(0)), Seq(packets), mct = false)
  }

  /** Forward 9/7 of a DC-shifted plane, quantized per subband with
    * Δ_b = 2^(R_b − ε_b) = 1 (ε_b = R_b); with varySteps, Δ_b
    * alternates 1/2 BY QCD INDEX (ε_b = R_b − (qcdIdx mod 2)) so any
    * decoder that dequantizes a subband with the wrong QCD slot
    * halves/doubles its coefficients — an index misalignment becomes
    * a loud error instead of a silent no-op. Returns the quantized
    * plane and the per-subband exponents ε_b.
    */
  private def quantize97(shifted: Array[Double], w: Int, h: Int,
      levels: Int, bitDepth: Int, varySteps: Boolean = false)
      : (Array[Int], Array[Int]) = {
    val coeffs = Wavelet97.forward2d(shifted, w, h, levels)
    val resolutions = Tier2.subbands(w, h, levels)
    val gain = (b: Int) => if (b == 0) 0 else if (b == 3) 2 else 1
    val exps = new Array[Int](resolutions.map(_.size).sum)
    val q = new Array[Int](w * h)
    for (res <- resolutions; sb <- res) {
      val shift = if (varySteps) sb.qcdIdx % 2 else 0
      val delta = 1 << shift
      exps(sb.qcdIdx) = bitDepth + gain(sb.band) - shift
      for (y <- 0 until sb.h; x <- 0 until sb.w) {
        val i = (sb.y0 + y) * w + (sb.x0 + x)
        q(i) = (math.signum(coeffs(i)) *
          math.floor(math.abs(coeffs(i)) / delta)).toInt
      }
    }
    (q, exps)
  }

  /** Guard bits for the 9/7 path: Mb = G + ε_b − 1 must cover every
    * block's bit-planes.
    */
  private def guard97(maxBps: Array[Int], exps: Array[Int]): Int = {
    val guard = math.max(2, exps.indices.map(b => maxBps(b) - exps(b) + 1).max)
    require(guard <= 7, s"guard bits $guard exceed the 3-bit field")
    guard
  }

  private type Encoded =
    Seq[Seq[(Tier2.Subband, Seq[Tier2.CodeBlock],
      Seq[Option[(Array[Byte], Int, Int)]])]]

  /** Tier-1 encode every code-block of every subband; returns the
    * per-resolution structure plus per-subband max bit-planes.
    */
  private def tier1Encode(coeffPlane: Array[Int], w: Int, h: Int,
      levels: Int, cbw: Int, cbh: Int): (Encoded, Array[Int]) = {
    val resolutions = Tier2.subbands(w, h, levels)
    val maxBps = new Array[Int](resolutions.map(_.size).sum)
    val packets = resolutions.map { res =>
      res.map { sb =>
        val blocks = Tier2.codeBlocks(sb, cbw, cbh)
        val encoded = blocks.map { cb =>
          val blockCoeffs = Array.tabulate(cb.w * cb.h)(i =>
            coeffPlane((sb.y0 + cb.y0 + i / cb.w) * w + (sb.x0 + cb.x0 + i % cb.w)))
          val r = encodeBlock(blockCoeffs, cb.w, cb.h, sb.band)
          r.foreach { case (_, bps, _) =>
            maxBps(sb.qcdIdx) = math.max(maxBps(sb.qcdIdx), bps)
          }
          r
        }
        (sb, blocks, encoded)
      }
    }
    (packets, maxBps)
  }

  /** Tier-2 packets + markers around already-encoded blocks.
    * `compPackets` holds one [[Encoded]] per component; packets emit
    * resolution-major, component-minor (LRCP, one layer, one
    * precinct — B.12.1.1).
    */
  /** Encode a MULTI-TILE codestream: the image is cut on
    * a `tileW`×`tileH` grid (clipped at the edges) and each tile is
    * DC-shifted, transformed (reversible 5/3, or with `irreversible`
    * the 9/7 + Δ = 1 quantization of [[encode97]]), and tier-1 coded
    * INDEPENDENTLY against its own geometry — T.800's per-tile
    * pipeline under the aligned profile the decoder supports (grid
    * offsets 0; the caller picks tile dims divisible by 2^levels).
    * One tile-part per tile, raster order, Isot = tile index; the
    * main-header QCD carries per-subband max bit-planes over ALL
    * tiles (an upper bound for every tile's blocks, A.6.4's one-QCD
    * form).
    */
  def encodeTiledGrid(img: Array[Int], w: Int, h: Int, tileW: Int,
      tileH: Int, levels: Int, bitDepth: Int = 8, cbw: Int = 16,
      cbh: Int = 16, xOff: Int = 0, yOff: Int = 0,
      xTOff: Int = 0, yTOff: Int = 0, sopEph: Boolean = false,
      irreversible: Boolean = false): Array[Byte] = {
    require(img.length == w * h)
    require(tileW > 0 && tileH > 0)
    // A.5.1: grid origin at or before the image origin, first tile
    // overlapping it; the canvas is [xOff, xOff+w) x [yOff, yOff+h)
    require(xTOff >= 0 && yTOff >= 0 && xTOff <= xOff && yTOff <= yOff &&
      xTOff + tileW > xOff && yTOff + tileH > yOff,
      s"fixture grid origin ($xTOff,$yTOff) vs image origin " +
        s"($xOff,$yOff) violates A.5.1")
    val (xEnd, yEnd) = (xOff + w, yOff + h)
    val ntx = (xEnd - xTOff + tileW - 1) / tileW
    val nty = (yEnd - yTOff + tileH - 1) / tileH
    val shift = 1 << (bitDepth - 1)
    val tiles = for {
      ty <- 0 until nty
      tx <- 0 until ntx
    } yield {
      // canvas tile clipped to the image area, image-relative origin
      val cx0 = math.max(xOff, xTOff + tx * tileW)
      val cy0 = math.max(yOff, yTOff + ty * tileH)
      val (x0, y0) = (cx0 - xOff, cy0 - yOff)
      val tw = math.min(xEnd, xTOff + (tx + 1) * tileW) - cx0
      val th = math.min(yEnd, yTOff + (ty + 1) * tileH) - cy0
      val px = Array.tabulate(tw * th)(i =>
        img((y0 + i / tw) * w + (x0 + i % tw)) - shift)
      if (irreversible) {
        val (q, exps) = quantize97(px.map(_.toDouble), tw, th, levels,
          bitDepth)
        (tier1Encode(q, tw, th, levels, cbw, cbh), exps)
      } else (tier1Encode(Wavelet53.forward2d(px, tw, th, levels), tw,
        th, levels, cbw, cbh), Array.empty[Int])
    }
    // shared main-header QCD: per-subband max over every tile (tiles
    // share the decomposition depth, so qcdIdx enumerations align,
    // and the 9/7 exponents depend only on the subband)
    val maxBps = tiles.map(_._1._2).transpose.map(_.max).toArray
    val (guard, exps) =
      if (irreversible) (guard97(maxBps, tiles.head._2), tiles.head._2)
      else (guardBits, maxBps.map(b => math.max(1, b - guardBits + 1)))
    val mb = exps.map(_ + guard - 1)

    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeShort(0xFF4F) // SOC
    d.writeShort(0xFF51) // SIZ
    d.writeShort(38 + 3)
    d.writeShort(0) // Rsiz
    d.writeInt(xEnd); d.writeInt(yEnd); d.writeInt(xOff); d.writeInt(yOff)
    d.writeInt(tileW); d.writeInt(tileH); d.writeInt(xTOff); d.writeInt(yTOff)
    d.writeShort(1) // Csiz
    d.writeByte(bitDepth - 1) // unsigned
    d.writeByte(1); d.writeByte(1)
    d.writeShort(0xFF52) // COD
    d.writeShort(12)
    // Scod: default precincts; bits 1/2 signal SOP/EPH when emitted
    d.writeByte(if (sopEph) 0x06 else 0)
    d.writeByte(0) // LRCP
    d.writeShort(1) // layers
    d.writeByte(0) // no MCT
    d.writeByte(levels)
    d.writeByte(Tier2.floorLog2(cbw) - 2)
    d.writeByte(Tier2.floorLog2(cbh) - 2)
    d.writeByte(0) // default code-block style
    d.writeByte(if (irreversible) 0 else 1) // transform: 9/7 or 5/3
    writeQcd(d, guard, exps,
      if (irreversible) Some(Array.fill(exps.length)(0)) else None)
    for (((tile, _), ti) <- tiles.zipWithIndex) {
      val body = new ByteArrayOutputStream()
      buildTilePackets(Seq(tile._1), cbw, cbh, mb, sopEph = sopEph,
        progression = 0).foreach(body.write)
      val data = body.toByteArray
      d.writeShort(0xFF90) // SOT
      d.writeShort(10)
      d.writeShort(ti) // Isot = tile index
      d.writeInt(12 + 2 + data.length) // Psot
      d.writeByte(0); d.writeByte(1) // TPsot, TNsot
      d.writeShort(0xFF93) // SOD
      d.write(data)
    }
    d.writeShort(0xFFD9) // EOC
    d.flush()
    bos.toByteArray
  }

  /** Tier-2 packet bytes for ONE tile: one packet per (resolution,
    * component) in the signalled progression's order (res-major for
    * LRCP/RLCP/RPCL, component-major for PCRL/CPRL), kept separate so
    * the stream can split across tile-parts on packet boundaries.
    */
  private def buildTilePackets(compPackets: Seq[Encoded], cbw: Int,
      cbh: Int, mb: Array[Int], sopEph: Boolean, progression: Int)
      : Seq[Array[Byte]] = {
    val packetBytes = Seq.newBuilder[Array[Byte]]
    val interleaved =
      if (progression <= 2)
        for { ri <- compPackets.head.indices; comp <- compPackets }
          yield comp(ri)
      else
        for { comp <- compPackets; ri <- compPackets.head.indices }
          yield comp(ri)
    for ((res, ri) <- interleaved.zipWithIndex) {
      val body = new ByteArrayOutputStream()
      if (sopEph) { // SOP: marker, Lsop=4, Nsop = packet sequence #
        body.write(Array[Byte](0xFF.toByte, 0x91.toByte, 0, 4,
          ((ri >> 8) & 0xff).toByte, (ri & 0xff).toByte))
      }
      val hdr = new Tier2.BitWriter
      hdr.bit(1) // non-empty
      val bodies = Seq.newBuilder[Array[Byte]]
      for ((sb, blocks, encoded) <- res) {
        if (blocks.nonEmpty) {
          val gw = (sb.w + cbw - 1) / cbw
          val gh = blocks.length / gw
          val incl = new Tier2.TagTree(gw, gh)
          val imsb = new Tier2.TagTree(gw, gh)
          for ((enc, bi) <- encoded.zipWithIndex) {
            incl.set(bi % gw, bi / gw, if (enc.isDefined) 0 else 1)
            imsb.set(bi % gw, bi / gw,
              enc.map { case (_, bps, _) => mb(sb.qcdIdx) - bps }.getOrElse(0))
          }
          incl.build(); imsb.build()
          for ((enc, bi) <- encoded.zipWithIndex) {
            val (bx, by) = (bi % gw, bi / gw)
            incl.encode(hdr, bx, by, 1)
            enc.foreach { case (bytes, _, numPasses) =>
              imsb.encode(hdr, bx, by, 999)
              Tier2.writeNumPasses(hdr, numPasses)
              var lblock = 3
              val base = Tier2.floorLog2(numPasses)
              while (bytes.length >= (1 << (lblock + base))) {
                hdr.bit(1); lblock += 1
              }
              hdr.bit(0)
              hdr.bits(bytes.length, lblock + base)
              bodies += bytes
            }
          }
        }
      }
      body.write(hdr.flush())
      if (sopEph) body.write(Array[Byte](0xFF.toByte, 0x92.toByte)) // EPH
      bodies.result().foreach(body.write)
      packetBytes += body.toByteArray
    }
    packetBytes.result()
  }

  /** QCD marker: style 0 (no quantization, 8-bit SPqcd) without
    * mantissas, style 2 (scalar expounded, 16-bit SPqcd) with them.
    */
  private def writeQcd(d: DataOutputStream, guard: Int, exps: Array[Int],
      mants: Option[Array[Int]]): Unit = {
    d.writeShort(0xFF5C) // QCD
    mants match {
      case None =>
        d.writeShort(3 + exps.length)
        d.writeByte(guard << 5)
        exps.foreach(e => d.writeByte(e << 3))
      case Some(mu) =>
        d.writeShort(3 + 2 * exps.length)
        d.writeByte((guard << 5) | 2)
        exps.zip(mu).foreach { case (e, m) => d.writeShort((e << 11) | m) }
    }
  }

  private def assemble(w: Int, h: Int, levels: Int, bitDepth: Int,
      cbw: Int, cbh: Int, tileParts: Int, sopEph: Boolean,
      reversible: Boolean, guard: Int, exps: Array[Int],
      mants: Option[Array[Int]], compPackets: Seq[Encoded],
      mct: Boolean, progression: Int = 0): Array[Byte] = {
    val mb = exps.map(_ + guard - 1)
    val nComp = compPackets.size
    // distribute whole packets round-robin-contiguously over the
    // requested tile-part count (first parts get the extra packets)
    val allPackets =
      buildTilePackets(compPackets, cbw, cbh, mb, sopEph, progression)
    val nParts = math.min(math.max(tileParts, 1), allPackets.size)
    val perPart: Seq[Array[Byte]] = {
      val groups = Array.fill(nParts)(new ByteArrayOutputStream())
      val base = allPackets.size / nParts
      val extra = allPackets.size % nParts
      var pi = 0
      for ((g, gi) <- groups.zipWithIndex) {
        val take = base + (if (gi < extra) 1 else 0)
        allPackets.slice(pi, pi + take).foreach(g.write)
        pi += take
      }
      groups.map(_.toByteArray).toSeq
    }

    // markers
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeShort(0xFF4F) // SOC
    d.writeShort(0xFF51) // SIZ
    d.writeShort(38 + 3 * nComp)
    d.writeShort(0) // Rsiz
    d.writeInt(w); d.writeInt(h); d.writeInt(0); d.writeInt(0)
    d.writeInt(w); d.writeInt(h); d.writeInt(0); d.writeInt(0)
    d.writeShort(nComp) // Csiz
    for (_ <- 0 until nComp) {
      d.writeByte(bitDepth - 1) // unsigned
      d.writeByte(1); d.writeByte(1)
    }
    d.writeShort(0xFF52) // COD
    d.writeShort(12)
    d.writeByte(if (sopEph) 0x06 else 0) // Scod: default precincts; SOP+EPH bits
    d.writeByte(progression) // SGcod progression order
    d.writeShort(1) // layers
    d.writeByte(if (mct) 1 else 0) // SGcod: multiple component transform
    d.writeByte(levels)
    d.writeByte(Tier2.floorLog2(cbw) - 2)
    d.writeByte(Tier2.floorLog2(cbh) - 2)
    d.writeByte(0) // default code-block style
    d.writeByte(if (reversible) 1 else 0) // transform: 5/3 or 9/7
    writeQcd(d, guard, exps, mants)
    for ((partData, pi) <- perPart.zipWithIndex) {
      d.writeShort(0xFF90) // SOT
      d.writeShort(10)
      d.writeShort(0) // Isot
      d.writeInt(12 + 2 + partData.length) // Psot
      d.writeByte(pi); d.writeByte(perPart.size) // TPsot, TNsot
      d.writeShort(0xFF93) // SOD
      d.write(partData)
    }
    d.writeShort(0xFFD9) // EOC
    d.flush()
    bos.toByteArray
  }
}
