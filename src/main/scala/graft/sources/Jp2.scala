package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** JPEG 2000 (JP2) decoder for S5 — the reference reads Sentinel-2
  * band rasters through rasterio/OpenJPEG
  * (`/root/reference/code/tx.py:26,38,42`); this is the
  * zero-dependency equivalent, every stage implemented from the
  * public spec:
  *
  *   - [[Jp2.parseHeader]] — JP2 container boxes (signature/ftyp/
  *     jp2h/ihdr/jp2c, ISO 15444-1 §I.4-I.5) and codestream markers
  *     (SOC/SIZ/COD/QCD/SOT/SOD/EOC, ITU-T T.800 Annex A), including
  *     the Sentinel-2 profile fields (image/tile grid, bit depth,
  *     decomposition levels, 5/3 vs 9/7, code-block geometry,
  *     QCD guard bits + per-subband exponents, tile-part layout);
  *   - the entropy stage: tier-2 packet-header parse with tag trees
  *     ([[Tier2]], Annex B), MQ arithmetic decoding ([[Mq]], Annex C)
  *     and EBCOT tier-1 bit-plane coding ([[Ebcot]], Annex D);
  *   - [[Wavelet53]] / [[Wavelet97]] — the reversible 5/3 and
  *     irreversible 9/7 lifting DWTs (Annex F), forward + inverse,
  *     multi-level 2-D.
  *
  * Validation without imaging libraries: Jp2Spec's test-only encoder
  * (Jp2Fixture) emits conformant codestreams and the decode is
  * proven BIT-EXACT against the source pixels across shapes, depths,
  * levels, and content (the 9/7 path within its quantization bound,
  * with digests pinning its exact output); MqSpec pins the arithmetic
  * coder independently so encoder/decoder bugs cannot cancel silently.
  *
  * One tile loop ([[Jp2.decodeComponent]]) serves [[Jp2.decode]],
  * [[Jp2.decodeReduced]] and [[Jp2.decodeAll]]: each tile's packet
  * stream is entropy-decoded against the tile's geometry,
  * inverse-transformed locally at the requested scale, and placed at
  * its canvas origin. Multi-component streams interleave LRCP packets
  * resolution-major, component-minor; [[Jp2.decodeAll]] decodes every
  * component and applies the inverse REVERSIBLE color transform
  * (RCT, T.800 G.2.2) when the COD header signals MCT. The supported
  * tiling is the ALIGNED profile: XOsiz/YOsiz/XTOsiz/YTOsiz multiples
  * of 2^levels and tile dims divisible by 2^levels (every real
  * 256/512/1024 tiling, including aligned crop origins), with SOP/EPH
  * marker segments accepted; unaligned origins, subsampled
  * components, scalar-derived quantization and the irreversible ICT
  * are rejected loudly, never mis-decoded.
  */
object Jp2 {

  /** Parsed JP2/codestream structure — everything tier-2 needs. */
  case class Header(
      width: Int, height: Int, xOff: Int, yOff: Int,
      tileWidth: Int, tileHeight: Int,
      components: Int, bitDepth: Int, signed: Boolean,
      levels: Int, reversible: Boolean,
      progression: Int, layers: Int,
      codeblockW: Int, codeblockH: Int,
      tileParts: Seq[TilePart],
      guardBits: Int = 0, sbExponents: Seq[Int] = Nil,
      sbMantissas: Seq[Int] = Nil,
      mct: Boolean = false,
      compInfo: Seq[(Int, Boolean)] = Nil,
      xTOff: Int = 0, yTOff: Int = 0) {
    /** (bit depth, signed) of component `c` — every component's SIZ
      * triple is parsed; `bitDepth`/`signed` remain component 0's.
      */
    def compDepth(c: Int): (Int, Boolean) =
      if (compInfo.isEmpty) (bitDepth, signed)
      else compInfo(math.min(c, compInfo.length - 1))

    /** Max bit-planes Mb = G + eps_b - 1 (E.1) for subband index `b`
      * in SPqcd order (LL, then HL/LH/HH per resolution, coarsest
      * first).
      */
    def maxBitplanes(b: Int): Int =
      guardBits + sbExponents(math.min(b, sbExponents.length - 1)) - 1

    /** Irreversible quantization step Δ_b = 2^(R_b − ε_b)(1 + μ_b/2^11)
      * (E.1.1), with R_b = bit depth + the subband's log2 gain.
      */
    def quantStep(b: Int, log2Gain: Int): Double = {
      val eps = sbExponents(math.min(b, sbExponents.length - 1))
      val mu = sbMantissas(math.min(b, sbMantissas.length - 1))
      math.pow(2.0, bitDepth + log2Gain - eps) * (1.0 + mu / 2048.0)
    }
  }

  /** One SOT..SOD tile-part: `dataOffset`/`dataLength` locate the
    * entropy-coded packet stream inside the original byte array.
    */
  case class TilePart(tileIndex: Int, partIndex: Int,
      dataOffset: Int, dataLength: Int)

  /** Entropy stage for ONE tile of one component: the tier-2 packet
    * parse ([[Tier2.parsePackets]]) routes each code-block's MQ
    * codeword segment into the tier-1 bit-plane decoder
    * ([[Ebcot.decodeBlock]]), and the coefficients land at their
    * subband offsets in the tile's Mallat plane (`width*height`,
    * row-major). Every packet header is walked (packet lengths chain
    * sequentially — there is no skipping tier-2), but the tier-1
    * decode — where the time goes — runs ONLY for contributions
    * `keep` accepts, so an overview never pays for the detail
    * subbands' coding passes. Jp2Spec proves decode∘encode bit-exact
    * against the test-only fixture encoder, whose tier-1 coder shares
    * with this decoder only Ebcot's context rules, numbering and
    * initial states and the MQ coder (its context formation is its
    * own, see [[Ebcot]]).
    */
  private def decodeFiltered(header: Header, bytes: Array[Byte],
      component: Int, keep: Tier2.BlockContribution => Boolean)
      : Array[Int] = {
    // LRCP one-layer one-precinct interleaves packets resolution-
    // major, component-minor — Tier2.parsePackets walks every packet
    // and collects the requested component's (components share the
    // 1:1 tile grid; parseHeader refuses subsampling).
    require(component >= 0 && component < header.components,
      s"stream has ${header.components} components, asked for " +
        s"component $component")
    // ONE tile at a time: decodeComponent passes a tile-adjusted
    // header per tile of a multi-tile stream
    require(header.tileParts.nonEmpty &&
      header.tileParts.forall(_.tileIndex == 0),
      s"one tile at a time; tile indices " +
        header.tileParts.map(_.tileIndex).distinct.mkString(","))
    require(header.sbExponents.nonEmpty,
      "QCD carries no exponents (non-reversible quantization style?)")
    // A tile's packet stream may span multiple tile-parts (real
    // Sentinel-2 writes one per resolution); tile-part boundaries
    // fall on packet boundaries (A.4.2), so concatenating the data
    // segments in TPsot order restores one contiguous stream.
    val data = {
      val parts = header.tileParts.sortBy(_.partIndex)
      val out = new Array[Byte](parts.map(_.dataLength).sum)
      var at = 0
      for (p <- parts) {
        System.arraycopy(bytes, p.dataOffset, out, at, p.dataLength)
        at += p.dataLength
      }
      out
    }
    val plane = new Array[Int](header.width * header.height)
    for (c <- Tier2.parsePackets(data, 0, header, component)
         if keep(c)) {
      val mb = header.maxBitplanes(c.sb.qcdIdx)
      val msbPlane = mb - c.zeroBitplanes - 1
      val coeffs = Ebcot.decodeBlock(data, c.dataFrom, c.dataUntil,
        c.cb.w, c.cb.h, c.sb.band, c.numPasses, msbPlane)
      var y = 0
      while (y < c.cb.h) {
        var x = 0
        while (x < c.cb.w) {
          plane((c.sb.y0 + c.cb.y0 + y) * header.width +
            (c.sb.x0 + c.cb.x0 + x)) = coeffs(y * c.cb.w + x)
          x += 1
        }
        y += 1
      }
    }
    plane
  }

  /** Per-subband log2 gain of the DWT (E.1: LL 0, HL/LH 1, HH 2). */
  private def log2Gain(band: Int): Int = band match {
    case 0 => 0
    case 3 => 2
    case _ => 1
  }

  /** Coefficient plane → samples for a `w`×`hgt` region decomposed
    * `lvls` times, WITHOUT the DC level shift, written back into
    * `coeffs` (every caller hands over a fresh plane). Reversible path:
    * inverse 5/3 DWT on the raw coefficients; irreversible path:
    * midpoint dequantization (E.1.1.2, r = 0.5) per subband then
    * inverse 9/7 DWT with round-to-nearest. The subband enumeration
    * (and with it each subband's QCD slot) is the region's own
    * Mallat layout — callers pass tile or reduced-image geometry.
    */
  private def dequantInverse(h: Header, w: Int, hgt: Int, lvls: Int,
      coeffs: Array[Int]): Array[Int] =
    if (h.reversible) Wavelet53.inverse2d(coeffs, w, hgt, lvls)
    else {
      val dq = new Array[Double](coeffs.length)
      for {
        res <- Tier2.subbands(w, hgt, lvls)
        sb <- res
      } {
        val step = h.quantStep(sb.qcdIdx, log2Gain(sb.band))
        var y = 0
        while (y < sb.h) {
          var x = 0
          while (x < sb.w) {
            val i = (sb.y0 + y) * w + (sb.x0 + x)
            val q = coeffs(i)
            dq(i) =
              if (q == 0) 0.0
              else math.signum(q.toDouble) * (math.abs(q) + 0.5) * step
            x += 1
          }
          y += 1
        }
      }
      Wavelet97.inverse2d(dq, w, hgt, lvls)
      var i = 0
      while (i < dq.length) { coeffs(i) = math.rint(dq(i)).toInt; i += 1 }
      coeffs
    }

  /** The T.800 B.3 tile grid: tiles of XTsiz×YTsiz anchored at the
    * grid origin (XTOsiz, YTOsiz), CLIPPED to the image area
    * [XOsiz, Xsiz)×[YOsiz, Ysiz). Yields (tile index, x0, y0, tw, th)
    * with x0/y0 RELATIVE to the image origin (the decoded plane's
    * coordinates), raster order. The first row/column of tiles is
    * narrower when the image origin sits inside them (A.5.1 permits
    * XTOsiz ≤ XOsiz); edge tiles clip at Xsiz/Ysiz.
    */
  private def tileGrid(h: Header): Seq[(Int, Int, Int, Int, Int)] = {
    require(h.tileWidth > 0 && h.tileHeight > 0,
      s"SIZ declares a ${h.tileWidth}x${h.tileHeight} tile grid")
    val xEnd = h.xOff + h.width
    val yEnd = h.yOff + h.height
    val ntx = (xEnd - h.xTOff + h.tileWidth - 1) / h.tileWidth
    val nty = (yEnd - h.yTOff + h.tileHeight - 1) / h.tileHeight
    for {
      ty <- 0 until nty
      tx <- 0 until ntx
    } yield {
      val cx0 = math.max(h.xOff, h.xTOff + tx * h.tileWidth)
      val cy0 = math.max(h.yOff, h.yTOff + ty * h.tileHeight)
      val cx1 = math.min(xEnd, h.xTOff + (tx + 1) * h.tileWidth)
      val cy1 = math.min(yEnd, h.yTOff + (ty + 1) * h.tileHeight)
      (ty * ntx + tx, cx0 - h.xOff, cy0 - h.yOff, cx1 - cx0, cy1 - cy0)
    }
  }

  /** The multi-tile profile bound (round 13; WIDENED round 14 from
    * zero offsets to 2^levels-aligned offsets): image origin, tile
    * grid origin, and tile dimensions all divisible by 2^levels.
    * Under it, every tile's canvas x0/y0 stays an integer multiple
    * of 2^r at every decomposition level r, so T.800's
    * canvas-coordinate subband split of the tile [x0, x1) coincides
    * with the LOCAL ceil-halving recursion of its width — which is
    * what makes per-tile local-coordinate decode (and the fixture's
    * per-tile local encode) exact, and keeps the reduced-resolution
    * tile origins integral (x0 >> d). Real tilings (256/512/1024
    * grids, aligned crop origins, ≤ 10 levels) satisfy it; an
    * UNALIGNED origin changes the lifting parity at some level —
    * refuse loudly rather than mis-decoding near tile seams.
    */
  private def requireTileAlignment(h: Header): Unit = {
    val step = 1 << h.levels
    require(h.xOff % step == 0 && h.yOff % step == 0 &&
      h.xTOff % step == 0 && h.yTOff % step == 0,
      s"tiled stream with grid origins not aligned to 2^levels = " +
        s"$step (XOsiz=${h.xOff}, YOsiz=${h.yOff}, " +
        s"XTOsiz=${h.xTOff}, YTOsiz=${h.yTOff}) — the per-tile " +
        "lifting parity would differ from the canvas one — out of " +
        "this decoder's profile")
    require(h.tileWidth % step == 0 && h.tileHeight % step == 0,
      s"multi-tile stream whose ${h.tileWidth}x${h.tileHeight} tiles " +
        s"do not align to 2^levels = $step: the per-tile subband " +
        "split would differ from the canvas-coordinate one — out of " +
        "this decoder's profile")
  }

  /** A width or height at 1/2^d scale: the ceil-halving recursion. */
  private def scaled(v: Int, d: Int): Int =
    (0 until d).foldLeft(v)((a, _) => (a + 1) / 2)

  /** One component at 1/2^discard scale, WITHOUT the DC level shift
    * (the MCT pipeline un-shifts only after the inverse component
    * transform) — the one tile loop behind [[decode]] (`discard = 0`),
    * [[decodeReduced]] and [[decodeAll]]. Each tile's packet stream is
    * entropy-decoded against the TILE's geometry, inverse-transformed
    * locally (exact under [[requireTileAlignment]]), and placed at its
    * canvas origin. Per tile, the Mallat layout puts every subband of
    * the kept resolutions in the tile's top-left rectangle, at the
    * SAME offsets the reduced tile's own layout assigns them (both
    * sides of that identity are the ceil-halving recursion), so
    * membership is a bounds test and extraction a rectangle copy;
    * aligned origins keep the reduced tile origins integral, and the
    * reduced edge widths tile the reduced image. Nothing is copied
    * that the scale does not need: no rectangle at `discard = 0`, no
    * placement for a single tile.
    */
  private def decodeComponent(h: Header, bytes: Array[Byte],
      component: Int, discard: Int): Array[Int] = {
    val grid = tileGrid(h)
    // any nonzero origin shifts the canvas coordinates every local
    // decode ignores — exact only under the aligned profile
    if (grid.size > 1 || h.xOff != 0 || h.yOff != 0 || h.xTOff != 0 ||
      h.yTOff != 0) requireTileAlignment(h)
    def tile(hTile: Header): Array[Int] = {
      val (tw, th) = (hTile.width, hTile.height)
      val (twr, thr) = (scaled(tw, discard), scaled(th, discard))
      val coeffs = decodeFiltered(hTile, bytes, component,
        c => c.sb.x0 + c.sb.w <= twr && c.sb.y0 + c.sb.h <= thr)
      val rect =
        if (discard == 0) coeffs
        else {
          val r = new Array[Int](twr * thr)
          var y = 0
          while (y < thr) {
            System.arraycopy(coeffs, y * tw, r, y * twr, twr)
            y += 1
          }
          r
        }
      dequantInverse(h, twr, thr, h.levels - discard, rect)
    }
    if (grid.size == 1) tile(h)
    else {
      val wr = scaled(h.width, discard)
      val img = new Array[Int](wr * scaled(h.height, discard))
      for ((ti, x0, y0, tw, th) <- grid) {
        val parts = h.tileParts.filter(_.tileIndex == ti)
        require(parts.nonEmpty, s"no tile-part for tile $ti of ${grid.size}")
        val px = tile(h.copy(width = tw, height = th,
          tileParts = parts.map(_.copy(tileIndex = 0))))
        val (twr, thr) = (scaled(tw, discard), scaled(th, discard))
        val (rx0, ry0) = (x0 >> discard, y0 >> discard)
        var y = 0
        while (y < thr) {
          System.arraycopy(px, y * twr, img, (ry0 + y) * wr + rx0, twr)
          y += 1
        }
      }
      img
    }
  }

  /** The DC level shift for unsigned components (G.1.2), in place,
    * using the COMPONENT's declared depth; the lossy path clamps to
    * the sample range.
    */
  private def dcShift(h: Header, component: Int, px: Array[Int])
      : Array[Int] = {
    val (depth, signed) = h.compDepth(component)
    if (!signed) {
      val shift = 1 << (depth - 1)
      val cap = (1 << depth) - 1
      var i = 0
      while (i < px.length) {
        px(i) += shift
        if (!h.reversible) { // lossy path: clamp to the sample range
          if (px(i) < 0) px(i) = 0 else if (px(i) > cap) px(i) = cap
        }
        i += 1
      }
    }
    px
  }

  private def requireProfile(h: Header): Unit =
    require(h.reversible || h.sbMantissas.nonEmpty,
      "irreversible 9/7 codestream without scalar-expounded " +
        "quantization (QCD style 2) — out of profile")

  /** Decode one component to pixels: header parse → entropy stage →
    * inverse transform ([[decodeComponent]]) → DC level shift
    * (G.1.2). The full-scale case of [[decodeReduced]].
    */
  def decode(bytes: Array[Byte], component: Int = 0): (Header, Array[Int]) = {
    val (h, _, _, px) = decodeReduced(bytes, 0, component)
    (h, px)
  }

  /** REDUCED-RESOLUTION decode — the raster engine's "overview read"
    * (what rasterio's `out_shape`/overview path gives the reference's
    * per-AOI loader): decode the image at 1/2^discard scale by
    * reconstructing only the low-resolution subbands.
    *
    * Why this is nearly free in JPEG 2000: resolution scalability is
    * structural. The codestream's packets partition by resolution, so
    * an overview needs the tier-1 (EBCOT) coding passes of the kept
    * resolutions ONLY — the detail subbands' packets are walked for
    * their lengths (tier-2 headers chain) but never entropy-decoded,
    * and the inverse DWT runs on the small plane. For a discard of d
    * on an L-level stream that is the exact LL_d reconstruction:
    * bit-identical on the reversible 5/3 path to forward-transforming
    * the source and keeping the top-left ceil-halved region d times
    * (Jp2Spec pins exactly that), quantization-bounded on 9/7.
    *
    * Returns (header, reduced width, reduced height, pixels);
    * `discard = 0` is the full decode. A stream coded with the
    * multiple-component transform refuses here — its components are
    * only meaningful jointly; use [[decodeAll]].
    */
  def decodeReduced(bytes: Array[Byte], discard: Int, component: Int = 0)
      : (Header, Int, Int, Array[Int]) = {
    val h = parseHeader(bytes)
    requireProfile(h)
    require(!h.mct,
      "stream uses the multiple-component transform (COD SGcod MCT=1): " +
        "a single decoded component is a color-transform plane, not " +
        "pixels — use Jp2.decodeAll, which applies the inverse RCT")
    require(discard >= 0 && discard <= h.levels,
      s"discard $discard out of range for a ${h.levels}-level stream")
    (h, scaled(h.width, discard), scaled(h.height, discard),
      dcShift(h, component, decodeComponent(h, bytes, component, discard)))
  }

  /** Decode EVERY component: per-component entropy + inverse DWT
    * ([[decodeComponent]]), then, when the COD header signals the
    * multiple-component transform on the reversible path, the inverse
    * REVERSIBLE COLOR TRANSFORM (RCT, G.2.2: G = Y −
    * floor((Cb + Cr) / 4); R = Cr + G; B = Cb + G) over the first
    * three components, then the per-component DC level shift. The
    * irreversible ICT (9/7 + floating YCbCr) stays out of profile and
    * refuses loudly. Returns the planes in component order (R, G, B
    * for an MCT stream).
    */
  def decodeAll(bytes: Array[Byte]): (Header, Seq[Array[Int]]) = {
    val h = parseHeader(bytes)
    requireProfile(h)
    val raw = (0 until h.components)
      .map(c => decodeComponent(h, bytes, c, 0))
    val planes =
      if (!h.mct) raw
      else {
        require(h.components >= 3,
          s"MCT signalled with ${h.components} components (need >= 3)")
        require(h.reversible,
          "irreversible multiple-component transform (ICT) is out of " +
            "this decoder's profile — only the reversible RCT is " +
            "implemented; decode refuses rather than mis-decoding color")
        val (yP, cbP, crP) = (raw(0), raw(1), raw(2))
        val n = yP.length
        val (r, g, b) = (new Array[Int](n), new Array[Int](n), new Array[Int](n))
        var i = 0
        while (i < n) {
          g(i) = yP(i) - Math.floorDiv(cbP(i) + crP(i), 4)
          r(i) = crP(i) + g(i)
          b(i) = cbP(i) + g(i)
          i += 1
        }
        Seq(r, g, b) ++ raw.drop(3)
      }
    (h, planes.zipWithIndex.map { case (p, c) => dcShift(h, c, p) })
  }

  // -- container / codestream parse --------------------------------

  private val SIG_BOX = 0x6a502020 // 'jP\x20\x20'
  private val FTYP = 0x66747970
  private val JP2H = 0x6a703268
  private val IHDR = 0x69686472
  private val JP2C = 0x6a703263

  /** Parse a JP2 container or a raw codestream (starts FF4F). */
  def parseHeader(bytes: Array[Byte]): Header = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0x4f)
      parseCodestream(buf, 0, bytes.length)
    else parseBoxes(buf, bytes.length)
  }

  private def parseBoxes(buf: ByteBuffer, end: Int): Header = {
    var off = 0
    var codestream: Option[(Int, Int)] = None
    var first = true
    while (off + 8 <= end && codestream.isEmpty) {
      val len0 = buf.getInt(off)
      val btype = buf.getInt(off + 4)
      val (payload, boxLen) =
        if (len0 == 1) (off + 16, buf.getLong(off + 8).toInt) // XLBox
        else if (len0 == 0) (off + 8, end - off)              // to EOF
        else (off + 8, len0)
      if (first) {
        require(btype == SIG_BOX && buf.getInt(payload) == 0x0d0a870a,
          "not a JP2 file: missing signature box")
        first = false
      }
      if (btype == JP2C) codestream = Some((payload, off + boxLen))
      off += boxLen
      require(boxLen > 0, "corrupt box length")
    }
    val (cs, csEnd) = codestream.getOrElse(
      throw new IllegalArgumentException("no jp2c codestream box"))
    parseCodestream(buf, cs, csEnd)
  }

  private def parseCodestream(buf: ByteBuffer, start: Int, end: Int): Header = {
    require((buf.get(start) & 0xff) == 0xff && (buf.get(start + 1) & 0xff) == 0x4f,
      "codestream does not start with SOC")
    var off = start + 2
    var siz: Option[(Int, Int, Int, Int, Int, Int, Int, Int, Boolean)] = None
    var tileOff = (0, 0)
    var cod: Option[(Int, Int, Int, Int, Int, Boolean)] = None
    var comps: Seq[(Int, Boolean)] = Nil
    var mct = false
    var guard = 0
    var exps: Seq[Int] = Nil
    var mants: Seq[Int] = Nil
    val tileParts = Seq.newBuilder[TilePart]
    var done = false
    while (!done && off + 2 <= end) {
      val marker = ((buf.get(off) & 0xff) << 8) | (buf.get(off + 1) & 0xff)
      marker match {
        case 0xffd9 => done = true // EOC
        case 0xff5c => // QCD: Sqcd = (guard << 5) | style (A.6.4).
          // Style 0 = no quantization (reversible): 8-bit SPqcd per
          // subband, exponent in the top 5 bits. Style 2 = scalar
          // expounded (irreversible): 16-bit SPqcd per subband,
          // exponent in the top 5 bits, 11-bit mantissa below.
          val len = buf.getShort(off + 2) & 0xffff
          val sqcd = buf.get(off + 4) & 0xff
          guard = sqcd >>> 5
          (sqcd & 0x1f) match {
            case 0 =>
              exps = (0 until len - 3).map(i =>
                (buf.get(off + 5 + i) & 0xff) >>> 3)
            case 2 =>
              val n = (len - 3) / 2
              val sp = (0 until n).map(i =>
                buf.getShort(off + 5 + 2 * i) & 0xffff)
              exps = sp.map(_ >>> 11)
              mants = sp.map(_ & 0x7ff)
            case _ => // style 1 (scalar derived): out of profile,
              // leaves exps empty so decode refuses loudly
          }
          off += 2 + len
        case 0xff51 => // SIZ
          val p = off + 4
          val x = buf.getInt(p + 2); val y = buf.getInt(p + 6)
          val xo = buf.getInt(p + 10); val yo = buf.getInt(p + 14)
          val tw = buf.getInt(p + 18); val th = buf.getInt(p + 22)
          val xto = buf.getInt(p + 26); val yto = buf.getInt(p + 30)
          // A.5.1 conformance: the tile grid origin sits at or before
          // the image origin, and the first tile overlaps the image
          require(xto >= 0 && yto >= 0 && xto <= xo && yto <= yo,
            s"SIZ tile-grid origin ($xto,$yto) violates " +
              s"0 <= XTOsiz <= XOsiz (image origin ($xo,$yo))")
          require(tw + xto > xo && th + yto > yo,
            s"SIZ first tile [$xto+$tw, $yto+$th) misses the image " +
              s"origin ($xo,$yo)")
          tileOff = (xto, yto)
          val csiz = buf.getShort(p + 34) & 0xffff
          // every component's (Ssiz, XRsiz, YRsiz) triple: subsampled
          // components change the per-component tile geometry this
          // decoder does not model — refuse, never mis-decode
          comps = (0 until csiz).map { c =>
            val ssiz = buf.get(p + 36 + 3 * c) & 0xff
            val xr = buf.get(p + 37 + 3 * c) & 0xff
            val yr = buf.get(p + 38 + 3 * c) & 0xff
            require(xr == 1 && yr == 1,
              s"component $c is subsampled (XRsiz=$xr, YRsiz=$yr) — " +
                "out of this decoder's 1:1-grid profile")
            ((ssiz & 0x7f) + 1, (ssiz & 0x80) != 0)
          }
          siz = Some((x, y, xo, yo, tw, th, csiz,
            comps.head._1, comps.head._2))
          off += 2 + (buf.getShort(off + 2) & 0xffff)
        case 0xff52 => // COD
          val p = off + 4
          // Scod (A.6.1): bit 0 = custom precinct sizes (out of
          // profile — the packet walk assumes the default 2^15
          // precinct); bits 1/2 = SOP/EPH markers, which the packet
          // parser sniffs and skips unambiguously (Tier2), so both
          // are accepted here.
          val scod = buf.get(p) & 0xff
          require((scod & 1) == 0,
            "COD signals custom precinct sizes (Scod bit 0) — out of " +
              "this decoder's default-precinct profile")
          val prog = buf.get(p + 1) & 0xff
          val layers = buf.getShort(p + 2) & 0xffff
          mct = (buf.get(p + 4) & 0xff) == 1 // SGcod: multi-comp transform
          val levels = buf.get(p + 5) & 0xff
          val cbw = 1 << ((buf.get(p + 6) & 0x0f) + 2)
          val cbh = 1 << ((buf.get(p + 7) & 0x0f) + 2)
          val reversible = (buf.get(p + 9) & 0xff) == 1
          cod = Some((prog, layers, levels, cbw, cbh, reversible))
          off += 2 + (buf.getShort(off + 2) & 0xffff)
        case 0xff90 => // SOT: Lsot Isot Psot TPsot TNsot, then th segments, SOD, data
          val p = off + 4
          val isot = buf.getShort(p) & 0xffff
          val psot0 = buf.getInt(p + 2)
          val tpsot = buf.get(p + 6) & 0xff
          val psot = if (psot0 == 0) end - off else psot0 // 0 = to EOC
          // walk tile-part header segments (COD/QCD/PLT/COM may appear
          // here, T.800 A.4.2) until the SOD marker; data follows it
          var q = off + 12
          while (!(((buf.get(q) & 0xff) == 0xff) && (buf.get(q + 1) & 0xff) == 0x93))
            q += 2 + (buf.getShort(q + 2) & 0xffff)
          val dataOff = q + 2
          tileParts += TilePart(isot, tpsot, dataOff, off + psot - dataOff)
          off += psot
        case m if m >= 0xff30 && m <= 0xff3f => off += 2 // segmentless
        case _ => // any other segment: skip by its length
          off += 2 + (buf.getShort(off + 2) & 0xffff)
      }
    }
    val (x, y, xo, yo, tw, th, nc, depth, signed) = siz.getOrElse(
      throw new IllegalArgumentException("codestream has no SIZ segment"))
    val (prog, layers, levels, cbw, cbh, rev) = cod.getOrElse(
      throw new IllegalArgumentException("codestream has no COD segment"))
    Header(x - xo, y - yo, xo, yo, tw, th, nc, depth, signed,
      levels, rev, prog, layers, cbw, cbh, tileParts.result(),
      guard, exps, mants, mct, comps, tileOff._1, tileOff._2)
  }
}

/** Irreversible 9/7 (CDF) lifting wavelet, ITU-T T.800 Annex F
  * (Table F.4 lifting constants), interleaved convention and
  * whole-sample symmetric extension matching [[Wavelet53]]. Forward +
  * inverse are exact mirrors (floating-point, so the ROUND TRIP is
  * exact only up to IEEE arithmetic — the lossy-ness of the 9/7 path
  * comes from quantization, not the transform; Jp2Spec bounds the
  * end-to-end reconstruction error). Scaling convention: low-pass
  * × 1/K, high-pass × K on analysis, inverted on synthesis.
  */
object Wavelet97 {
  private val Alpha = -1.586134342059924
  private val Beta = -0.052980118572961
  private val Gamma = 0.882911075530934
  private val Delta = 0.443506852043971
  private val K = 1.230174104914001

  private def refl(i: Int, n: Int): Int =
    if (n == 1) 0
    else {
      val p = 2 * n - 2
      val j = ((i % p) + p) % p
      if (j < n) j else p - j
    }

  private def lift(y: Array[Double], c: Double, odd: Boolean): Unit = {
    val n = y.length
    def ye(i: Int) = y(refl(i, n))
    var i = if (odd) 1 else 0
    while (i < n) { y(i) += c * (ye(i - 1) + ye(i + 1)); i += 2 }
  }

  def forward1d(x: Array[Double]): Array[Double] = {
    val n = x.length
    if (n == 1) return x.clone()
    val y = x.clone()
    lift(y, Alpha, odd = true)
    lift(y, Beta, odd = false)
    lift(y, Gamma, odd = true)
    lift(y, Delta, odd = false)
    var i = 0
    while (i < n) { y(i) /= K; i += 1 } // low
    i = 1
    while (i < n) { y(i) *= K * K; i += 2 } // high (undo low scale, apply K)
    y
  }

  def inverse1d(y: Array[Double]): Array[Double] = {
    val n = y.length
    if (n == 1) return y.clone()
    val x = y.clone()
    var i = 0
    while (i < n) { x(i) *= K; i += 1 }
    i = 1
    while (i < n) { x(i) /= K * K; i += 2 }
    lift(x, -Delta, odd = false)
    lift(x, -Gamma, odd = true)
    lift(x, -Beta, odd = false)
    lift(x, -Alpha, odd = true)
    x
  }

  private def deinterleave(y: Array[Double]): Array[Double] = {
    val n = y.length; val nl = n - n / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(if (i % 2 == 0) i / 2 else nl + i / 2) = y(i); i += 1 }
    out
  }

  private def interleave(m: Array[Double]): Array[Double] = {
    val n = m.length; val nl = n - n / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = m(if (i % 2 == 0) i / 2 else nl + i / 2); i += 1 }
    out
  }

  def forward2d(img: Array[Double], w: Int, h: Int, levels: Int): Array[Double] = {
    require(img.length == w * h)
    val a = img.clone()
    var (cw, ch) = (w, h)
    var lev = 0
    while (lev < levels && (cw > 1 || ch > 1)) {
      transformRegion(a, w, cw, ch, forward = true)
      cw = cw - cw / 2; ch = ch - ch / 2
      lev += 1
    }
    a
  }

  /** Multi-level inverse 2-D, IN PLACE: `a` holds the Mallat-layout
    * coefficients and comes back as the samples (returned for
    * chaining). Callers pass a plane they own.
    */
  def inverse2d(a: Array[Double], w: Int, h: Int, levels: Int): Array[Double] = {
    require(a.length == w * h)
    var regions = List.empty[(Int, Int)]
    var (cw, ch) = (w, h)
    var lev = 0
    while (lev < levels && (cw > 1 || ch > 1)) {
      regions = (cw, ch) :: regions
      cw = cw - cw / 2; ch = ch - ch / 2
      lev += 1
    }
    for ((lw, lh) <- regions) transformRegion(a, w, lw, lh, forward = false)
    a
  }

  private def transformRegion(a: Array[Double], stride: Int, cw: Int, ch: Int,
      forward: Boolean): Unit = {
    val row = new Array[Double](cw)
    val colBuf = new Array[Double](ch)
    if (forward) {
      var r = 0
      while (r < ch) {
        System.arraycopy(a, r * stride, row, 0, cw)
        val t = deinterleave(forward1d(row))
        System.arraycopy(t, 0, a, r * stride, cw)
        r += 1
      }
      var c = 0
      while (c < cw) {
        var r2 = 0
        while (r2 < ch) { colBuf(r2) = a(r2 * stride + c); r2 += 1 }
        val t = deinterleave(forward1d(colBuf))
        r2 = 0
        while (r2 < ch) { a(r2 * stride + c) = t(r2); r2 += 1 }
        c += 1
      }
    } else {
      var c = 0
      while (c < cw) {
        var r2 = 0
        while (r2 < ch) { colBuf(r2) = a(r2 * stride + c); r2 += 1 }
        val t = inverse1d(interleave(colBuf))
        r2 = 0
        while (r2 < ch) { a(r2 * stride + c) = t(r2); r2 += 1 }
        c += 1
      }
      var r = 0
      while (r < ch) {
        System.arraycopy(a, r * stride, row, 0, cw)
        val t = inverse1d(interleave(row))
        System.arraycopy(t, 0, a, r * stride, cw)
        r += 1
      }
    }
  }
}

/** Reversible 5/3 (LeGall) lifting wavelet, ITU-T T.800 Annex F:
  * integer-exact, bit-perfect round trip. The 1-D transforms work on
  * the INTERLEAVED signal (even = low, odd = high) with whole-sample
  * symmetric extension (period 2n-2), which is how the spec defines
  * boundary handling — the reflection of an even index is always
  * even and of an odd index always odd, so each lifting step reads
  * only already-final samples of the right parity. The forward
  * transform (used by the test fixture's encoder) reflects indices
  * modulo the period; the decode path's inverse lifts each
  * Mallat-ordered line straight into one reused buffer, where the
  * extension is an index clamp.
  */
object Wavelet53 {

  private def refl(i: Int, n: Int): Int =
    if (n == 1) 0
    else {
      val p = 2 * n - 2
      val j = ((i % p) + p) % p
      if (j < n) j else p - j
    }

  /** Forward 1-D, interleaved in/out: y(odd) = high, y(even) = low. */
  def forward1d(x: Array[Int]): Array[Int] = {
    val n = x.length
    if (n == 1) return x.clone()
    val y = new Array[Int](n)
    def xe(i: Int) = x(refl(i, n))
    var i = 1
    while (i < n) { // predict: d = x_odd - floor((left + right) / 2)
      y(i) = x(i) - Math.floorDiv(xe(i - 1) + xe(i + 1), 2)
      i += 2
    }
    def ye(i: Int) = y(refl(i, n)) // reflection of odd is odd: final
    i = 0
    while (i < n) { // update: s = x_even + floor((d_l + d_r + 2) / 4)
      y(i) = x(i) + Math.floorDiv(ye(i - 1) + ye(i + 1) + 2, 4)
      i += 2
    }
    y
  }

  /** Inverse 1-D, exact inverse of [[forward1d]]. */
  def inverse1d(y: Array[Int]): Array[Int] = {
    val x = new Array[Int](y.length)
    inverseLine(deinterleave(y), 0, 1, y.length, x)
    x
  }

  /** Inverse lifting of one Mallat-ordered line of `n` samples, read
    * from `a` at `off`, `off + step`, … (the ceil(n/2) lows first,
    * then the highs), into the interleaved signal `x(0 until n)`.
    * The symmetric extension reduces to clamped neighbour indices:
    * the first low's left high is the first high, the last low's
    * right high (odd n) is the last high, and the last high's right
    * low (even n) is the last low. Floor division by 4 and 2 is an
    * arithmetic shift.
    */
  private def inverseLine(a: Array[Int], off: Int, step: Int, n: Int,
      x: Array[Int]): Unit = {
    if (n == 1) { x(0) = a(off); return }
    val nh = n / 2
    val nl = n - nh
    val hi = off + nl * step
    var i = 0
    while (i < nl) { // un-update: x_2i = s_i - floor((d_i-1 + d_i + 2) / 4)
      val dl = a(hi + math.max(i - 1, 0) * step)
      val dr = a(hi + math.min(i, nh - 1) * step)
      x(2 * i) = a(off + i * step) - ((dl + dr + 2) >> 2)
      i += 1
    }
    i = 0
    while (i < nh) { // un-predict: x_2i+1 = d_i + floor((x_2i + x_2i+2) / 2)
      val right = if (2 * i + 2 < n) x(2 * i + 2) else x(2 * i)
      x(2 * i + 1) = a(hi + i * step) + ((x(2 * i) + right) >> 1)
      i += 1
    }
  }

  /** Split an interleaved line into [low | high] (Mallat order):
    * low = ceil(n/2) even samples first.
    */
  private def deinterleave(y: Array[Int]): Array[Int] = {
    val n = y.length; val nl = n - n / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(if (i % 2 == 0) i / 2 else nl + i / 2) = y(i); i += 1 }
    out
  }

  /** Multi-level forward 2-D over a row-major image: rows then
    * columns per level, recursing on the LL (top-left) region.
    * Output is the standard Mallat layout.
    */
  def forward2d(img: Array[Int], w: Int, h: Int, levels: Int): Array[Int] = {
    require(img.length == w * h, s"${img.length} != $w x $h")
    val a = img.clone()
    var (cw, ch) = (w, h)
    var lev = 0
    while (lev < levels && (cw > 1 || ch > 1)) {
      forwardRegion(a, w, cw, ch)
      cw = cw - cw / 2; ch = ch - ch / 2
      lev += 1
    }
    a
  }

  /** Multi-level inverse 2-D — exact inverse of [[forward2d]], IN
    * PLACE: `a` holds the Mallat-layout coefficients and comes back as
    * the samples (returned for chaining); callers pass a plane they
    * own. Each level lifts the columns, then the rows, of its region
    * through one line buffer.
    */
  def inverse2d(a: Array[Int], w: Int, h: Int, levels: Int): Array[Int] = {
    require(a.length == w * h, s"${a.length} != $w x $h")
    // Rebuild the REGION sizes forward transformed per level (LL_0 =
    // full image down to LL_{levels-1}), prepending as we descend so
    // the list ends up innermost-first — the order the inverse must
    // undo them in.
    var regions = List.empty[(Int, Int)]
    var (cw, ch) = (w, h)
    var lev = 0
    while (lev < levels && (cw > 1 || ch > 1)) {
      regions = (cw, ch) :: regions
      cw = cw - cw / 2; ch = ch - ch / 2
      lev += 1
    }
    val line = new Array[Int](math.max(w, h))
    for ((lw, lh) <- regions) {
      var c = 0
      while (c < lw) {
        inverseLine(a, c, w, lh, line)
        var r = 0
        while (r < lh) { a(r * w + c) = line(r); r += 1 }
        c += 1
      }
      var r = 0
      while (r < lh) {
        inverseLine(a, r * w, 1, lw, line)
        System.arraycopy(line, 0, a, r * w, lw)
        r += 1
      }
    }
    a
  }

  /** One forward level over the top-left cw×ch region of a row-major
    * array with full-image stride `stride`.
    */
  private def forwardRegion(a: Array[Int], stride: Int, cw: Int, ch: Int): Unit = {
    val row = new Array[Int](cw)
    val colBuf = new Array[Int](ch)
    var r = 0
    while (r < ch) {
      System.arraycopy(a, r * stride, row, 0, cw)
      val t = deinterleave(forward1d(row))
      System.arraycopy(t, 0, a, r * stride, cw)
      r += 1
    }
    var c = 0
    while (c < cw) {
      var r2 = 0
      while (r2 < ch) { colBuf(r2) = a(r2 * stride + c); r2 += 1 }
      val t = deinterleave(forward1d(colBuf))
      r2 = 0
      while (r2 < ch) { a(r2 * stride + c) = t(r2); r2 += 1 }
      c += 1
    }
  }
}
