package graft.sources

/** EBCOT tier-2: packet-header coding (ITU-T T.800 Annex B) and the
  * subband / code-block geometry that routes packet payloads into the
  * Mallat coefficient plane [[Wavelet53]] inverts. Together with
  * [[Mq]] + [[Ebcot]] this is [[Jp2]]'s entropy stage.
  *
  * Scope (asserted, not assumed): one TILE'S packet stream (the
  * multi-tile driver in [[Jp2]] feeds tiles one at a time), one
  * layer, one precinct per resolution (the default 2^15 precinct —
  * COD Scod bit 0 refuses custom precincts at parse). SOP/EPH
  * marker segments are accepted: both are sniffed unambiguously
  * (inside a packet header the byte after 0xFF carries a stuffed 0
  * MSB ≤ 0x7F, and an MQ codeword never has a byte > 0x8F after
  * 0xFF, so FF91/FF92 can only be the markers) and skipped.
  */
object Tier2 {

  // -- packet-header bit I/O (B.10.1: MSB-first with a 0 stuffed
  // -- after every 0xFF byte) ---------------------------------------

  final class BitReader(data: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    private var lastByte = 0

    def bit(): Int = {
      if (cnt == 0) {
        val stuffed = lastByte == 0xff
        lastByte = data(pos) & 0xff; pos += 1
        buf = lastByte
        cnt = if (stuffed) 7 else 8
      }
      cnt -= 1
      (buf >>> cnt) & 1
    }

    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    /** Byte-align at end of header; a trailing 0xFF carries a stuffed
      * byte that must be consumed (B.10.1).
      */
    def align(): Unit = {
      cnt = 0
      if (lastByte == 0xff) { lastByte = data(pos) & 0xff; pos += 1 }
      lastByte = 0
    }
  }

  final class BitWriter {
    private val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var buf = 0
    private var cnt = 0
    private var lastByte = 0

    private def cap: Int = if (lastByte == 0xff) 7 else 8

    def bit(b: Int): Unit = {
      buf = (buf << 1) | (b & 1)
      cnt += 1
      if (cnt == cap) { out += buf.toByte; lastByte = buf & 0xff; buf = 0; cnt = 0 }
    }

    def bits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit((v >>> i) & 1); i -= 1 }
    }

    /** Zero-pad to a byte boundary; a final 0xFF needs one stuffed
      * 0x00 so the reader's align() mirror consumes symmetrically.
      */
    def flush(): Array[Byte] = {
      while (cnt != 0) bit(0)
      if (lastByte == 0xff) { out += 0; lastByte = 0 }
      out.toArray
    }
  }

  // -- tag trees (B.10.2) -------------------------------------------

  /** Quad-tree over a `w`×`h` code-block grid. `low` is the lower
    * bound communicated so far, `value` the true value (encoder side,
    * set via [[set]] + [[build]]), `known` whether the exact value
    * has been coded.
    */
  final class TagTree(val w: Int, val h: Int) {
    private val dims = {
      val b = Seq.newBuilder[(Int, Int)]
      var (cw, ch) = (math.max(w, 1), math.max(h, 1))
      b += ((cw, ch))
      while (cw > 1 || ch > 1) { cw = (cw + 1) / 2; ch = (ch + 1) / 2; b += ((cw, ch)) }
      b.result() // level 0 = leaves … last = 1×1 root
    }
    private val low = dims.map { case (a, b) => new Array[Int](a * b) }.toArray
    private val value = dims.map { case (a, b) => new Array[Int](a * b) }.toArray
    private val known = dims.map { case (a, b) => new Array[Boolean](a * b) }.toArray

    def set(x: Int, y: Int, v: Int): Unit = value(0)(y * w + x) = v

    /** Fill internal nodes with the min of their children. */
    def build(): Unit =
      for (k <- 1 until dims.length) {
        val (cw, ch) = dims(k)
        val (pw, ph) = dims(k - 1)
        for (y <- 0 until ch; x <- 0 until cw) {
          var m = Int.MaxValue
          for (dy <- 0 to 1; dx <- 0 to 1) {
            val (cx, cy) = (2 * x + dx, 2 * y + dy)
            if (cx < pw && cy < ph) m = math.min(m, value(k - 1)(cy * pw + cx))
          }
          value(k)(y * cw + x) = m
        }
      }

    private def path(x: Int, y: Int): Seq[(Int, Int)] =
      (dims.length - 1 to 0 by -1).map { k =>
        val (cw, _) = dims(k)
        (k, (y >> k) * cw + (x >> k))
      }

    /** Decode whether value(x,y) < threshold, consuming bits. */
    def decode(in: BitReader, x: Int, y: Int, threshold: Int): Boolean = {
      var lo = 0
      var leafLow = 0
      for ((k, i) <- path(x, y)) {
        if (lo > low(k)(i)) low(k)(i) = lo else lo = low(k)(i)
        while (low(k)(i) < threshold && !known(k)(i)) {
          if (in.bit() == 1) known(k)(i) = true
          else low(k)(i) += 1
        }
        lo = low(k)(i)
        leafLow = lo
      }
      leafLow < threshold
    }

    /** Encode the information "is value(x,y) < threshold" (emitting
      * exactly the bits [[decode]] will consume).
      */
    def encode(out: BitWriter, x: Int, y: Int, threshold: Int): Unit = {
      var lo = 0
      for ((k, i) <- path(x, y)) {
        if (lo > low(k)(i)) low(k)(i) = lo else lo = low(k)(i)
        var break = false
        while (!break && low(k)(i) < threshold) {
          if (low(k)(i) >= value(k)(i)) {
            if (!known(k)(i)) { out.bit(1); known(k)(i) = true }
            break = true
          } else { out.bit(0); low(k)(i) += 1 }
        }
        lo = low(k)(i)
      }
    }
  }

  // -- geometry ------------------------------------------------------

  /** One subband rectangle inside the Mallat plane. `band`: 0=LL
    * 1=HL 2=LH 3=HH; `qcdIdx` indexes [[Jp2.Header.sbExponents]].
    */
  case class Subband(band: Int, x0: Int, y0: Int, w: Int, h: Int, qcdIdx: Int)

  /** Subbands grouped per resolution r = 0..levels, in packet order
    * (r=0 → LL_n; r≥1 → HL/LH/HH of DWT level n-r+1), with offsets
    * matching [[Wavelet53]]'s region layout (low = ceil half).
    */
  def subbands(w: Int, h: Int, levels: Int): Seq[Seq[Subband]] = {
    // region sizes per level: cw(0)=w, cw(l) = ceil(cw(l-1)/2)
    val cw = new Array[Int](levels + 1); val ch = new Array[Int](levels + 1)
    cw(0) = w; ch(0) = h
    for (l <- 1 to levels) { cw(l) = cw(l - 1) - cw(l - 1) / 2; ch(l) = ch(l - 1) - ch(l - 1) / 2 }
    val ll = Seq(Subband(0, 0, 0, cw(levels), ch(levels), 0))
    val highs = (1 to levels).map { r =>
      val l = levels - r + 1 // DWT level whose high bands resolution r adds
      val qBase = 1 + 3 * (r - 1)
      Seq(
        Subband(1, cw(l), 0, cw(l - 1) - cw(l), ch(l), qBase),
        Subband(2, 0, ch(l), cw(l), ch(l - 1) - ch(l), qBase + 1),
        Subband(3, cw(l), ch(l), cw(l - 1) - cw(l), ch(l - 1) - ch(l), qBase + 2))
    }
    ll +: highs
  }

  /** Code-blocks tiling a subband (anchored at its origin — the
    * single-tile-at-origin case), raster order. (x0, y0) are
    * SUBBAND-relative.
    */
  case class CodeBlock(x0: Int, y0: Int, w: Int, h: Int)

  def codeBlocks(sb: Subband, cbw: Int, cbh: Int): Seq[CodeBlock] =
    if (sb.w <= 0 || sb.h <= 0) Seq.empty
    else for {
      by <- 0 until (sb.h + cbh - 1) / cbh
      bx <- 0 until (sb.w + cbw - 1) / cbw
    } yield CodeBlock(bx * cbw, by * cbh,
      math.min(cbw, sb.w - bx * cbw), math.min(cbh, sb.h - by * cbh))

  // -- number-of-coding-passes codeword (B.10.6) --------------------

  def readNumPasses(in: BitReader): Int =
    if (in.bit() == 0) 1
    else if (in.bit() == 0) 2
    else {
      val t = in.bits(2)
      if (t < 3) 3 + t
      else {
        val t2 = in.bits(5)
        if (t2 < 31) 6 + t2
        else 37 + in.bits(7)
      }
    }

  def writeNumPasses(out: BitWriter, n: Int): Unit =
    if (n == 1) out.bit(0)
    else if (n == 2) { out.bit(1); out.bit(0) }
    else if (n <= 5) { out.bits(3, 2); out.bits(n - 3, 2) }
    else if (n <= 36) { out.bits(0xf, 4); out.bits(n - 6, 5) }
    else { out.bits(0x1ff, 9); out.bits(n - 37, 7) }

  def floorLog2(n: Int): Int = 31 - Integer.numberOfLeadingZeros(n)

  /** Everything tier-1 needs about one code-block's contribution. */
  case class BlockContribution(sb: Subband, cb: CodeBlock,
      zeroBitplanes: Int, numPasses: Int, dataFrom: Int, dataUntil: Int)

  /** Parse the single-layer packet sequence of one tile-part and
    * return each included code-block's contribution with its byte
    * range in `data` — for ONE requested `component`. With one layer
    * and one precinct the five progression orders (B.12.1) collapse
    * to two packet sequences:
    *
    *   - LRCP / RLCP / RPCL (progression 0/1/2): resolution-major,
    *     component-minor — for each r, one packet per c;
    *   - PCRL / CPRL (progression 3/4): component-major — for each
    *     c, one packet per r.
    *
    * Every packet must be parsed to advance the stream position, so
    * the walk covers all (r, c) pairs in the signalled order and
    * collects the requested component's contributions. Components
    * share the tile grid 1:1 (no subsampling — [[Jp2.parseHeader]]
    * refuses XRsiz/YRsiz ≠ 1), so the subband/code-block geometry is
    * identical per component; each (resolution, component) packet has
    * its own fresh tag trees.
    */
  def parsePackets(data: Array[Byte], from: Int,
      header: Jp2.Header, component: Int = 0): Seq[BlockContribution] = {
    val out = Seq.newBuilder[BlockContribution]
    var pos = from
    require(header.progression >= 0 && header.progression <= 4,
      s"JP2 tier-2: unknown progression order ${header.progression} " +
        "(COD SGcod) — refusing rather than guessing the packet " +
        "sequence")
    val resSeq = subbands(header.width, header.height, header.levels)
    val walk: Seq[(Seq[Subband], Int)] =
      if (header.progression <= 2)
        for (res <- resSeq; comp <- 0 until header.components)
          yield (res, comp)
      else
        for (comp <- 0 until header.components; res <- resSeq)
          yield (res, comp)
    for ((res, comp) <- walk) {
      val collect = comp == component
      // SOP marker before the packet (B.10.3, 6 bytes). Sniffing is
      // unambiguous: inside a header the byte after 0xFF carries a
      // stuffed 0 MSB (≤ 0x7F), and an MQ codeword never has a byte
      // > 0x8F after 0xFF — so FF 91 here can only be SOP.
      if (pos + 1 < data.length && (data(pos) & 0xff) == 0xff &&
          (data(pos + 1) & 0xff) == 0x91) pos += 6
      val in = new BitReader(data, pos)
      val perBlock = Seq.newBuilder[(Subband, CodeBlock, Int, Int, Int)]
      if (in.bit() == 1) { // non-empty packet
        for (sb <- res) {
          val blocks = codeBlocks(sb, header.codeblockW, header.codeblockH)
          if (blocks.nonEmpty) {
            val gw = (sb.w + header.codeblockW - 1) / header.codeblockW
            val incl = new TagTree(gw, blocks.length / math.max(gw, 1))
            val imsb = new TagTree(gw, blocks.length / math.max(gw, 1))
            for ((cb, bi) <- blocks.zipWithIndex) {
              val (bx, by) = (bi % gw, bi / gw)
              if (incl.decode(in, bx, by, 1)) {
                var p = 1
                while (!imsb.decode(in, bx, by, p)) p += 1
                val zeroBp = p - 1
                val numPasses = readNumPasses(in)
                var lblock = 3
                while (in.bit() == 1) lblock += 1
                // a conforming encoder cannot need >31 length bits;
                // corrupt 1-run garbage otherwise inflates lblock
                // until bits() shifts wrap
                require(lblock + floorLog2(numPasses) <= 31,
                  s"JP2 tier-2: Lblock signalling ran away " +
                    s"(lblock=$lblock, numPasses=$numPasses) — corrupt " +
                    "packet header")
                val len = in.bits(lblock + floorLog2(numPasses))
                perBlock += ((sb, cb, zeroBp, numPasses, len))
              }
            }
          }
        }
      }
      in.align()
      pos = in.pos
      // Fail loudly on truncation: a corrupt/short packet header can
      // otherwise push byte ranges past the data and Mq.Decoder would
      // synthesize deterministic garbage coefficients silently.
      require(pos <= data.length,
        s"JP2 tier-2: packet header ran past codestream end " +
          s"(pos=$pos, len=${data.length})")
      // EPH marker after the packet header (B.10.4, 2 bytes) — same
      // unambiguity argument as SOP above.
      if (pos + 1 < data.length && (data(pos) & 0xff) == 0xff &&
          (data(pos + 1) & 0xff) == 0x92) pos += 2
      for ((sb, cb, zbp, np, len) <- perBlock.result()) {
        // Long arithmetic: a corrupt header can decode len near
        // Int.MaxValue, and `pos + len` would wrap negative and slip
        // PAST an Int comparison — the exact corruption this guard
        // exists to catch.
        require(len >= 0 && pos.toLong + len <= data.length,
          s"JP2 tier-2: code-block segment [${pos}, ${pos.toLong + len}) " +
            s"exceeds codestream length ${data.length} (corrupt or " +
            "truncated packet header)")
        if (collect) out += BlockContribution(sb, cb, zbp, np, pos, pos + len)
        pos += len
      }
    }
    out.result()
  }
}
