package graft.sources

/** EBCOT tier-1: code-block bit-plane coding (ITU-T T.800 Annex D) —
  * the stage between the packet parse (tier-2, [[Jp2]]) and the
  * inverse DWT ([[Wavelet53]]). Decoder only in the library (the
  * reference never writes JP2); the matching encoder lives in the
  * test fixture (Jp2Fixture) where it generates golden codestreams
  * for the bit-exact round-trip proof.
  *
  * The decoder ([[decodeBlock]]) is a flat-array kernel: one padded
  * flag word per coefficient, kept up to date as coefficients turn
  * significant, and lookup tables for the zero-coding and sign
  * contexts. The fixture encoder forms its contexts its own way (a
  * per-coefficient neighbour scan over boolean planes); what it still
  * shares with the decoder is this object's context numbering,
  * [[freshContexts]], the Table D.1-D.3 rules [[zcContext]] and
  * [[scContext]] the lookup tables are built from, and [[Mq]].
  *
  * Scope = the default coding style (Scb = 0): no selective bypass,
  * no reset/termination per pass, not vertically causal, single MQ
  * codeword segment per code-block. Context model: 9 zero-coding +
  * 5 sign + 3 magnitude-refinement + run-length + UNIFORM = 19
  * contexts (Tables D.1-D.4), initial states per Table D.7.
  */
object Ebcot {

  // context indices
  private[graft] final val CxZc = 0 // ..8
  private[graft] final val CxSc = 9 // ..13
  private[graft] final val CxMr = 14 // ..16
  private[graft] final val CxRl = 17
  private[graft] final val CxUni = 18
  private[graft] final val NCx = 19

  /** Fresh context bank with Table D.7 initial states: zero-coding
    * context 0 → 4, run-length → 3, UNIFORM → 46, rest 0.
    */
  private[graft] def freshContexts(): Mq.Contexts = {
    val cx = new Mq.Contexts(NCx)
    cx.set(CxZc, 4)
    cx.set(CxRl, 3)
    cx.set(CxUni, 46)
    cx
  }

  /** Zero-coding context (Table D.1) from neighbor significance sums.
    * `band`: 0=LL 1=HL 2=LH 3=HH. LL/LH read (h,v) as-is, HL swaps
    * them (its energy is horizontally high-pass), HH is
    * diagonal-primary.
    */
  private[graft] def zcContext(band: Int, h0: Int, v0: Int, d: Int): Int = {
    val (h, v) = if (band == 1) (v0, h0) else (h0, v0)
    if (band == 3) {
      val hv = h + v
      if (d >= 3) 8
      else if (d == 2) { if (hv >= 1) 7 else 6 }
      else if (d == 1) { if (hv >= 2) 5 else if (hv == 1) 4 else 3 }
      else { if (hv >= 2) 2 else if (hv == 1) 1 else 0 }
    } else {
      if (h == 2) 8
      else if (h == 1) { if (v >= 1) 7 else if (d >= 1) 6 else 5 }
      else { // h == 0
        if (v == 2) 4
        else if (v == 1) 3
        else if (d >= 2) 2
        else if (d == 1) 1
        else 0
      }
    }
  }

  /** Sign-coding context + XOR bit (Tables D.2-D.3). `hc`/`vc` are
    * the clamped [-1,1] neighbor sign contributions.
    */
  private[graft] def scContext(hc: Int, vc: Int): (Int, Int) = (hc, vc) match {
    case (1, 1) => (CxSc + 4, 0)
    case (1, 0) => (CxSc + 3, 0)
    case (1, -1) => (CxSc + 2, 0)
    case (0, 1) => (CxSc + 1, 0)
    case (0, 0) => (CxSc, 0)
    case (0, -1) => (CxSc + 1, 1)
    case (-1, 1) => (CxSc + 2, 1)
    case (-1, 0) => (CxSc + 3, 1)
    case (-1, -1) => (CxSc + 4, 1)
    case _ => throw new IllegalArgumentException(s"($hc,$vc)")
  }

  // Flag word of one coefficient in the padded (w+2)×(h+2) grid. The
  // low byte holds which of the eight neighbours are significant, the
  // next nibble which of the four direct neighbours are negative; both
  // are set when a neighbour turns significant, so a context is one
  // table lookup. Padding cells absorb the writes at the block edges.
  private final val NbW = 1; private final val NbE = 2
  private final val NbN = 4; private final val NbS = 8
  private final val NbNW = 16; private final val NbNE = 32
  private final val NbSW = 64; private final val NbSE = 128
  private final val NegW = 256; private final val NegE = 512
  private final val NegN = 1024; private final val NegS = 2048
  private final val Sig = 1 << 12
  private final val Neg = 1 << 13
  private final val Visited = 1 << 14
  private final val Refined = 1 << 15
  private final val NbAny = 0xff

  /** Zero-coding context per band and neighbour byte ([[zcContext]]). */
  private val zcLut: Array[Array[Int]] = Array.tabulate(4, 256) { (band, nb) =>
    def bit(m: Int) = if ((nb & m) != 0) 1 else 0
    CxZc + zcContext(band, bit(NbW) + bit(NbE), bit(NbN) + bit(NbS),
      bit(NbNW) + bit(NbNE) + bit(NbSW) + bit(NbSE))
  }

  /** Sign context and XOR bit ([[scContext]]), packed `cx << 1 | xor`,
    * indexed by the direct neighbours' significance nibble plus their
    * sign nibble shifted to bits 4-7.
    */
  private val scLut: Array[Int] = Array.tabulate(256) { i =>
    def contrib(sig: Int, neg: Int) =
      if ((i & sig) == 0) 0 else if ((i & (neg >> 4)) != 0) -1 else 1
    def clamp(v: Int) = math.max(-1, math.min(1, v))
    val (cx, xor) = scContext(
      clamp(contrib(NbW, NegW) + contrib(NbE, NegE)),
      clamp(contrib(NbN, NegN) + contrib(NbS, NegS)))
    cx << 1 | xor
  }

  /** Decode one code-block: `numPasses` coding passes over bit-planes
    * `msbPlane` down, first pass a cleanup pass (D.4). Returns signed
    * coefficients in row-major order.
    */
  def decodeBlock(data: Array[Byte], from: Int, until: Int,
      w: Int, h: Int, band: Int, numPasses: Int, msbPlane: Int): Array[Int] = {
    // msbPlane < 0 means the packet header claimed more zero bit-planes
    // than Mb-1 — a corrupt header; returning an all-zero block would
    // hide it, so refuse loudly (fail-loudly contract of the module).
    require(msbPlane >= 0,
      s"EBCOT: msbPlane=$msbPlane < 0 (zeroBitplanes exceeds Mb-1 — " +
        "corrupt tier-2 packet header)")
    val t1 = new BlockDecoder(new Mq.Decoder(data, from, until), w, h, band)
    var pass = 0
    var plane = msbPlane
    var passType = 2
    while (pass < numPasses && plane >= 0) {
      if (passType == 0) t1.sigProp(plane)
      else if (passType == 1) t1.magRef(plane)
      else t1.cleanup(plane)
      pass += 1
      if (passType == 2) { plane -= 1; passType = 0 }
      else passType += 1
    }
    // If the plane counter hit -1 before all claimed passes ran, the
    // header's numPasses exceeds the available bit-planes — a silent
    // truncation would return partially-decoded coefficients.
    require(pass == numPasses,
      s"EBCOT: header claims $numPasses passes but only $pass fit in " +
        s"${msbPlane + 1} bit-planes (corrupt tier-2 packet header)")
    t1.coefficients
  }

  /** One code-block's decode state: flag words and magnitudes on the
    * padded grid, passes in the scan order of D.3 (stripes of four
    * rows, columns left to right, rows top to bottom within a column).
    */
  private final class BlockDecoder(mq: Mq.Decoder, w: Int, h: Int,
      band: Int) {
    // Each pass copies the fields it uses into locals: the JIT reloads
    // a field after every call it does not inline.
    private val stride = w + 2
    private val flags = new Array[Int](stride * (h + 2))
    private val mag = new Array[Int](stride * (h + 2))
    private val cx = freshContexts()
    private val zc = zcLut(band)

    /** Decode the sign of the coefficient at `p`, mark it significant
      * with magnitude bit `one`, and tell its neighbours.
      */
    private def becomeSignificant(p: Int, one: Int): Unit = {
      val f = flags(p)
      val sc = scLut((f & 0xf) | ((f >> 4) & 0xf0))
      val neg = mq.decode(cx, sc >> 1) ^ (sc & 1) // 1 = negative
      mag(p) |= one
      val fl = flags
      // branch-free on the (random) sign: `neg * NegX` is NegX or 0
      fl(p) = f | Sig | neg * Neg
      fl(p - 1) |= NbE | neg * NegE; fl(p + 1) |= NbW | neg * NegW
      fl(p - stride) |= NbS | neg * NegS; fl(p + stride) |= NbN | neg * NegN
      fl(p - stride - 1) |= NbSE; fl(p - stride + 1) |= NbSW
      fl(p + stride - 1) |= NbNE; fl(p + stride + 1) |= NbNW
    }

    /** Significance propagation: insignificant coefficients with a
      * significant neighbour.
      */
    def sigProp(plane: Int): Unit = {
      val flags = this.flags; val zc = this.zc; val stride = this.stride
      val mq = this.mq; val cx = this.cx
      val one = 1 << plane
      var y0 = 0
      while (y0 < h) {
        val rows = math.min(4, h - y0)
        var x = 0
        while (x < w) {
          var p = (y0 + 1) * stride + x + 1
          val end = p + rows * stride
          while (p < end) {
            val f = flags(p)
            if ((f & Sig) == 0 && (f & NbAny) != 0) {
              flags(p) = f | Visited
              if (mq.decode(cx, zc(f & NbAny)) == 1) becomeSignificant(p, one)
            }
            p += stride
          }
          x += 1
        }
        y0 += 4
      }
    }

    /** Magnitude refinement: significant coefficients this plane's
      * propagation pass did not visit.
      */
    def magRef(plane: Int): Unit = {
      val flags = this.flags; val mag = this.mag; val stride = this.stride
      val mq = this.mq; val cx = this.cx
      var y0 = 0
      while (y0 < h) {
        val rows = math.min(4, h - y0)
        var x = 0
        while (x < w) {
          var p = (y0 + 1) * stride + x + 1
          val end = p + rows * stride
          while (p < end) {
            val f = flags(p)
            if ((f & (Sig | Visited)) == Sig) {
              val ctx =
                if ((f & Refined) != 0) CxMr + 2
                else if ((f & NbAny) != 0) CxMr + 1
                else CxMr
              mag(p) |= mq.decode(cx, ctx) << plane
              flags(p) = f | Refined
            }
            p += stride
          }
          x += 1
        }
        y0 += 4
      }
    }

    /** Cleanup: every coefficient not yet coded in this plane, with
      * run-length mode on full stripe columns whose four coefficients
      * are insignificant, unvisited and without significant
      * neighbours. Clears the visited marks for the next plane.
      */
    def cleanup(plane: Int): Unit = {
      val flags = this.flags; val zc = this.zc; val stride = this.stride
      val mq = this.mq; val cx = this.cx
      val one = 1 << plane
      var y0 = 0
      while (y0 < h) {
        val rows = math.min(4, h - y0)
        var x = 0
        while (x < w) {
          var p = (y0 + 1) * stride + x + 1
          val end = p + rows * stride
          if (rows == 4 &&
            ((flags(p) | flags(p + stride) | flags(p + 2 * stride) |
              flags(p + 3 * stride)) & (Sig | Visited | NbAny)) == 0) {
            if (mq.decode(cx, CxRl) == 0) p = end // whole column stays zero
            else {
              // coefficients above the first significant one are zero
              val r = (mq.decode(cx, CxUni) << 1) | mq.decode(cx, CxUni)
              p += r * stride
              becomeSignificant(p, one)
              p += stride
            }
          }
          while (p < end) {
            val f = flags(p)
            if ((f & (Sig | Visited)) == 0) {
              if (mq.decode(cx, zc(f & NbAny)) == 1) becomeSignificant(p, one)
            } else if ((f & Visited) != 0) flags(p) = f & ~Visited
            p += stride
          }
          x += 1
        }
        y0 += 4
      }
    }

    /** Signed coefficients, row-major without the padding. */
    def coefficients: Array[Int] = {
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var p = (y + 1) * stride + 1
        var i = y * w
        val end = i + w
        while (i < end) {
          out(i) = if ((flags(p) & Neg) != 0) -mag(p) else mag(p)
          i += 1; p += 1
        }
        y += 1
      }
      out
    }
  }
}
