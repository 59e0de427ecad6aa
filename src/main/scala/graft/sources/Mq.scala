package graft.sources

/** The MQ binary arithmetic coder of JPEG 2000 (ITU-T T.800 Annex C;
  * the same coder as JBIG2's T.88) — the entropy core under EBCOT
  * tier-1. Implemented from the spec's flowcharts (C.2 encoder, C.3
  * decoder, Table C.2 probability state machine); no external code.
  *
  * Both directions ship because the coder is only testable as a pair
  * in a zero-dependency container: Jp2Spec proves
  * decode(encode(bits)) == bits over randomized context streams, and
  * the tier-1 round trip (Jp2Fixture) exercises it against real
  * coefficient statistics.
  */
object Mq {

  /** Table C.2 — Qe, NMPS, NLPS, SWITCH for the 47 states. */
  private[graft] val Qe = Array(
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601)
  private[graft] val Nmps = Array(
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46)
  private[graft] val Nlps = Array(
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14,
    15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private[graft] val Switch = Array(
    1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Transition tables over the packed context word `2 * state + mps`:
    * the Qe of the word's state, and the word after an MPS or an LPS
    * decision (the LPS word carries Table C.2's SWITCH of the MPS
    * sense). One load per decision instead of four table lookups.
    */
  private val QeOf = Array.tabulate(2 * Qe.length)(i => Qe(i >> 1))
  private val AfterMps = Array.tabulate(2 * Qe.length)(i =>
    2 * Nmps(i >> 1) + (i & 1))
  private val AfterLps = Array.tabulate(2 * Qe.length)(i =>
    2 * Nlps(i >> 1) + ((i & 1) ^ Switch(i >> 1)))

  /** Context states, one packed word per context: probability-table
    * index times two plus the current MPS sense. Initial states per
    * Table D.7 are the CALLER's business (tier-1 sets UNI=46, RL=3,
    * first zero-coding=4).
    */
  final class Contexts(n: Int) {
    private[Mq] val word = new Array[Int](n)
    def set(cx: Int, s: Int): Unit = word(cx) = 2 * s
  }

  /** Decoder, C.3 software conventions: C's high half is compared
    * against Qe; BYTEIN feeds 1-bits past a terminating marker.
    */
  final class Decoder(data: Array[Byte], from: Int, until: Int) {
    def this(data: Array[Byte]) = this(data, 0, data.length)
    private var bp = from
    private var c = 0
    private var ct = 0
    private var a = 0

    // INITDEC
    c = byteAt(bp) << 16
    byteIn()
    c <<= 7; ct -= 7; a = 0x8000

    private def byteAt(i: Int): Int =
      if (i < until) data(i) & 0xff else 0xff // past end = marker: feed 1s

    // BYTEIN (C.3.4)
    private def byteIn(): Unit = {
      if (byteAt(bp) == 0xff) {
        val next = byteAt(bp + 1)
        if (next > 0x8f) { c += 0xff00; ct = 8 }
        else { bp += 1; c += next << 9; ct = 7 }
      } else { bp += 1; c += byteAt(bp) << 8; ct = 8 }
    }

    /** RENORMD (C.3.3): shift A and C left until A's bit 15 is set,
      * all the shifts up to the next BYTEIN at once instead of one
      * loop turn per bit.
      */
    private def renorm(): Unit = {
      var n = Integer.numberOfLeadingZeros(a) - 16 // 0 < a < 0x8000 here
      while (n > 0) {
        if (ct == 0) byteIn()
        val s = math.min(n, ct)
        a <<= s; c <<= s; ct -= s; n -= s
      }
    }

    /** DECODE one decision in context `cx` (C.3.2 with the
      * MPS/LPS_EXCHANGE procedures inlined; the LPS sub-interval sits
      * at the bottom, conditionally exchanged when A-Qe < Qe).
      */
    def decode(cxs: Contexts, cx: Int): Int = {
      val words = cxs.word
      val w = words(cx)
      val qe = QeOf(w)
      a -= qe
      if ((c >>> 16) < qe) {
        // LPS_EXCHANGE (a holds A-Qe for the conditional-exchange test)
        val d =
          if (a < qe) { words(cx) = AfterMps(w); w & 1 }
          else { words(cx) = AfterLps(w); 1 - (w & 1) }
        a = qe
        renorm()
        d
      } else {
        c -= qe << 16
        if ((a & 0x8000) == 0) {
          // MPS_EXCHANGE
          val d =
            if (a < qe) { words(cx) = AfterLps(w); 1 - (w & 1) }
            else { words(cx) = AfterMps(w); w & 1 }
          renorm()
          d
        } else w & 1
      }
    }
  }

  /** Encoder, C.2: emits the codeword segment for FLUSH-terminated
    * streams (the default single-segment code-block form).
    */
  final class Encoder {
    private var out = new Array[Byte](64) // out(0): scratch byte, dropped
    private var n = 1
    private var c = 0
    private var ct = 12
    private var a = 0x8000

    private def last: Int = out(n - 1) & 0xff

    private def emit(b: Int): Unit = {
      if (n == out.length) out = java.util.Arrays.copyOf(out, 2 * n)
      out(n) = b.toByte; n += 1
    }

    private def byteOut(): Unit = {
      if (last == 0xff) {
        emit((c >>> 20) & 0xff); c &= 0xfffff; ct = 7
      } else if (c < 0x8000000) {
        emit((c >>> 19) & 0xff); c &= 0x7ffff; ct = 8
      } else {
        out(n - 1) = (last + 1).toByte // carry; last < 0xff here
        if (last == 0xff) {
          c &= 0x7ffffff
          emit((c >>> 20) & 0xff); c &= 0xfffff; ct = 7
        } else {
          emit((c >>> 19) & 0xff); c &= 0x7ffff; ct = 8
        }
      }
    }

    private def renorm(): Unit = {
      while ({
        a <<= 1; c <<= 1; ct -= 1
        if (ct == 0) byteOut()
        (a & 0x8000) == 0
      }) ()
    }

    /** ENCODE decision `d` in context `cx`. */
    def encode(cxs: Contexts, cx: Int, d: Int): Unit = {
      val words = cxs.word
      val w = words(cx)
      val qe = QeOf(w)
      if (d == (w & 1)) { // CODEMPS
        a -= qe
        if ((a & 0x8000) == 0) {
          if (a < qe) a = qe else c += qe
          words(cx) = AfterMps(w)
          renorm()
        } else c += qe
      } else { // CODELPS
        a -= qe
        if (a < qe) c += qe else a = qe
        words(cx) = AfterLps(w)
        renorm()
      }
    }

    /** FLUSH and return the codeword bytes (scratch dropped, trailing
      * 0xFF trimmed per C.2.9's "can be discarded" rule — the decoder
      * synthesizes 1-bits past the end).
      */
    def flush(): Array[Byte] = {
      // SETBITS
      val tempc = c + a
      c |= 0xffff
      if (c >= tempc) c -= 0x8000
      c <<= ct; byteOut()
      c <<= ct; byteOut()
      require(out(0) == 0, "carry escaped the MQ codeword")
      java.util.Arrays.copyOfRange(out, 1, if (last == 0xff) n - 1 else n)
    }
  }
}
