package graft

import graft.functions.Raster
import graft.functions.Raster.Chip
import graft.operators.{Multimodal, Tx}
import graft.operators.Multimodal.Media
import graft.operators.Tx.BandChip
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tx pipeline composition (R6, without the reference's bugs) and the
  * multimodal batch plumbing.
  */
class TxMultimodalSpec extends AnyFunSuite with SharedSpark {

  private def chip(v: Double) =
    Chip(2, 2, 0, 0, 2, 2, -1.0, Array(v, v, v, v))

  private def flat(scenes: Array[Tx.Scene]) = scenes.sortBy(_.scene).toSeq.map { sc =>
    (sc.scene, sc.bands, sc.chips.map(c =>
      (c.width, c.height, c.minx, c.miny, c.maxx, c.maxy, c.nodata, c.px.toSeq)))
  }

  /** `f` over a local input (served on the driver) and over a
    * non-local copy of it (the distributed plan): both must give the
    * same scenes, which are returned.
    */
  private def bothPaths(in: Dataset[BandChip])(
      f: Dataset[BandChip] => Dataset[Tx.Scene]): Array[Tx.Scene] = {
    val distributed = in.repartition(2)
    assert(in.isLocal && !distributed.isLocal)
    val got = f(in).collect()
    assert(flat(got) == flat(f(distributed).collect()))
    got
  }

  test("etlProcessTile: normalize gate + stack once, sorted bands") {
    implicit val s = spark
    import s.implicits._
    val in = Seq(
      BandChip("sc1", "B08", chip(10000.0)),
      BandChip("sc1", "B02", chip(5000.0))).toDS()
    val out = bothPaths(in)(Tx.etlProcessTile(_, uint8 = true))
    assert(out.length == 1)
    assert(out(0).bands == Seq("B02", "B08"))
    assert(out(0).chips(0).px.toSeq == Seq(127.0, 127.0, 127.0, 127.0))
    assert(out(0).chips(1).px.toSeq == Seq(255.0, 255.0, 255.0, 255.0))
    // uint8=false leaves pixels untouched (gate at tx.py:111-114)
    val raw = bothPaths(in)(Tx.etlProcessTile(_, uint8 = false))
    assert(raw(0).chips(0).px.toSeq == Seq(5000.0, 5000.0, 5000.0, 5000.0))
  }

  test("etlProcessByPolygon: stack → clip → resample, each once") {
    implicit val s = spark
    import s.implicits._
    val base = Chip(4, 4, 0, 0, 4, 4, -1.0,
      Array.tabulate(16)(_.toDouble))
    val in = Seq(BandChip("sc1", "B02", base)).toDS()
    val out = bothPaths(in)(Tx.etlProcessByPolygon(_, uint8 = false,
      clipBox = (1, 1, 3, 3),
      target = Some((2, 2, 1, 1, 3, 3))))
    assert(out.length == 1)
    val c = out(0).chips(0)
    assert(c.width == 2 && c.height == 2)
    assert(c.px.toSeq == Seq(5.0, 6.0, 9.0, 10.0))
  }

  test("etlProcessByPolygon clips each band first: output equals normalize → stack → clip") {
    implicit val s = spark
    import s.implicits._
    val rng = new scala.util.Random(77)
    val in = for (scene <- Seq("sc1", "sc2"); band <- Seq("B08", "B02", "B04")) yield {
      val (w, h) = (4 + rng.nextInt(13), 4 + rng.nextInt(13))
      val (x1, y1) = (rng.nextDouble() * 6, rng.nextDouble() * 6)
      BandChip(scene, band, Chip(w, h, x1, y1, x1 + 0.5 * w, y1 + 0.75 * h,
        -1.0, Array.fill(w * h)(rng.nextInt(12000).toDouble)))
    }
    val box = (2.5 + rng.nextDouble(), 3.0 + rng.nextDouble(), 7.0, 9.5)
    for (uint8 <- Seq(true, false)) {
      val got = bothPaths(in.toDS())(Tx.etlProcessByPolygon(_, uint8, box))
      val want = bothPaths(in.toDS())(Tx.etlProcessTile(_, uint8)).map(sc =>
        sc.copy(chips = sc.chips.map(c =>
          Raster.clipByBox(c, box._1, box._2, box._3, box._4))))
      assert(flat(got) == flat(want), s"uint8=$uint8")
      assert(want.flatMap(_.chips).exists(c => c.width > 0 && c.height > 0))
    }
  }

  test("multimodal: batch feature extraction is deterministic + typed") {
    implicit val s = spark
    import s.implicits._
    val media = Seq(
      Media(1L, "image", Array.tabulate(64)(_.toByte), 8, 8, 0),
      Media(2L, "audio", Array.tabulate(128)(i => (i * 3).toByte), 0, 0, 16000),
      Media(3L, "image", Array.tabulate(64)(_.toByte), 8, 8, 0)).toDS()
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.map(_.dim).toSeq == Seq(16, 16, 16))
    // identical payloads → identical features; different → different
    assert(feats(0).features.toSeq == feats(2).features.toSeq)
    assert(feats(0).features.toSeq != feats(1).features.toSeq)
    assert(feats.forall(_.features.forall(f => f >= 0f && f < 1f)))
  }

  test("multimodal: frame sampling explodes stride-spaced slices") {
    import spark.implicits._
    val df = Seq((1L, Array.tabulate(100)(_.toByte))).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(df, frameBytes = 10, stride = 3)
      .select("frame_idx", "frame_payload").collect()
    assert(frames.map(_.getInt(0)).toSeq == Seq(0, 3, 6, 9))
    assert(frames.forall(_.getAs[Array[Byte]](1).length == 10))
    assert(frames(1).getAs[Array[Byte]](1).head == 30.toByte)
  }

  test("multimodal: feature resize samples nearest indices") {
    import spark.implicits._
    val df = Seq((1L, 4, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("media_id", "dim", "features")
    val out = Multimodal.resizeFeatures(df, 8)
      .select("features_resized").head().getSeq[Float](0)
    assert(out == Seq(1f, 1f, 2f, 2f, 3f, 3f, 4f, 4f))
  }

  test("etlProcessToWgs84 warps stacked UTM bands to lon/lat bounds") {
    import spark.implicits._
    implicit val s = spark
    val utmChip = graft.functions.Raster.Chip(4, 4,
      360000.0, 4816000.0, 368000.0, 4824000.0, 0.0,
      Array.tabulate(16)(i => (i + 1) * 1000.0))
    val in = Seq(
      Tx.BandChip("sceneA", "B03", utmChip),
      Tx.BandChip("sceneA", "B02", utmChip)).toDS()
    val out = bothPaths(in)(Tx.etlProcessToWgs84(_, uint8 = false, utmZone = 31))
    assert(out.length == 1 && out.head.bands == Seq("B02", "B03"))
    val warped = out.head.chips.head
    // bounds landed in lon/lat around the Toulouse AOI
    assert(warped.minx > 1.2 && warped.maxx < 1.5)
    assert(warped.miny > 43.4 && warped.maxy < 43.6)
    assert(warped.px.exists(_ != warped.nodata)) // real samples made it
  }

  test("multimodal: REAL tiff modality — decode, resize, re-encode distributed") {
    import spark.implicits._
    implicit val s = spark
    val chip = graft.functions.Raster.Chip(4, 4, 0, 0, 4, 4, -1.0,
      Array.tabulate(16)(_.toDouble))
    val payload = graft.sources.GeoTiff.encode(chip)
    // real feature decode
    val f = Multimodal.decodeTiffFeatures(payload)
    assert(f.toSeq == Seq(4f, 4f, 0f, 15f, 7.5f))
    // distributed resize 4x4 -> 8x8 through mapPartitions, over a
    // local input and over a repartitioned (non-local) copy of it
    val rows = Seq(Multimodal.TiffRow(1L, payload)).toDS()
    val resized = Multimodal.resizeTiffs(rows, 8, 8).collect()
    val resizedDist = Multimodal.resizeTiffs(rows.repartition(2), 8, 8).collect()
    assert(resizedDist.map(r => (r.media_id, r.payload.toSeq)).toSeq ==
      resized.map(r => (r.media_id, r.payload.toSeq)).toSeq)
    val (back, epsg) = graft.sources.GeoTiff.decode(resized.head.payload)
    assert(epsg == 4326 && back.width == 8 && back.height == 8)
    // nearest upsample: each source pixel becomes a 2x2 block
    assert(back.px(0) == 0.0 && back.px(1) == 0.0)  // row 0 from src row 0
    assert(back.px(8 * 7) == 12.0)                   // bottom-left from src(3,0)
    assert((back.minx, back.maxy) == (0.0, 4.0))     // bounds preserved
    // a UTM-tagged payload keeps ITS OWN CRS through a resize
    val utmPayload = graft.sources.GeoTiff.encode(chip, epsg = 32631)
    val utmBack = Multimodal.resizeTiffs(
      Seq(Multimodal.TiffRow(2L, utmPayload)).toDS(), 2, 2).collect()
    assert(graft.sources.GeoTiff.decode(utmBack.head.payload)._2 == 32631)
  }

  test("multimodal: REAL audio modality — PCM s16le round trip, " +
      "resample, waveform features") {
    // round trip across the full signed range incl. byte-boundary
    // values (sign extension and little-endian order are the bugs)
    val edge = Array(-32768, -32767, -256, -255, -1, 0, 1, 255, 256, 32767)
    assert(Multimodal.decodePcm(Multimodal.encodePcm(edge)).toSeq == edge.toSeq)
    val rng = new scala.util.Random(17)
    val wave = Array.fill(1000)(rng.nextInt(65536) - 32768)
    assert(Multimodal.decodePcm(Multimodal.encodePcm(wave)).toSeq == wave.toSeq)
    // corrupt payload (odd byte) fails loudly, never shifts frames
    intercept[IllegalArgumentException] {
      Multimodal.decodePcm(Array[Byte](1, 2, 3))
    }
    // out-of-range sample refused at encode
    intercept[IllegalArgumentException] {
      Multimodal.encodePcm(Array(40000))
    }
    // resample: identity at same length; endpoints anchored; halving
    // keeps a linear ramp linear
    val ramp = Array.tabulate(101)(_ * 10)
    assert(Multimodal.resamplePcm(ramp, 101).toSeq == ramp.toSeq)
    val half = Multimodal.resamplePcm(ramp, 51)
    assert(half.head == 0 && half.last == 1000)
    assert(half.toSeq == Seq.tabulate(51)(_ * 20))
    // EXACT resample: identity at same length (frac always 0);
    // endpoints anchored; linear ramp stays exactly linear; agrees
    // with the float path on a clean 2:1 ramp; truncation toward
    // zero on negatives matches Scala/DuckDB integer division
    assert(Multimodal.resamplePcmExact(ramp, 101).toSeq == ramp.toSeq)
    val halfE = Multimodal.resamplePcmExact(ramp, 51)
    assert(halfE.head == 0 && halfE.last == 1000)
    assert(halfE.toSeq == Seq.tabulate(51)(_ * 20))
    // -7/2 truncates to -3 (not floor's -4): j=1 of [-7, 0] at 3 pts
    assert(Multimodal.resamplePcmExact(Array(-7, 0), 3).toSeq ==
      Seq(-7, -4, 0)) // -7 + 7*1/2 = -7 + 3 (7/2 truncates) = -4
    intercept[IllegalArgumentException] {
      Multimodal.resamplePcmExact(Array(1, 2), 1)
    }
    // features: energy/ZCR/peak on a known square-ish wave
    val sq = Array.tabulate(8)(i => if (i % 2 == 0) 100 else -100)
    val f = Multimodal.pcmFeatures(7L, sq)
    assert(f == Multimodal.PcmFeatures(7L, 8L, 8L * 10000L, 7L, 100L))
    // zero samples break no strict sign flip: +,0,- has none
    assert(Multimodal.pcmFeatures(1L, Array(5, 0, -5)).zero_crossings == 0L)
  }

  test("multimodal: REAL video modality — frame round trip, motion " +
      "energy, scene cuts, frame-shift sensitivity") {
    val rng = new scala.util.Random(23)
    val frames = Array.fill(6)(Array.fill(64)(rng.nextInt(256)))
    val back = Multimodal.decodeFrames(Multimodal.encodeFrames(frames), 64)
    assert(back.map(_.toSeq).toSeq == frames.map(_.toSeq).toSeq)
    // corrupt payloads fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeFrames(new Array[Byte](65), 64) // partial frame
    }
    intercept[IllegalArgumentException] {
      Multimodal.encodeFrames(Array(Array(1, 2), Array(1))) // ragged
    }
    intercept[IllegalArgumentException] {
      Multimodal.encodeFrames(Array(Array(300))) // out of u8 range
    }
    // a 3-scene clip: frames 0-1 = A, 2-3 = B, 4-5 = A again
    val a = Array.fill(64)(10)
    val b = Array.fill(64)(20)
    val clip = Array(a, a, b, b, a, a)
    val f = Multimodal.videoFeatures(3L, clip)
    assert(f.n_frames == 6L && f.sum_luma == (4 * 64 * 10 + 2 * 64 * 20).toLong)
    assert(f.n_cuts == 2L, s"expected the 2 scene boundaries, got ${f.n_cuts}")
    assert(f.motion_total == 2L * 64 * 10) // |20-10| * 64 px * 2 cuts
    // the gate's sensitivity claim: shifting the byte stream by ONE
    // byte desyncs every frame boundary and changes the motion sum
    // (on structured content it can even stay equal by symmetry, so
    // the check uses the random frames)
    val bytes = Multimodal.encodeFrames(frames)
    val shifted = Multimodal.decodeFrames(bytes.drop(1) :+ bytes.head, 64)
    assert(Multimodal.videoFeatures(3L, shifted).motion_total
      != Multimodal.videoFeatures(3L, back).motion_total,
      "frame shift went undetected by motion")
  }
}
