package graft

import graft.functions.Raster.Chip
import graft.sources.{Download, RasterIO}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** S5 binary scan, S6 download control logic, S7/S8 sinks. */
class RasterIOSpec extends AnyFunSuite with SharedSpark {

  test("S5: binaryFile scan parses band/resolution/tile from names") {
    val dir = Files.createTempDirectory("graft-jp2")
    Seq("T31TCJ_20230615T104621_B02_10m.jp2",
      "T31TCJ_20230615T104621_B08_10m.jp2",
      "T31TCJ_20230615T104621_B02_20m.jp2").foreach { n =>
      Files.write(dir.resolve(n), Array[Byte](1, 2, 3))
    }
    val df = RasterIO.readBandFiles(spark, dir.toString)
    val rows = df.select("band", "resolution_m", "tile")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(rows == Seq(("B02", 10, "31TCJ"), ("B02", 20, "31TCJ"),
      ("B08", 10, "31TCJ")))
  }

  /** The feature store after `writeChips` of `rows`, served in place
    * (a local Dataset) and as a distributed job (a non-local copy):
    * both must write the same files with the same bytes and count the
    * same failures. Returns (failures, file name -> bytes).
    */
  private def writeBothPaths(rows: Seq[(String, Chip)],
      encode: Chip => Array[Byte] = graft.sources.GeoTiff.encode(_))
      : (Long, Map[String, Seq[Byte]]) = {
    import spark.implicits._
    val local = rows.toDS()
    val distributed = local.repartition(2)
    assert(local.isLocal && !distributed.isLocal)
    val Seq(a, b) = Seq(local, distributed).map { ds =>
      val out = Files.createTempDirectory("graft-store").toString
      val failed = RasterIO.writeChips(ds, out, encode)
      failed -> new java.io.File(out).list().map(n =>
        n -> Files.readAllBytes(Paths.get(out, n)).toSeq).toMap
    }
    assert(a == b)
    a
  }

  test("S7/S8: chips land in the feature store as GeoTIFF <uuid>.tif") {
    val chip = Chip(2, 1, 0, 0, 2, 1, 0.0, Array(1.5, 2.5))
    val (failed, files) = writeBothPaths(Seq(("u-1", chip), ("u-2", chip)))
    assert(failed == 0L)
    assert(files.keySet == Set("u-1.tif", "u-2.tif"))
    val (back, epsg) = graft.sources.GeoTiff.decode(files("u-1.tif").toArray)
    assert(epsg == 4326)
    assert(back == chip.copy(px = back.px) && back.px.toSeq == Seq(1.5, 2.5))
  }

  test("S7/S8: a chip whose encode fails is counted and skipped, " +
      "the others still land") {
    val ok = Chip(2, 1, 0, 0, 2, 1, 0.0, Array(1.5, 2.5))
    val bad = ok.copy(nodata = -1.0)
    val (failed, files) = writeBothPaths(Seq(("u-ok", ok), ("u-bad", bad)),
      encode = c =>
        if (c.nodata == -1.0) throw new java.io.IOException("disk full")
        else graft.sources.GeoTiff.encode(c))
    assert(failed == 1L)
    assert(files.keySet == Set("u-ok.tif"))
  }

  test("S7: writeChips leaves no graft-chips temp directory behind, " +
      "on either path and when a chip fails") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def temps = tmp.list().count(_.startsWith("graft-chips"))
    val before = temps
    val ok = Chip(2, 1, 0, 0, 2, 1, 0.0, Array(1.5, 2.5))
    writeBothPaths(Seq(("t-1", ok), ("t-2", ok), ("t-3", ok.copy(nodata = -1.0))),
      encode = c =>
        if (c.nodata == -1.0) throw new java.io.IOException("disk full")
        else graft.sources.GeoTiff.encode(c))
    assert(temps == before)
  }

  test("S7: GeoTIFF encode/decode round-trips bit-exactly with georeferencing") {
    val rnd = new scala.util.Random(7)
    val px = Array.fill(16 * 9)(rnd.nextDouble() * 10000 - 100)
    val chip = Chip(16, 9, 360000.0, 4816000.0, 368000.0, 4824000.0, -9999.0, px)
    val bytes = graft.sources.GeoTiff.encode(chip, epsg = 32631) // UTM 31N
    // valid little-endian classic TIFF magic
    assert(bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte && bytes(2) == 42)
    val (back, epsg) = graft.sources.GeoTiff.decode(bytes)
    assert(epsg == 32631)
    assert(back.width == 16 && back.height == 9)
    assert((back.minx, back.miny, back.maxx, back.maxy) ==
      (chip.minx, chip.miny, chip.maxx, chip.maxy))
    assert(back.nodata == -9999.0)
    assert(back.px.toSeq == px.toSeq) // bit-exact pixels
    // profile guard: a compressed/other-profile TIFF is rejected loudly
    val mangled = bytes.clone()
    // flip the Compression tag value (find tag 259 in the IFD) — decode
    // must refuse, not mis-read
    val e = intercept[IllegalArgumentException] {
      val b = java.nio.ByteBuffer.wrap(mangled).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifd = b.getInt(4)
      val n = b.getShort(ifd)
      (0 until n).foreach { i =>
        val off = ifd + 2 + i * 12
        if ((b.getShort(off) & 0xffff) == 259) b.putShort(off + 8, 5) // LZW
      }
      graft.sources.GeoTiff.decode(mangled)
    }
    assert(e.getMessage.contains("compressed TIFF unsupported"))
  }

  test("S7 property: GeoTIFF round-trips arbitrary chip shapes bit-exactly") {
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 25) {
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(40)
      val minx = rnd.nextDouble() * 1000 - 500
      val miny = rnd.nextDouble() * 1000 - 500
      val chip = Chip(w, h, minx, miny,
        minx + rnd.nextDouble() * 100 + 1, miny + rnd.nextDouble() * 100 + 1,
        nodata = -1.0,
        Array.fill(w * h)(rnd.nextDouble() * 1e6 - 1e3))
      val epsg = if (rnd.nextBoolean()) 4326 else 32600 + rnd.nextInt(60) + 1
      val (back, e2) = graft.sources.GeoTiff.decode(
        graft.sources.GeoTiff.encode(chip, epsg))
      assert(e2 == epsg && back.width == w && back.height == h)
      assert(back.px.toSeq == chip.px.toSeq)
      assert(math.abs(back.maxx - chip.maxx) < 1e-9 &&
        math.abs(back.miny - chip.miny) < 1e-9)
    }
  }

  test("S7: GDAL_NODATA values <= 4 bytes are stored inline per TIFF spec") {
    // '0.0'+NUL is exactly 4 bytes: the tag's value field must hold
    // the ASCII bytes themselves, not an offset — external readers
    // (GDAL) misparse the offset form.
    val chip = Chip(2, 1, 0, 0, 2, 1, 0.0, Array(1.0, 2.0))
    val bytes = graft.sources.GeoTiff.encode(chip)
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = b.getInt(4)
    val n = b.getShort(ifd)
    val nodataEntry = (0 until n).map(i => ifd + 2 + i * 12)
      .find(off => (b.getShort(off) & 0xffff) == 42113).get
    assert(b.getInt(nodataEntry + 4) == 4) // count
    val inline = new String(bytes, nodataEntry + 8, 4, "US-ASCII")
    assert(inline.startsWith("0.0")) // ASCII in the value field itself
    val (back, _) = graft.sources.GeoTiff.decode(bytes)
    assert(back.nodata == 0.0 && back.px.toSeq == Seq(1.0, 2.0))
    // > 4 bytes keeps the (spec-legal) offset form and round-trips
    val far = graft.sources.GeoTiff.encode(chip.copy(nodata = -9999.5))
    assert(graft.sources.GeoTiff.decode(far)._1.nodata == -9999.5)
  }

  test("S6: token clock mints once, refreshes only after ttl") {
    var clock = 0L
    val mints = new AtomicInteger(0)
    val tc = new Download.TokenClock(
      mint = () => s"tok${mints.incrementAndGet()}",
      ttlSeconds = 600, now = () => clock)
    assert(tc.get() == "tok1")
    clock = 599; assert(tc.get() == "tok1") // still fresh
    clock = 600; assert(tc.get() == "tok2") // refreshed at ttl
    clock = 700; assert(tc.get() == "tok2")
  }

  test("S6: redirect loop follows 30x chains and bounds hops") {
    val bytes = Array[Byte](42)
    val got = Download.followRedirects("u0", {
      case "u0" => Left("u1"); case "u1" => Left("u2")
      case "u2" => Right(bytes)
    })
    assert(got.toSeq == bytes.toSeq)
    assertThrows[IllegalStateException] {
      Download.followRedirects("a", _ => Left("a"), maxHops = 3)
    }
  }

  test("S6: partition fetch caps concurrency at the quota and skips failures") {
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val urls = (1 to 20).map(i => s"u$i")
    val got = Download.fetchPartition(urls, { u =>
      val cur = inFlight.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, cur))
      Thread.sleep(5)
      inFlight.decrementAndGet()
      if (u == "u7") throw new RuntimeException("boom")
      u.getBytes
    }, maxConcurrent = 4)
    assert(maxSeen.get() <= 4)
    assert(got.size == 19) // u7 skipped, logged
    assert(got.toMap.keySet == urls.toSet - "u7")
  }

  test("S5: scanned JP2 band files decode to bit-exact pixels, distributed") {
    val rng = new scala.util.Random(5)
    val dir = java.nio.file.Files.createTempDirectory("graft-jp2")
    val images = Seq(
      ("T32UPU_20230615T100031_B02_10m.jp2", 48, 32),
      ("T32UPU_20230615T100031_B03_10m.jp2", 40, 40),
      ("T33UVP_20230715T100029_B8A_20m.jp2", 33, 27)).map {
      case (name, w, h) =>
        val img = Array.fill(w * h)(rng.nextInt(1 << 12))
        java.nio.file.Files.write(dir.resolve(name),
          Jp2Fixture.encode(img, w, h, levels = 3, bitDepth = 12))
        name -> ((w, h, img))
    }.toMap
    val decoded = graft.sources.RasterIO.decodeBandPixels(
      graft.sources.RasterIO.readBandFiles(spark, dir.toString))
      .select("file", "band", "width", "height", "pixels")
      .collect()
    assert(decoded.length == 3)
    decoded.foreach { r =>
      val (w, h, img) = images(r.getString(0))
      assert(r.getInt(2) == w && r.getInt(3) == h)
      assert(r.getSeq[Int](4).toSeq == img.toSeq,
        s"${r.getString(0)} pixels corrupted")
    }
    assert(decoded.map(_.getString(1)).sorted.toSeq == Seq("B02", "B03", "B8A"))
    // the OVERVIEW pass over the same files: each band at 1/2 scale,
    // bit-exactly the LL_1 of its source (Jp2Spec pins the codec
    // identity; this pins the distributed surface + schema)
    val over = graft.sources.RasterIO.decodeBandPixelsReduced(
      graft.sources.RasterIO.readBandFiles(spark, dir.toString), discard = 1)
      .select("file", "width", "height", "pixels")
      .collect()
    assert(over.length == 3)
    over.foreach { r =>
      val (w, h, img) = images(r.getString(0))
      val (wr, hr) = ((w + 1) / 2, (h + 1) / 2)
      assert(r.getInt(1) == wr && r.getInt(2) == hr)
      val shift = 1 << 11
      val fwd = graft.sources.Wavelet53.forward2d(img.map(_ - shift), w, h, 1)
      val expected = Array.tabulate(wr * hr)(i =>
        fwd((i / wr) * w + (i % wr)) + shift)
      assert(r.getSeq[Int](3).toSeq == expected.toSeq,
        s"${r.getString(0)} overview diverged from LL_1")
    }
  }

  test("S5: a true-color (RGB, RCT) JP2 scan explodes to one " +
      "bit-exact row per component, distributed") {
    val rng = new scala.util.Random(9)
    val dir = java.nio.file.Files.createTempDirectory("graft-jp2-tci")
    val (w, h) = (40, 32)
    val rgb = Seq.fill(3)(Array.fill(w * h)(rng.nextInt(256)))
    java.nio.file.Files.write(
      dir.resolve("T32UPU_20230615T100031_TCI_10m.jp2"),
      Jp2Fixture.encodeMulti(rgb, w, h, levels = 2, mct = true))
    val rows = graft.sources.RasterIO.decodeAllBandPixels(
      graft.sources.RasterIO.readBandFiles(spark, dir.toString))
      .select("component", "width", "height", "pixels")
      .collect()
      .sortBy(_.getInt(0))
    assert(rows.length == 3)
    rows.zipWithIndex.foreach { case (r, c) =>
      assert(r.getInt(0) == c && r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getSeq[Int](3).toSeq == rgb(c).toSeq,
        s"component $c corrupted through the distributed RGB decode")
    }
  }
}
