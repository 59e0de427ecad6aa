package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.{Geo, Raster}
import graft.functions.Raster.Chip
import graft.operators.{ProductSelect, Tx}
import graft.sources.{Download, GeoTiff, HttpTransport, RasterIO}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** `aoi_pipeline`: the paper's acquisition flow, one AOI at a time —
  * catalog page → `ProductSelect.bestProduct` → token →
  * `HttpTransport.fetchPartition` → JP2 decode → `Tx` normalize, stack,
  * clip and reproject → `RasterIO.writeChips` — against a loopback
  * OData/token/download server that serves products generated from the
  * seed. Band payloads are 12-bit JP2 codestreams encoded at set-up by
  * the program's own test encoder (`graft.Jp2Fixture`).
  */
object AoiPipeline {
  val BandPx = 256
  val Bands: Seq[String] = Seq("B02", "B03", "B04", "B08")
  /** AOIs in the list a run walks through; it wraps if a run is long.
    * Every fourth AOI lies in the cell of an earlier one, so it picks a
    * product already picked: a quarter of the AOIs could be served by a
    * product-level cache, the rest bypass one. */
  val NAois = 20
  /** AOIs processed in set-up before the timed loop. Measured on a
    * 4-vCPU VM, an AOI's time falls from 1.5 s to about 0.8 s over its
    * first 16 runs in a JVM, and to a level near 0.7 s by the 25th,
    * while the JIT compiles the hot paths; a loop that timed that
    * descent would time the compiler. */
  val WarmupAois = 16
  /** Cells the warm-up AOIs cycle through, apart from the timed AOIs'
    * cells, so the warm-up picks none of the timed AOIs' products. */
  private val WarmupCells = 2
  private val Zone = 31
  private val Grid = 10             // Grid × Grid product cells
  private val PixelM = 10.0
  private val CellM = BandPx * PixelM
  private val E0 = 380000.0
  private val N0 = 4790000.0

  /** One product in the catalog. `best` = the product AOIs in its
    * cell must pick: the newest with cloud cover in bounds. */
  final case class Product(id: String, cell: Int, tile: String, date: String,
      cloud: Double, best: Boolean) {
    val (gx, gy) = (cell % Grid, cell / Grid)
    val utm: (Double, Double, Double, Double) =
      (E0 + gx * CellM, N0 + gy * CellM, E0 + (gx + 1) * CellM, N0 + (gy + 1) * CellM)
    def file(band: String): String = s"T${tile}_${date.replace("-", "")}T100031_${band}_10m.jp2"
    def footprint: String = {
      val (x1, y1, x2, y2) = utm
      val ring = Seq((x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1))
        .map { case (e, n) => Geo.Crs.utmToWgs84(e, n, Zone) }
      ring.map { case (lon, lat) => s"$lon $lat" }.mkString("POLYGON ((", ", ", "))")
    }
  }

  /** An AOI: a lon/lat box inside one product cell. */
  final case class Aoi(id: Int, cell: Int, lon1: Double, lat1: Double,
      lon2: Double, lat2: Double) {
    def wkt: String = s"POLYGON (($lon1 $lat1, $lon2 $lat1, $lon2 $lat2, $lon1 $lat2, $lon1 $lat1))"
    /** the box in the products' UTM grid: the clip window */
    def utmBox: (Double, Double, Double, Double) = {
      val cs = Seq((lon1, lat1), (lon2, lat1), (lon2, lat2), (lon1, lat2))
        .map { case (lo, la) => Geo.Crs.wgs84ToUtm(lo, la, Zone) }
      (cs.map(_._1).min, cs.map(_._2).min, cs.map(_._1).max, cs.map(_._2).max)
    }
  }

  /** Products share a one-week acquisition window per 2 × 2 block of
    * cells; a search asks for its window, so a catalog page holds the
    * block's 12 products. */
  private def window(cell: Int): (String, String) = {
    val block = (cell % Grid) / 2 + (cell / Grid) / 2 * (Grid / 2)
    val d0 = java.time.LocalDate.of(2023, 1, 1).plusDays(7L * block)
    (d0.toString + "T00:00:00Z", d0.plusDays(7).toString + "T00:00:00Z")
  }

  def generate(seed: Long): (Seq[Product], Seq[Aoi], Seq[Aoi]) = {
    val rng = new scala.util.Random(seed)
    val products = (0 until Grid * Grid).flatMap { cell =>
      val tile = s"31T${('A' + cell % Grid).toChar}${('A' + cell / Grid).toChar}"
      val d0 = java.time.LocalDate.parse(window(cell)._1.take(10))
      def id() = java.util.UUID.nameUUIDFromBytes(
        s"$seed-$cell-${rng.nextLong()}".getBytes(UTF_8)).toString
      Seq(
        // valid but older: loses the coverage tie on recency
        Product(id(), cell, tile, d0.plusDays(1).toString, rng.nextDouble() * 4, best = false),
        Product(id(), cell, tile, d0.plusDays(3).toString, rng.nextDouble() * 4, best = true),
        // newest, but too cloudy to pass the filter
        Product(id(), cell, tile, d0.plusDays(5).toString, 10 + rng.nextDouble() * 50, best = false))
    }
    val cells = rng.shuffle((0 until Grid * Grid).toList)
    def aoi(id: Int, cell: Int): Aoi = {
      // a box of 45 % of the cell side, its center in the middle half
      val (x1, y1, _, _) = products.find(_.cell == cell).get.utm
      val side = CellM * 0.45
      val cx = x1 + CellM * (0.25 + 0.5 * rng.nextDouble())
      val cy = y1 + CellM * (0.25 + 0.5 * rng.nextDouble())
      val (lo1, la1) = Geo.Crs.utmToWgs84(cx - side / 2, cy - side / 2, Zone)
      val (lo2, la2) = Geo.Crs.utmToWgs84(cx + side / 2, cy + side / 2, Zone)
      Aoi(id, cell, lo1, la1, lo2, la2)
    }
    val used = mutable.ArrayBuffer[Int]()
    var fresh = cells
    val aois = (0 until NAois).map { i =>
      if (i % 4 == 3) aoi(i, used(rng.nextInt(used.size)))
      else { val c = fresh.head; fresh = fresh.tail; used += c; aoi(i, c) }
    }
    (products, aois, fresh.take(WarmupCells).zipWithIndex.map { case (c, k) => aoi(-1 - k, c) })
  }

  /** 12-bit band image: a smooth field plus noise, distinct per band. */
  def image(seed: Long, product: String, band: String): Array[Int] = {
    val rng = new scala.util.Random(s"$seed-$product-$band".hashCode.toLong)
    val (fx, fy, ph) = (rng.nextDouble() * 0.05, rng.nextDouble() * 0.05, rng.nextDouble() * 6)
    Array.tabulate(BandPx * BandPx) { i =>
      val (x, y) = (i % BandPx, i / BandPx)
      val v = 2048 + 1500 * math.sin(fx * x + ph) * math.cos(fy * y) + rng.nextInt(64)
      math.max(0, math.min(4095, v.toInt))
    }
  }

  /** Loopback OData catalog, token and download endpoints, counting
    * what they serve. */
  final class Server(products: Seq[Product], payloads: Map[String, Array[Byte]],
      threads: Int) {
    val odataRequests, odataNanos, tokens, requests, redirects, bytes = new AtomicLong()
    private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    http.setExecutor(pool)
    val base = s"http://127.0.0.1:${http.getAddress.getPort}"
    private val byId = products.map(p => p.id -> p).toMap

    private def respond(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
      x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) x.getResponseBody.write(body)
      x.close()
    }
    private def json(p: Product): String =
      s"""{"Id":"${p.id}","Name":"S2A_MSIL2A_${p.date.replace("-", "")}T100031_N0509_R051_T${p.tile}_${p.id.take(8)}",""" +
        s""""S3Path":"$base/data/${p.id}","OriginDate":"${p.date}T10:00:31Z",""" +
        s""""Collection":"SENTINEL-2","ContentDate":{"Start":"${p.date}T10:00:31Z",""" +
        s""""End":"${p.date}T10:01:31Z"},"footprint_wkt":"${p.footprint}",""" +
        s""""Attributes":[{"Name":"productType","Value":"S2MSI2A"},""" +
        s"""{"Name":"tileId","Value":"${p.tile}"},""" +
        s"""{"Name":"cloudCover","Value":"${p.cloud}"},""" +
        s"""{"Name":"relativeOrbitNumber","Value":"51"}]}"""
    private val StartGt = """ContentDate/Start gt ([0-9TZ:\-]+)""".r
    private val StartLt = """ContentDate/Start lt ([0-9TZ:\-]+)""".r

    // the search applies the pushed acquisition window, like a real
    // catalog; the reader re-applies every pushed filter itself
    http.createContext("/odata/Products", (x: HttpExchange) => {
      val t0 = System.nanoTime()
      val q = java.net.URLDecoder.decode(
        Option(x.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      val lo = StartGt.findFirstMatchIn(q).map(_.group(1)).getOrElse("")
      val hi = StartLt.findFirstMatchIn(q).map(_.group(1)).getOrElse("~")
      val page = products.filter { p =>
        val s = s"${p.date}T10:00:31Z"; s > lo && s < hi
      }.take(20)
      respond(x, 200, page.map(json).mkString("""{"value":[""", ",", "]}").getBytes(UTF_8))
      odataRequests.incrementAndGet()
      odataNanos.addAndGet(System.nanoTime() - t0)
    })
    http.createContext("/token", (x: HttpExchange) => {
      requests.incrementAndGet()
      val form = new String(x.getRequestBody.readAllBytes(), UTF_8)
      if (!form.contains("grant_type=password")) respond(x, 400, Array.empty)
      else {
        val n = tokens.incrementAndGet()
        respond(x, 200, s"""{"access_token":"tok-$n"}""".getBytes(UTF_8))
      }
    })
    http.createContext("/data", (x: HttpExchange) => {
      requests.incrementAndGet()
      val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      if (!auth.startsWith("Bearer tok-")) respond(x, 401, Array.empty)
      else {
        redirects.incrementAndGet()
        x.getResponseHeaders.add("Location",
          base + "/blob/" + x.getRequestURI.getPath.stripPrefix("/data/"))
        respond(x, 302, Array.empty)
      }
    })
    http.createContext("/blob", (x: HttpExchange) => {
      requests.incrementAndGet()
      payloads.get(x.getRequestURI.getPath.stripPrefix("/blob/")) match {
        case Some(b) => bytes.addAndGet(b.length); respond(x, 200, b)
        case None => respond(x, 404, Array.empty)
      }
    })
    http.start()

    def product(id: String): Product = byId(id)
    def counters: Seq[Long] = Seq(odataRequests, odataNanos, tokens, requests,
      redirects, bytes).map(_.get)
    def stop(): Unit = { http.stop(0); pool.shutdown() }
  }

  /** What one AOI produced, kept for the checks after the timed loop. */
  final case class Outcome(aoi: Aoi, uuid: Option[String],
      fetched: Seq[(String, Array[Byte])], decoded: Seq[(String, Int, Int, Array[Int])],
      chips: Seq[String], urls: Int)

  def run(ctx: Ctx): Unit = {
    implicit val spark: org.apache.spark.sql.SparkSession = ctx.spark
    import spark.implicits._
    val r = ctx.report
    val (products, aois, warmup) = generate(ctx.seed)
    val wanted = (aois ++ warmup).map(_.cell).distinct
    val best = products.filter(_.best).map(p => p.cell -> p).toMap
    // payloads of every product an AOI should pick, encoded in parallel
    val images = mutable.Map[(String, String), Array[Int]]()
    val payloads = ctx.generate {
      val jobs = for (c <- wanted; b <- Bands) yield (best(c), b)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
      try {
        val fs = jobs.map { case (p, b) => pool.submit(() => {
          val img = image(ctx.seed, p.id, b)
          (p, b, img, graft.Jp2Fixture.encode(img, BandPx, BandPx, levels = 4,
            bitDepth = 12, tileParts = 2))
        }) }
        fs.map(_.get).map { case (p, b, img, enc) =>
          images((p.id, b)) = img
          s"${p.id}/${p.file(b)}" -> enc
        }.toMap
      } finally pool.shutdown()
    }

    val cache = ctx.work.resolve("feature_store")
    val maxConcurrent = math.min(4, ctx.cores)
    var server: Server = null
    val outcomes = mutable.ArrayBuffer[Outcome]()
    var layerCounts = Map.empty[String, Double].withDefaultValue(0.0)
    def count(k: String, v: Double): Unit =
      if (ctx.tracer.recording) layerCounts = layerCounts.updated(k, layerCounts(k) + v)

    /** One AOI; `tag` names its download directory and its chips. */
    def process(a: Aoi, tag: String): Outcome = {
      val dir = ctx.work.resolve(tag)
      val t = ctx.tracer
      val catalog = spark.read.format("graft.sources.ODataCatalogSource")
        .option("url", s"${server.base}/odata").load()
      val (start, end) = window(a.cell)
      val picked = t.span("operators.select") {
        ProductSelect.bestProduct(spark, catalog, a.wkt,
          ProductSelect.Params(startDate = start, endDate = end), Bands)
          .select("uuid").collect().map(_.getString(0)).headOption
      }
      val product = picked.map(server.product)
      val urls = product.toSeq.flatMap(p => Bands.map(b => s"${server.base}/data/${p.id}/${p.file(b)}"))
      val fetched = t.span("sources.http") {
        val clock = new Download.TokenClock(() =>
          HttpTransport.mintToken(s"${server.base}/token", "bench", "bench"))
        val got = HttpTransport.fetchPartition(urls, clock, maxConcurrent)
        Files.createDirectories(dir)
        got.foreach { case (u, b) => Files.write(dir.resolve(u.split('/').last), b) }
        got
      }
      count("sources.http.failed", urls.size - fetched.size)
      val decoded = t.span("sources.jp2") {
        RasterIO.decodeBandPixels(RasterIO.readBandFiles(spark, dir.toString))
          .select("band", "width", "height", "pixels").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getSeq[Int](3).toArray))
          .toSeq
      }
      count("sources.jp2.mpx", decoded.map(d => d._2 * d._3).sum / 1e6)
      val keys = product.toSeq.flatMap { p =>
        val (x1, y1, x2, y2) = p.utm
        val chips = decoded.map { case (band, w, h, px) =>
          Tx.BandChip(p.id, band, Chip(w, h, x1, y1, x2, y2, 0.0, px.map(_.toDouble)))
        }
        val (bx1, by1, bx2, by2) = a.utmBox
        val out = t.span("operators.tx") {
          Tx.etlProcessByPolygon(spark.createDataset(chips), uint8 = true,
            clipBox = (bx1, by1, bx2, by2))
            .map(sc => sc.copy(chips = sc.chips.map(c => Raster.reprojectUtmToWgs84(c, Zone))))
            .collect().toSeq
            .flatMap(sc => sc.bands.zip(sc.chips).map { case (b, c) => (s"${sc.scene}_${tag}_$b", c) })
        }
        t.span("sources.cache")(RasterIO.writeChips(spark.createDataset(out), cache.toString))
        out.map(_._1)
      }
      val present = keys.filter(k => Files.exists(cache.resolve(s"$k.tif")))
      count("sources.cache.failed", keys.size - present.size)
      count("sources.cache.files", present.size)
      count("sources.cache.bytes", present.map(k => Files.size(cache.resolve(s"$k.tif"))).sum.toDouble)
      Outcome(a, picked, fetched, decoded, keys, urls.size)
    }

    ctx.setup {
      server = new Server(products, payloads, ctx.cores)
      (0 until WarmupAois).foreach(k => process(warmup(k % warmup.size), s"warmup$k"))
    }

    ctx.loop(minOps = 1) { i =>
      val a = aois((i % aois.size).toInt)
      val c0 = server.counters
      val o = process(a, s"aoi$i")
      if (ctx.tracer.recording) {
        val d = server.counters.zip(c0).map { case (x, y) => (x - y).toDouble }
        count("sources.odata.requests", d(0)); count("sources.odata.wait_s", d(1) / 1e9)
        count("sources.http.token_mints", d(2)); count("sources.http.requests", d(3))
        count("sources.http.redirects", d(4)); count("sources.http.bytes", d(5))
      }
      outcomes += o
      val ok = o.uuid.isDefined && o.fetched.size == o.urls && o.chips.nonEmpty &&
        o.chips.forall(k => Files.exists(cache.resolve(s"$k.tif")))
      OpResult("aoi", ok = ok)
    }
    server.stop()

    // output checks, outside the timed loop
    val seen = mutable.Set[Int]()
    var repeats = 0
    outcomes.foreach { o =>
      val a = o.aoi
      if (seen(a.cell)) repeats += 1
      seen += a.cell
      val want = best(a.cell)
      r.check(s"aoi ${a.id} picks the best product", o.uuid.contains(want.id),
        s"picked ${o.uuid}, expected ${want.id}")
      r.check(s"aoi ${a.id} downloads every band intact", o.fetched.size == Bands.size &&
        o.fetched.forall { case (u, b) =>
          java.util.Arrays.equals(b, payloads(u.split("/data/").last)) },
        s"${o.fetched.size} of ${Bands.size} bands, or bytes differ")
      r.check(s"aoi ${a.id} decodes bit-exact pixels", o.decoded.size == Bands.size &&
        o.decoded.forall { case (b, w, h, px) =>
          w == BandPx && h == BandPx && java.util.Arrays.equals(px, images((want.id, b))) },
        "decoded pixels differ from the generated ones")
      val (bx1, by1, bx2, by2) = a.utmBox
      val (x1, y1, x2, y2) = want.utm
      val chipsOk = o.chips.size == Bands.size && o.chips.forall { k =>
        val band = k.split('_').last
        val src = Chip(BandPx, BandPx, x1, y1, x2, y2, 0.0, images((want.id, band)).map(_.toDouble))
        val exp = Raster.reprojectUtmToWgs84(
          Raster.clipByBox(Tx.normalizeIf(uint8 = true)(src), bx1, by1, bx2, by2), Zone)
        val (got, epsg) = GeoTiff.decode(Files.readAllBytes(cache.resolve(s"$k.tif")))
        epsg == 4326 && got.width == exp.width && got.height == exp.height &&
          got.minx == exp.minx && got.miny == exp.miny && got.maxx == exp.maxx &&
          got.maxy == exp.maxy && java.util.Arrays.equals(got.px, exp.px)
      }
      r.check(s"aoi ${a.id} writes every chip and it reads back", chipsOk,
        s"${o.chips.size} chips; size, bounds or pixels differ")
    }
    r.notes("repeat_share") = (repeats.toDouble / math.max(1, outcomes.size)).toString
    r.notes("aois") = outcomes.size.toString

    if (ctx.traced) {
      val spans = ctx.tracer.all
      val n = math.max(1, spans.count(_.name == "op"))
      def spanMean(name: String)(f: Span => Double): Double =
        spans.filter(_.name == name).map(f).sum / n
      Seq("sources.odata.requests" -> "count", "sources.odata.wait_s" -> "s",
        "sources.http.token_mints" -> "count", "sources.http.requests" -> "count",
        "sources.http.redirects" -> "count", "sources.http.bytes" -> "bytes",
        "sources.http.failed" -> "count", "sources.jp2.mpx" -> "MPx",
        "sources.cache.files" -> "count", "sources.cache.bytes" -> "bytes",
        "sources.cache.failed" -> "count").foreach { case (k, u) =>
        r.layer(k, layerCounts(k) / n, u, n)
      }
      r.layer("sources.http.fetch_s", spanMean("sources.http")(_.seconds), "s", n)
      r.layer("sources.jp2.decode_s", spanMean("sources.jp2")(_.seconds), "s", n)
      r.layer("sources.jp2.cpu_s", spanMean("sources.jp2")(_.spark.taskCpuS), "s", n)
      r.layer("operators.select.s", spanMean("operators.select")(_.seconds), "s", n)
      r.layer("operators.select.plan_s", spanMean("operators.select")(_.spark.planS), "s", n)
      r.layer("operators.tx.s", spanMean("operators.tx")(_.seconds), "s", n)
      r.layer("operators.tx.shuffle_bytes",
        spanMean("operators.tx")(_.spark.shuffleWriteBytes.toDouble), "bytes", n)
      r.layer("sources.cache.write_s", spanMean("sources.cache")(_.seconds), "s", n)
    }
  }
}
