package graft.sources

import graft.functions.Raster.Chip
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Raster file I/O stages (SURVEY.md §2.1 S5–S9), Spark-shaped:
  * distributed scans via the binaryFile source, side-effecting
  * download/write stages isolated in `foreachPartition` sinks so
  * everything upstream stays declarative and oracle-testable
  * (SURVEY §7.1 design stance).
  */
object RasterIO {

  /** S5 — raster scan: `spark.read.format("binaryFile")` over a glob
    * of band files; band/tile/date parsed from the filename with the
    * reference's tokenization (F1/F2,
    * `/root/reference/code/imagery_store.py:118-128`). Pixels decode
    * with [[decodeBandPixels]] (the in-house T.800 path, [[Jp2]]).
    */
  def readBandFiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jp2")
      .load(glob)
      .withColumn("file", element_at(split(col("path"), "/"), -1))
      .withColumn("band",
        regexp_extract(col("file"), "_(B[0-9A-Z]{2})_", 1))
      .withColumn("resolution_m",
        regexp_extract(col("file"), "_([0-9]+)m", 1).cast("int"))
      .withColumn("tile",
        regexp_extract(col("file"), "(?:^|_)T([0-9A-Z]{5})_", 1))

  /** S5 — distributed pixel decode over a [[readBandFiles]] scan:
    * adds (width, height, pixels) per band file via [[Jp2.decode]]
    * (tier-2 + MQ + EBCOT + inverse 5/3 DWT, component 0). A UDF is
    * the right tool here — the work IS the per-row codec (no builtin
    * exists, and per-element expression overhead is noise against
    * entropy decoding); the scan stays an embarrassingly parallel
    * map, one file per task slot, no shuffle.
    */
  def decodeBandPixels(bands: DataFrame): DataFrame = {
    val dec = udf { content: Array[Byte] =>
      val (h, px) = Jp2.decode(content)
      (h.width, h.height, px)
    }
    bands
      .withColumn("decoded", dec(col("content")))
      .withColumn("width", col("decoded._1"))
      .withColumn("height", col("decoded._2"))
      .withColumn("pixels", col("decoded._3"))
      .drop("decoded")
  }

  /** S5, overview form: decode every band at 1/2^discard scale via
    * [[Jp2.decodeReduced]] — the engine-surface twin of a raster
    * store's overview/decimated read. Same scan discipline (one file
    * per task, no shuffle) but each task pays only the kept
    * resolutions' entropy decode: the thumbnail/QA-mosaic pass over
    * a 100 TB archive reads the same files at a fraction of the
    * tier-1 cost, and the downstream schema is identical to
    * [[decodeBandPixels]] with reduced width/height.
    */
  def decodeBandPixelsReduced(bands: DataFrame, discard: Int): DataFrame = {
    val dec = udf { content: Array[Byte] =>
      val (_, wr, hr, px) = Jp2.decodeReduced(content, discard)
      (wr, hr, px)
    }
    bands
      .withColumn("decoded", dec(col("content")))
      .withColumn("width", col("decoded._1"))
      .withColumn("height", col("decoded._2"))
      .withColumn("pixels", col("decoded._3"))
      .drop("decoded")
  }

  /** S5, multi-component form (round 12): decode EVERY component of
    * each file and explode to one row per component — the shape for
    * Sentinel-2's TCI (true-color RGB) JP2s, where [[Jp2.decodeAll]]
    * applies the inverse reversible color transform before the rows
    * land. `component` is 0-based in codestream order (R, G, B for an
    * MCT stream). Same scan discipline as [[decodeBandPixels]]: one
    * file per task, no shuffle; the explode multiplies rows, never
    * re-reads the payload (the file decodes once per task).
    */
  def decodeAllBandPixels(bands: DataFrame): DataFrame = {
    val dec = udf { content: Array[Byte] =>
      val (h, planes) = Jp2.decodeAll(content)
      planes.zipWithIndex.map { case (px, c) => (c, h.width, h.height, px) }
    }
    bands
      .withColumn("comp", explode(dec(col("content"))))
      .withColumn("component", col("comp._1"))
      .withColumn("width", col("comp._2"))
      .withColumn("height", col("comp._3"))
      .withColumn("pixels", col("comp._4"))
      .drop("comp")
  }

  /** S7 — partition-local raster sink: each task writes its chips as
    * `<uuid>.tif` into a task-local temp dir, then promotes them into
    * the feature store (S8's `shutil.copyfile`,
    * `code/tx.py:92-96` — including its log-and-continue error
    * handling). The default codec is the real GeoTIFF encoder
    * ([[GeoTiff.encode]], EPSG:4326 like `code/tx.py:57`); pass a
    * custom `encode` for other profiles.
    */
  def writeChips(chips: Dataset[(String, Chip)], featureDir: String,
      encode: Chip => Array[Byte] = GeoTiff.encode(_)): Unit = {
    val dir = featureDir
    chips.foreachPartition { it: Iterator[(String, Chip)] =>
      val tmp = Files.createTempDirectory("graft-chips")
      Files.createDirectories(Paths.get(dir))
      it.foreach { case (uuid, chip) =>
        try {
          val local = tmp.resolve(s"$uuid.tif")
          Files.write(local, encode(chip))
          Files.copy(local, Paths.get(dir, s"$uuid.tif"),
            StandardCopyOption.REPLACE_EXISTING)
        } catch { case e: Exception =>
          // reference semantics: log, don't fail the job (tx.py:94-96)
          System.err.println(s"[graft] chip $uuid not copied: ${e.getMessage}")
        }
      }
    }
  }
}

/** S6 — the download stage's control logic, extracted pure so it is
  * unit-testable without a network: OAuth token lifecycle (mint or
  * refresh after 600 s — `code/imagery_store.py:149-156`), manual
  * redirect following (`:96-105`, `:135-141`), and the 4-connection
  * quota cap (`README.md:66`) as a task-level fixed pool. The actual
  * byte transport is a pluggable function; on a cluster this runs
  * inside `foreachPartition` with one token clock per executor.
  */
object Download {

  /** Token clock: mints on first use, refreshes when older than
    * `ttlSeconds`. `now` is injectable for tests.
    */
  final class TokenClock(mint: () => String, ttlSeconds: Long = 600,
      now: () => Long = () => System.currentTimeMillis() / 1000) {
    private var token: Option[(String, Long)] = None
    def get(): String = synchronized {
      token match {
        case Some((t, at)) if now() - at < ttlSeconds => t
        case _ =>
          val t = mint(); token = Some((t, now())); t
      }
    }
  }

  /** Follow up to `maxHops` redirects: `step` returns either
    * Left(nextUrl) (a 30x) or Right(bytes) (the payload) — the
    * reference's manual `status in (301,302,303,307)` loop.
    */
  @annotation.tailrec
  def followRedirects(url: String, step: String => Either[String, Array[Byte]],
      maxHops: Int = 5): Array[Byte] =
    if (maxHops < 0) throw new IllegalStateException(s"redirect loop at $url")
    else step(url) match {
      case Right(bytes) => bytes
      case Left(next) => followRedirects(next, step, maxHops - 1)
    }

  /** Fetch a partition's URLs with at most `maxConcurrent` in flight
    * (the provider quota: the pool's thread count is the bound).
    * Returns (url, bytes) pairs; per-item failures are logged and
    * skipped (reference's log-and-continue).
    */
  def fetchPartition(urls: Seq[String], fetch: String => Array[Byte],
      maxConcurrent: Int = 4): Seq[(String, Array[Byte])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxConcurrent)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = urls.map { u =>
        scala.concurrent.Future {
          try Some(u -> fetch(u))
          catch { case e: Exception =>
            System.err.println(s"[graft] fetch $u failed: ${e.getMessage}"); None
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration(600, "s")).flatten
    } finally pool.shutdown()
  }
}
