package graft

import graft.operators.ProductSelect
import graft.operators.ProductSelect.Params
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Flagship select→score→pick pipeline (SURVEY.md §3 E3) over an
  * in-memory catalog fixture shaped per FIXTURES.md A1. Checks each
  * stage's discriminating behavior: attribute unpack, the P2–P5
  * filters, coverage scoring, and the argmax + most-recent tie-break
  * (`/root/reference/code/imagery_store.py:241-269`).
  */
object ProductSelectSpec {
  // Top-level (not suite-nested) so Spark's product encoders resolve
  // without an outer-instance scope.
  case class Attr(Name: String, Value: String)
  case class CDate(Start: String, End: String)
  case class Prod(Id: String, Name: String, S3Path: String,
      OriginDate: String, ContentDate: CDate, footprint_wkt: String,
      Collection: String, Attributes: Seq[Attr])
}

class ProductSelectSpec extends AnyFunSuite with SharedSpark {
  import ProductSelectSpec._

  private val aoi =
    "POLYGON ((1.2047 43.3882, 1.5121 43.3882, 1.5121 43.6620, 1.2047 43.6620, 1.2047 43.3882))"

  private def prod(id: String, origin: String, cloud: String, fp: String,
      ptype: String = "S2MSI2A", tile: String = "31TCJ"): Prod =
    Prod(id, s"S2A_MSIL2A_${origin.replace("-", "")}T104621_N0509_R051_T${tile}_x",
      s"/eodata/$id", s"${origin}T10:46:21.000Z",
      CDate(s"${origin}T10:46:21.000Z", s"${origin}T10:46:51.000Z"), fp,
      "SENTINEL-2",
      Seq(Attr("tileId", tile), Attr("cloudCover", cloud),
        Attr("productType", ptype), Attr("relativeOrbitNumber", "51")))

  // footprints: full cover, half cover (east half), tiny corner, off-AOI
  private val full = "POLYGON ((1.0 43.2, 1.7 43.2, 1.7 43.8, 1.0 43.8, 1.0 43.2))"
  private val half = "POLYGON ((1.3584 43.2, 1.7 43.2, 1.7 43.8, 1.3584 43.8, 1.3584 43.2))"
  private val corner = "POLYGON ((1.5 43.65, 1.6 43.65, 1.6 43.75, 1.5 43.75, 1.5 43.65))"
  private val away = "POLYGON ((5 45, 6 45, 6 46, 5 46, 5 45))"

  private def catalog(rows: Seq[Prod]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  private val p = Params(startDate = "2023-01-01", endDate = "2024-01-01")

  test("unpackAttributes pivots the Attributes array to typed columns") {
    val df = ProductSelect.unpackAttributes(
      catalog(Seq(prod("a", "2023-06-15", "2.5", full))))
    val row = df.select("tileId", "cloudCover", "productType",
      "relativeOrbitNumber").head()
    assert(row.getString(0) == "31TCJ")
    assert(row.getDouble(1) == 2.5)
    assert(row.getString(2) == "S2MSI2A")
    assert(row.getInt(3) == 51)
  }

  test("best product = highest AOI coverage") {
    val best = ProductSelect.bestProduct(spark, catalog(Seq(
      prod("full1", "2023-06-15", "2.0", full),
      prod("half1", "2023-06-20", "1.0", half),
      prod("corner1", "2023-06-25", "0.5", corner))), aoi, p)
    val row = best.head()
    assert(row.getAs[String]("uuid") == "full1")
    assert(math.abs(row.getAs[Double]("area_ratio") - 1.0) < 1e-9)
    assert(row.getAs[String]("product_date") == "2023-06-15")
    assert(row.getAs[String]("platform") == "S2A")
    assert(row.getAs[String]("product_type") == "MSIL2A")
    assert(row.getAs[scala.collection.Seq[String]]("bands")
      == Seq("B02", "B03", "B04", "B08"))
  }

  test("a second AOI compiles no new code (the AOI is a literal held by reference)") {
    val cat = catalog(Seq(
      prod("full1", "2023-06-15", "2.0", full),
      prod("half1", "2023-06-20", "1.0", half)))
    val other = "POLYGON ((1.3 43.4, 1.6 43.4, 1.6 43.7, 1.3 43.7, 1.3 43.4))"
    def best(wkt: String) =
      ProductSelect.bestProduct(spark, cat, wkt, p).head().getAs[String]("uuid")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    assert(best(aoi) == "full1")
    val before = compiles.getCount
    assert(best(other) == "full1")
    assert(compiles.getCount == before,
      s"${compiles.getCount - before} classes compiled for the second AOI")
  }

  test("tie-break: equal coverage -> most recent OriginDate wins") {
    val best = ProductSelect.bestProduct(spark, catalog(Seq(
      prod("older", "2023-03-10", "2.0", full),
      prod("newer", "2023-09-10", "2.0", full))), aoi, p)
    assert(best.head().getAs[String]("uuid") == "newer")
  }

  test("filters: cloud cover, product type, date range, collection") {
    val rows = Seq(
      prod("cloudy", "2023-06-15", "80.0", full),          // fails P5
      prod("l1c", "2023-06-15", "1.0", full, ptype = "S2MSI1C"), // fails P3
      prod("early", "2022-06-15", "1.0", full),            // fails P4
      prod("ok", "2023-07-01", "1.0", half))
    val best = ProductSelect.bestProduct(spark, catalog(rows), aoi, p)
    assert(best.head().getAs[String]("uuid") == "ok")
  }

  test("spatial path: non-intersecting products are dropped") {
    val best = ProductSelect.bestProduct(spark, catalog(Seq(
      prod("off", "2023-06-15", "1.0", away),
      prod("on", "2023-06-01", "1.0", corner))), aoi, p)
    val rows = best.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("uuid") == "on")
  }

  test("tile dispatch path filters by tileId instead of geometry") {
    val best = ProductSelect.bestProduct(spark, catalog(Seq(
      prod("t31", "2023-06-15", "1.0", full, tile = "31TCJ"),
      prod("t32", "2023-06-20", "1.0", full, tile = "32TCJ"))),
      aoi, p.copy(tileId = Some("32TCJ")))
    assert(best.head().getAs[String]("uuid") == "t32")
  }

  test("batch form: best product per AOI in one program") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    // AOI A = the Toulouse box; AOI B = a box only `east1` touches
    val east = "POLYGON ((1.7 43.2, 2.0 43.2, 2.0 43.8, 1.7 43.8, 1.7 43.2))"
    val aois = Seq(("A", aoi),
      ("B", "POLYGON ((1.75 43.3, 1.85 43.3, 1.85 43.4, 1.75 43.4, 1.75 43.3))"))
      .toDF("aoi_id", "aoi_wkt")
    val cat = catalog(Seq(
      prod("full1", "2023-06-15", "2.0", full),
      prod("half1", "2023-06-20", "1.0", half),
      prod("east1", "2023-06-25", "0.5", east)))
    val best = ProductSelect.bestPerAoi(spark, cat, aois, p)
      .select("aoi_id", "uuid").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(best == Seq(("A", "full1"), ("B", "east1")))
  }

  test("batch form tie-break: most recent wins per AOI") {
    val s = spark
    import s.implicits._
    val aois = Seq(("A", aoi)).toDF("aoi_id", "aoi_wkt")
    val cat = catalog(Seq(
      prod("older", "2023-03-10", "2.0", full),
      prod("newer", "2023-09-10", "2.0", full)))
    val best = ProductSelect.bestPerAoi(spark, cat, aois, p).head()
    assert(best.getAs[String]("uuid") == "newer")
  }

  test("batch form scores a zero-area AOI null, like bestProduct, " +
      "instead of dividing by zero") {
    val s = spark
    import s.implicits._
    // a box whose hole is the box itself: it has no area, yet its
    // outer ring meets the footprints, so it survives the join
    val ring = "(1.3 43.5, 1.4 43.5, 1.4 43.6, 1.3 43.6, 1.3 43.5)"
    val flat = s"POLYGON ($ring, $ring)"
    val cat = catalog(Seq(
      prod("older", "2023-03-10", "2.0", full),
      prod("newer", "2023-09-10", "2.0", full)))
    val batch = ProductSelect.bestPerAoi(spark, cat,
      Seq(("A", aoi), ("Z", flat)).toDF("aoi_id", "aoi_wkt"), p)
      .select("aoi_id", "uuid", "area_ratio").collect()
      .map(r => r.getString(0) -> (r.getString(1), Option(r.get(2)))).toMap
    val single = ProductSelect.bestProduct(spark, cat, flat, p)
      .select("uuid", "area_ratio").head()
    assert(single.isNullAt(1))
    assert(batch("Z") == ((single.getString(0), None)))
    assert(batch("A")._1 == "newer")
    assert(math.abs(batch("A")._2.get.asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("empty candidate set yields empty result (P9 guard shape)") {
    val best = ProductSelect.bestProduct(spark, catalog(Seq(
      prod("off", "2023-06-15", "1.0", away))), aoi, p)
    assert(best.isEmpty)
  }
}
