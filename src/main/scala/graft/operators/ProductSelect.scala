package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import scala.collection.immutable.ListMap

/** The reference's flagship computation — "given an AOI and a product
  * catalog, pick the best product" (`/root/reference/code/
  * imagery_store.py:181-269`, traced in SURVEY.md §3 E3) — as one
  * declarative DataFrame program:
  *
  * catalog scan → P2–P5 filters → N1 attribute unpack
  * (`map_from_entries`) → coverage scoring against a broadcast AOI
  * (J1 as crossJoin(broadcast) + `st_coverage_ratio`) → A1
  * groupBy-sum → A2/O1–O3 argmax with most-recent tie-break.
  *
  * Scale design: the AOI side is one row (broadcast — zero shuffle);
  * filters and the pruned column set push into the catalog scan; the
  * only exchange is the groupBy("Id") over ≤ page-cap candidates; the
  * final pick is sort+limit → TakeOrderedAndProject. At 100 TB of
  * catalog (many AOIs), the same plan generalizes by joining on a
  * spatial bucket key (MGRS tile id — the reference's own tile grid,
  * `conf/config.yaml:13`) before the exact `st_intersection_area`
  * predicate, keeping the join an equi-join.
  *
  * Expected catalog schema (FIXTURES.md A1): Id, Name, S3Path,
  * OriginDate (ISO-8601 string), ContentDate struct<Start,End>,
  * footprint_wkt, Attributes array<struct<Name,Value>>.
  */
object ProductSelect {

  case class Params(
      collection: String = "SENTINEL-2",
      productType: String = "S2MSI2A",
      startDate: String = "",        // ISO, exclusive (reference uses gt)
      endDate: String = "",          // ISO, exclusive (lt)
      cloudCoverMax: Double = 4.0,   // le, `conf/config.yaml:29`
      tileId: Option[String] = None, // tile dispatch path
      pageCap: Int = 20)             // OData $top, imagery_store.py:45

  /** N1 — unpack Attributes array<struct<Name,Value>> to a map plus
    * the effective typed columns the pipeline depends on
    * (`code/imagery_store.py:191-199`). Unknown attributes remain
    * reachable in `attrs` (SURVEY §1.3 decision).
    */
  def unpackAttributes(catalog: DataFrame): DataFrame = {
    val attrs = col("attrs")
    catalog
      .withColumn("attrs", map_from_entries(
        expr("transform(Attributes, a -> struct(a.Name, a.Value))")))
      .withColumns(ListMap(
        "tileId" -> attrs("tileId"),
        "cloudCover" -> attrs("cloudCover").cast("double"),
        "productType" -> attrs("productType"),
        "relativeOrbitNumber" -> attrs("relativeOrbitNumber").cast("int")))
  }

  /** P2–P5: collection, product type, date range and cloud cover. A
    * date bound applies only when non-empty: an empty
    * startDate/endDate means "unbounded" on that side. (Unconditional
    * `ContentDate.Start < ''` is false for every row, so default
    * Params would silently return an empty result.)
    */
  private def attributeConditions(p: Params): Seq[Column] =
    Seq(col("Collection") === p.collection,
      col("productType") === p.productType) ++
      Option.when(p.startDate.nonEmpty)(col("ContentDate.Start") > p.startDate) ++
      Option.when(p.endDate.nonEmpty)(col("ContentDate.Start") < p.endDate) :+
      (col("cloudCover") <= p.cloudCoverMax)

  /** P2–P5 (+P6 spatial prefilter when no tile id): the predicates the
    * reference compiles into its OData `$filter`
    * (`code/imagery_store.py:182-187`, `:216-221`). Expressed as plain
    * Catalyst predicates so they push into whatever source serves the
    * catalog (parquet stats / DSv2 pushdown / the OData connector).
    */
  def filterCandidates(unpacked: DataFrame, p: Params, aoiWkt: String): DataFrame = {
    val place = p.tileId match {
      case Some(t) => col("tileId") === t
      case None => call_function("st_intersects", col("footprint_wkt"), lit(aoiWkt))
    }
    // server page cap (O5): deterministic first page = oldest-first like
    // OData default ordering is unspecified; we take by ContentDate.Start
    unpacked.filter((attributeConditions(p) :+ place).reduce(_ && _))
      .orderBy(col("ContentDate.Start")).limit(p.pageCap)
  }

  /** J1 + F12 + A1 + A2: score candidates by AOI coverage ratio, pick
    * the best with most-recent tie-break
    * (`code/imagery_store.py:241-259`). The ratio is one
    * `st_coverage_ratio` call, so the AOI reaches generated code only
    * as a by-reference literal and every AOI reuses the same classes.
    */
  def scoreAndPick(candidates: DataFrame, aoiWkt: String): DataFrame =
    candidates
      .withColumn("area_ratio",
        call_function("st_coverage_ratio", col("footprint_wkt"), lit(aoiWkt)))
      .groupBy(col("Id"))
      .agg(
        sum("area_ratio").as("area_ratio"),
        first("Name").as("name"), first("S3Path").as("s3path"),
        first("OriginDate").as("origin_date"),
        first("tileId").as("tile"), first("cloudCover").as("cloudcoverage"),
        first("relativeOrbitNumber").as("orbit_number"),
        first("footprint_wkt").as("geom"))
      .orderBy(desc("area_ratio"), desc("origin_date"))
      .limit(1)

  /** Batch form — best product for EVERY AOI at once (the reference
    * iterates `AreaDataset.__getitem__` one AOI at a time,
    * `code/dataset.py:35-59`; SURVEY §2.6 names this generalization).
    * This is the shape that matters at 100 TB: thousands of AOIs ×
    * millions of footprints go through the grid-bucketed spatial join
    * (equi-join on cell id — no cross product), then ONE shuffle for
    * the (aoi, product) coverage aggregation, then a per-AOI window
    * argmax with the recency tie-break. The score is the same
    * `st_coverage_ratio` as [[scoreAndPick]]'s, so a zero-area AOI
    * scores null here too instead of dividing by zero.
    *
    * @param aois columns (aoi_id, aoi_wkt); AOIs must be convex
    *             (bboxes in the reference)
    */
  def bestPerAoi(spark: SparkSession, catalog: DataFrame, aois: DataFrame,
      p: Params = Params(), cellSize: Double = 1.0): DataFrame = {
    GeoFunctions.register(spark)
    val candidates = unpackAttributes(catalog)
      .filter(attributeConditions(p).reduce(_ && _))
    val joined = SpatialJoin.intersectJoin(spark, candidates, aois,
      "footprint_wkt", "aoi_wkt", cellSize)
    val w = Window.partitionBy("aoi_id")
      .orderBy(desc("area_ratio"), desc("origin_date"))
    joined
      .withColumn("area_ratio",
        call_function("st_coverage_ratio", col("footprint_wkt"), col("aoi_wkt")))
      // ONE exchange for the aggregation AND the window (round 21):
      // hash(aoi_id) satisfies the groupBy's (aoi_id, Id) clustering
      // (partitioning keys ⊆ grouping keys co-locates every group)
      // and is exactly the window's requirement — without it the plan
      // paid exchange(aoi_id, Id) for the agg plus exchange(aoi_id)
      // for the window. AQE sizes the partition count at runtime
      // (serve-side repartition, not cached), so this stays
      // scale-adaptive; per-AOI group size is unchanged from what the
      // window already required.
      .repartition(col("aoi_id"))
      .groupBy(col("aoi_id"), col("Id"))
      .agg(sum("area_ratio").as("area_ratio"),
        first("Name").as("name"), first("OriginDate").as("origin_date"),
        first("tileId").as("tile"), first("cloudCover").as("cloudcoverage"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .withColumnRenamed("Id", "uuid")
  }

  /** Full product record, enriched like `code/imagery_store.py:259-269`
    * + `code/dataset.py:53-57` (F1/F2 name tokenization; bands from
    * config; crs fixed to epsg:4326).
    */
  def bestProduct(spark: SparkSession, catalog: DataFrame, aoiWkt: String,
      p: Params = Params(), bands: Seq[String] = Seq("B02", "B03", "B04", "B08"))
      : DataFrame = {
    GeoFunctions.register(spark)
    val picked = scoreAndPick(
      filterCandidates(unpackAttributes(catalog), p, aoiWkt), aoiWkt)
    picked.withColumns(ListMap(
      "uuid" -> col("Id"),
      "product_date" -> substring(col("origin_date"), 1, 10),
      "platform" -> element_at(split(col("name"), "_"), 1),
      "product_type" -> element_at(split(col("name"), "_"), 2),
      "bands" -> array(bands.map(lit): _*),
      "num_bands" -> lit(bands.size),
      "crs" -> lit("epsg:4326")))
  }
}
