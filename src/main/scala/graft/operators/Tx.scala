package graft.operators

import graft.functions.Raster
import graft.functions.Raster.Chip
import org.apache.spark.sql.{Dataset, SparkSession}

/** Pipeline composition (SURVEY.md §2.10 R6): the reference's `Tx`
  * stage graph (`/root/reference/code/tx.py:98-138`) as typed Dataset
  * transformations over [[Raster.Chip]] rows.
  *
  * Implements the evident INTENT, not the broken letter — SURVEY R6
  * documents three reference bugs deliberately not replicated here:
  * the nonexistent `tx.etl_process` entry point
  * (`code/imagery_store.py:71`), `band_stack` executed twice in
  * `etl_process_by_polygon` (`code/tx.py:128-132`), and the reproject
  * output path colliding with its input (`code/tx.py:117,135`). Here
  * each stage runs exactly once, composed functionally.
  *
  * Scale: every stage is a per-row (or per-scene-group) map — chips
  * partition by scene key, nothing global. Normalization (R1) is done
  * at the pixel level inside each chip row.
  */
object Tx {

  /** One scene-band input row. */
  case class BandChip(scene: String, band: String, chip: Chip)
  /** One stacked scene: bands in lexicographic band order (O4). */
  case class Scene(scene: String, bands: Seq[String], chips: Seq[Chip])

  /** R1 gate: normalize iff output format is UINT8
    * (`conf/config.yaml:32`, gate at `code/tx.py:111-114`).
    */
  def normalizeIf(uint8: Boolean)(c: Chip): Chip =
    if (!uint8) c
    else c.copy(px = c.px.map(x => Raster.normalizeS2Scalar(x).toDouble))

  /** R2: group to scenes, explicit band sort (never shuffle order). */
  def bandStack(chips: Dataset[BandChip])(implicit s: SparkSession)
      : Dataset[Scene] = {
    import s.implicits._
    chips.groupByKey(_.scene)
      .mapGroups { (scene, it) =>
        val sorted = it.toSeq.sortBy(_.band)
        Scene(scene, sorted.map(_.band), sorted.map(_.chip))
      }
  }

  /** `etl_process_tile` = normalize → stack → optional resample to a
    * target grid (`code/tx.py:110-121`).
    */
  def etlProcessTile(chips: Dataset[BandChip], uint8: Boolean,
      target: Option[(Int, Int, Double, Double, Double, Double)] = None)
      (implicit s: SparkSession): Dataset[Scene] = {
    import s.implicits._
    val normalized = chips.map(bc => bc.copy(chip = normalizeIf(uint8)(bc.chip)))
    val stacked = bandStack(normalized)
    target match {
      case None => stacked
      case Some((w, h, x1, y1, x2, y2)) =>
        stacked.map(sc => sc.copy(chips =
          sc.chips.map(c => Raster.resampleNearest(c, w, h, x1, y1, x2, y2))))
    }
  }

  /** `etl_process_by_polygon` = normalize → stack ONCE → clip →
    * optional reproject (`code/tx.py:123-138`, minus the double-stack
    * bug). The clip box is the AOI envelope (reference AOIs are
    * bboxes). Clip and normalize both work pixel by pixel, so each
    * band is clipped first, before the stack: the same output, and the
    * stack's shuffle carries only the clipped pixels.
    */
  def etlProcessByPolygon(chips: Dataset[BandChip], uint8: Boolean,
      clipBox: (Double, Double, Double, Double),
      target: Option[(Int, Int, Double, Double, Double, Double)] = None)
      (implicit s: SparkSession): Dataset[Scene] = {
    import s.implicits._
    val (bx1, by1, bx2, by2) = clipBox
    val clipped = etlProcessTile(
      chips.map(bc => bc.copy(chip = Raster.clipByBox(bc.chip, bx1, by1, bx2, by2))),
      uint8, None)
    target match {
      case None => clipped
      case Some((w, h, x1, y1, x2, y2)) =>
        clipped.map(sc => sc.copy(chips =
          sc.chips.map(c => Raster.resampleNearest(c, w, h, x1, y1, x2, y2))))
    }
  }

  /** The reference's FULL reproject flow: product-native UTM chips →
    * normalize → stack → true CRS warp to EPSG:4326
    * (`calculate_default_transform` + per-band `reproject`,
    * `code/tx.py:49-71` invoked from `:117,:135`) — the warp per band
    * chip, still a per-scene map, no shuffle beyond the stack.
    */
  def etlProcessToWgs84(chips: Dataset[BandChip], uint8: Boolean,
      utmZone: Int, north: Boolean = true)
      (implicit s: SparkSession): Dataset[Scene] = {
    import s.implicits._
    etlProcessTile(chips, uint8, None)
      .map(sc => sc.copy(chips =
        sc.chips.map(c => Raster.reprojectUtmToWgs84(c, utmZone, north))))
  }
}
