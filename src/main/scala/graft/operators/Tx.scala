package graft.operators

import graft.functions.Raster
import graft.functions.Raster.Chip
import graft.plans.LocalObjectFold
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

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
  * Scale: every stage is a per-band map, then [[stackScene]] per
  * scene group, then a per-scene map — chips partition by scene key,
  * nothing global. Normalization (R1) is done at the pixel level
  * inside each chip row. Where those kernels run depends on the
  * input: a distributed input (a band-file scan) runs them as a
  * `groupByKey`/`mapGroups` plan, while a local one
  * ([[LocalObjectFold.servesInPlace]]: its optimized plan is a
  * `LocalRelation`, as `createDataset(seq)` gives — the per-AOI
  * flow's few band chips — also behind typed `map`/`filter`s) runs
  * them on the driver and returns `createDataset(scenes)`. That is
  * safe because a local input's rows already sit in driver memory,
  * and its collect launches no job; the output is the same on both
  * paths. Every entry installs [[LocalObjectFold]] in its session, so
  * a caller's own typed `map`/`filter` over that local result (the
  * AOI flow's reproject map) folds into a `LocalRelation` too, and its
  * collect launches no job either. That changes how the caller's
  * session runs typed operators from then on: every typed
  * `map`/`filter` over any local Dataset in it runs serially on the
  * driver while Spark optimizes the plan.
  */
object Tx {

  /** One scene-band input row. */
  case class BandChip(scene: String, band: String, chip: Chip)
  /** One stacked scene: bands in lexicographic band order (O4). */
  case class Scene(scene: String, bands: Seq[String], chips: Seq[Chip])

  // Built once: deriving a product encoder reflects over the case
  // class, a cost every call paid with `s.implicits._`.
  private implicit val bandChipEncoder: Encoder[BandChip] = Encoders.product[BandChip]
  private implicit val sceneEncoder: Encoder[Scene] = Encoders.product[Scene]

  /** R1 gate: normalize iff output format is UINT8
    * (`conf/config.yaml:32`, gate at `code/tx.py:111-114`).
    */
  def normalizeIf(uint8: Boolean)(c: Chip): Chip =
    if (!uint8) c
    else c.copy(px = c.px.map(x => Raster.normalizeS2Scalar(x).toDouble))

  /** R2: one scene's bands, explicitly sorted (never shuffle order). */
  def stackScene(scene: String, bands: Iterator[BandChip]): Scene = {
    val sorted = bands.toSeq.sortBy(_.band)
    Scene(scene, sorted.map(_.band), sorted.map(_.chip))
  }

  /** R2: group to scenes, one [[stackScene]] per group. */
  def bandStack(chips: Dataset[BandChip])(implicit s: SparkSession)
      : Dataset[Scene] =
    chips.groupByKey(_.scene)(Encoders.STRING)
      .mapGroups((scene, it) => stackScene(scene, it))

  /** `perBand` on every band chip → stack → `perChip` on every chip of
    * every scene, on the driver for a local input and as a
    * distributed plan otherwise (see Scale above).
    */
  private def process(chips: Dataset[BandChip], perBand: Chip => Chip,
      perChip: Option[Chip => Chip])(implicit s: SparkSession)
      : Dataset[Scene] = {
    LocalObjectFold.install(s)
    def finish(sc: Scene): Scene =
      perChip.fold(sc)(f => sc.copy(chips = sc.chips.map(f)))
    if (LocalObjectFold.servesInPlace(chips)) {
      val scenes = chips.collect().toSeq
        .map(bc => bc.copy(chip = perBand(bc.chip)))
        .groupBy(_.scene).toSeq.sortBy(_._1)
        .map { case (scene, bcs) => finish(stackScene(scene, bcs.iterator)) }
      s.createDataset(scenes)
    } else {
      val stacked = bandStack(chips.map(bc => bc.copy(chip = perBand(bc.chip))))
      if (perChip.isEmpty) stacked else stacked.map(finish)
    }
  }

  private def resample(target: Option[(Int, Int, Double, Double, Double, Double)])
      : Option[Chip => Chip] =
    target.map { case (w, h, x1, y1, x2, y2) =>
      (c: Chip) => Raster.resampleNearest(c, w, h, x1, y1, x2, y2) }

  /** `etl_process_tile` = normalize → stack → optional resample to a
    * target grid (`code/tx.py:110-121`).
    */
  def etlProcessTile(chips: Dataset[BandChip], uint8: Boolean,
      target: Option[(Int, Int, Double, Double, Double, Double)] = None)
      (implicit s: SparkSession): Dataset[Scene] =
    process(chips, normalizeIf(uint8), resample(target))

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
    val (bx1, by1, bx2, by2) = clipBox
    process(chips,
      c => normalizeIf(uint8)(Raster.clipByBox(c, bx1, by1, bx2, by2)),
      resample(target))
  }

  /** The reference's FULL reproject flow: product-native UTM chips →
    * normalize → stack → true CRS warp to EPSG:4326
    * (`calculate_default_transform` + per-band `reproject`,
    * `code/tx.py:49-71` invoked from `:117,:135`) — the warp per band
    * chip, still a per-scene map, no shuffle beyond the stack.
    */
  def etlProcessToWgs84(chips: Dataset[BandChip], uint8: Boolean,
      utmZone: Int, north: Boolean = true)
      (implicit s: SparkSession): Dataset[Scene] =
    process(chips, normalizeIf(uint8),
      Some(c => Raster.reprojectUtmToWgs84(c, utmZone, north)))
}
