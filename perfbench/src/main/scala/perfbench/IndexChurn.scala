package perfbench

import graft.operators.{FixedModel, IndexStore, Ivf, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Index churn: a versioned IVF-PQ index (`IndexStore`) maintained
  * beside the query suite's reads, over vectors generated from the
  * seed. One round is append → search → delete → search, plus
  * `compact` + `vacuum` every other round (the first included); its
  * commits and searches are timed per layer (`operators.index.*`).
  */
object IndexChurn {
  val Dim = 32
  val Cells = 8
  val Subspaces = 4
  val BaseVectors = 1000
  val Batch = 200
  val Queries = 8
  val NProbe = 2
  val TopK = 10
  val CompactEvery = 2

  private val helper = new AdaptiveSparkPlanHelper {}

  /** Vectors around `Cells` cluster centers; id i is always the same
    * vector for a seed. */
  final class Vectors(seed: Long) {
    private val centers = {
      val rng = new scala.util.Random(seed)
      Array.fill(Cells, Dim)(rng.nextGaussian())
    }
    def apply(id: Long): Array[Double] = {
      val rng = new scala.util.Random(seed * 1000003L + id)
      val c = centers((id % Cells).toInt)
      Array.tabulate(Dim)(d => c(d) + 0.5 * rng.nextGaussian())
    }
    def frame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
      import spark.implicits._
      ids.map(i => (i, apply(i))).toDF("vec_id", "embedding")
    }
  }

  private def dirBytes(dir: Path): Map[String, Long] = {
    val s = Files.walk(dir)
    try {
      val b = Map.newBuilder[String, Long]
      s.filter(Files.isRegularFile(_)).forEach(p => b += p.toString -> Files.size(p))
      b.result()
    } finally s.close()
  }
}

final class IndexChurn(ctx: Ctx) {
  import IndexChurn._
  private val spark = ctx.spark
  private val vecs = new Vectors(ctx.seed)
  private val rng = new scala.util.Random(ctx.seed)
  // centroids: the first vector of every cluster; codebooks: the
  // centroids cut into subspaces (the program's fixed-model convention)
  private val cents = (0 until Cells).map(i => vecs(i.toLong).toSeq)
  private val books = FixedModel.codebooks(cents, Subspaces)
  private def encode(ids: Seq[Long]): DataFrame =
    Pq.encode(Ivf.assign(vecs.frame(spark, ids), cents, "embedding"), books, "embedding")

  private val dir = ctx.work.resolve("index")
  private val live = mutable.LinkedHashSet[Long]()
  private var nextId = BaseVectors.toLong
  private val deleted = mutable.ArrayBuffer[Long]()
  // (search results, how many deletions preceded the search)
  private val searches = mutable.ArrayBuffer[(Seq[Long], Int)]()
  private var lastAppended = Seq.empty[Long]
  private var lastDeleted = Seq.empty[Long]
  private var bytesWritten = 0.0
  private val filesRead = mutable.ArrayBuffer[Double]()
  private var userBytes = 0.0
  private var rounds = 0

  /** A search times load, plan and collect: it follows a commit, so
    * `loadCodes` resolves the new version's manifest and files. */
  private def search(ids: Seq[Long]): Unit = {
    val queries = vecs.frame(spark, ids)
    val (df, found) = ctx.tracer.span("operators.index.search") {
      val probed = Ivf.probeCells(queries, cents, NProbe)
      val df = Pq.adcSearchCells(IndexStore.loadCodes(spark, dir.toString), books,
        probed, TopK, excludeSelf = false).select("c_id")
      (df, df.collect().map(_.getLong(0)).toSeq)
    }
    searches += ((found, deleted.size))
    if (ctx.tracer.recording) filesRead += helper.collectWithSubqueries(
      df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum.toDouble
  }

  private def step(kind: String): Unit = {
    // bytes are counted on every commit, traced or not, so compaction
    // rewrites of any round weigh against every appended byte
    val before = dirBytes(dir)
    kind match {
      case "append" =>
        lastAppended = (nextId until nextId + Batch).toSeq
        nextId += Batch
        ctx.tracer.span("operators.index.append")(
          IndexStore.append(encode(lastAppended), dir.toString))
        live ++= lastAppended
        userBytes += Batch * (8.0 + 4 + 4 * Subspaces)
      case "delete" =>
        // ids of one cluster, so the delete rewrites few cells and the
        // other cells collect append files until a compaction
        val cluster = rng.nextInt(Cells)
        lastDeleted = rng.shuffle(live.toSeq.filter(_ % Cells == cluster)).take(Batch)
        ctx.tracer.span("operators.index.delete")(IndexStore.delete(spark, dir.toString,
          spark.createDataFrame(lastDeleted.map(Tuple1(_))).toDF("vec_id")))
        live --= lastDeleted
        deleted ++= lastDeleted
      case "search_appended" => search(lastAppended.take(Queries))
      case "search_deleted" => search(lastDeleted.take(Queries))
      case "compact" =>
        ctx.tracer.span("operators.index.compact")(
          IndexStore.compact(spark, dir.toString, maxFilesPerCell = 1))
      case "vacuum" =>
        ctx.tracer.span("operators.index.vacuum")(
          IndexStore.vacuum(spark, dir.toString, minAgeMs = 0L))
    }
    bytesWritten += dirBytes(dir).collect { case (p, n) if !before.contains(p) => n }.sum
  }

  /** One churn round, timed per layer only: the `op_*` metrics are
    * the queries'. */
  def round(): OpResult = {
    rounds += 1
    Seq("append", "search_appended", "delete", "search_deleted").foreach(step)
    if (rounds % CompactEvery == 1) { step("compact"); step("vacuum") }
    OpResult("index_round", primary = false)
  }

  /** Save the base index and run a warm-up round, compaction included. */
  def setup(): Unit = {
    IndexStore.save(encode(0L until BaseVectors), cents, books, dir.toString)
    live ++= (0L until BaseVectors)
    round()
    rounds = 0
    bytesWritten = 0.0
    userBytes = 0.0
  }

  /** Output checks and per-layer metrics, after the timed loop. */
  def finish(): Unit = {
    val r = ctx.report
    val stored = IndexStore.loadCodes(spark, dir.toString).select("vec_id")
      .collect().map(_.getLong(0))
    r.check("index: live count matches", stored.length == live.size,
      s"${stored.length} stored vs ${live.size} live")
    r.check("index: the store holds exactly the live ids", stored.toSet == live.toSet,
      s"${(live.toSet -- stored).size} appended ids missing, " +
        s"${(stored.toSet -- live).size} deleted ids present")
    searches.zipWithIndex.foreach { case ((found, nDeleted), i) =>
      val gone = deleted.take(nDeleted).toSet
      r.check(s"index: search $i returns no deleted id", !found.exists(gone),
        found.filter(gone).take(5).mkString(","))
    }
    r.notes("index_rounds") = rounds.toString
    if (ctx.traced) {
      val spans = ctx.tracer.all
      Seq("append", "delete", "compact", "vacuum", "search").foreach { k =>
        val ss = spans.filter(_.name == s"operators.index.$k")
        r.layer(s"operators.index.${k}_s", Stats.mean(ss.map(_.seconds)), "s", ss.size)
      }
      r.layer("operators.index.files_read", Stats.mean(filesRead.toSeq), "count", filesRead.size)
      r.layer("operators.index.bytes_written_per_user_byte",
        bytesWritten / math.max(1.0, userBytes), "ratio", 1)
      r.layer("operators.index.store_bytes_per_code",
        dirBytes(dir).values.sum.toDouble / math.max(1, live.size), "bytes", 1)
    }
  }
}
