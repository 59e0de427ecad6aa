package graft

import graft.operators.{IndexStore, Ivf, Pq}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Index persistence under versioned manifest commits: save→load→
  * search must be bit-identical to the in-session IVF-PQ path (q103's
  * shape), the model must round-trip exactly, a probed read must
  * touch ONLY the probed cell directories (partition pruning on disk,
  * not just in the plan), maintenance commits must be invisible to a
  * reader pinned to the previous version until vacuum, and vacuum
  * must reduce the physical layout to exactly the live manifest.
  */
class IndexStoreSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def corpus = graft.operators.FixedModel.quantizedCast(spark, dir)

  /** The LIVE layout as the current manifest resolves it: cell ->
    * set of "fileName:length".
    */
  private def liveFiles(out: String): Map[Int, Set[String]] =
    IndexStore.loadCodes(spark, out).inputFiles.toSeq
      .map { f =>
        val p = new java.io.File(new java.net.URI(f).getPath)
        val cell = p.getParentFile.getName.drop(5).toInt
        cell -> s"${p.getName}:${p.length}"
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** The PHYSICAL layout on disk: cell -> set of "fileName:length".
    * Dot-prefixed files are ChecksumFileSystem's `.crc` sidecars —
    * hidden metadata no Hadoop/Spark reader ever lists as data, and
    * deleted alongside their data file — so they're not part of the
    * layout contract.
    */
  private def diskFiles(out: String): Map[Int, Set[String]] = {
    val root = new java.io.File(s"$out/codes")
    root.listFiles.filter(_.getName.startsWith("cell="))
      .map(d => d.getName.drop(5).toInt ->
        d.listFiles.filter(f => f.isFile && !f.getName.startsWith("."))
          .map(f => s"${f.getName}:${f.length}").toSet)
      .toMap
  }

  test("save -> load -> search is bit-identical to the in-session path") {
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
        "embedding")
      val probed = Ivf.probeCells(c.filter(col("vec_id") < 8), cents,
        nProbe = 2)

      val fresh = Pq.adcSearchCells(encoded, codebooks, probed, topK = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq

      val out = java.nio.file.Files.createTempDirectory("graft-index").toString
      IndexStore.save(encoded, cents, codebooks, out)
      assert(IndexStore.version(spark, out) == 1L)

      // model round-trips exactly
      assert(IndexStore.loadCentroids(spark, out) == cents)
      assert(IndexStore.loadCodebooks(spark, out) == codebooks)

      // search over the LOADED codes reproduces the session results
      val loaded = IndexStore.loadCodes(spark, out)
      val again = Pq.adcSearchCells(loaded, codebooks, probed, topK = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(again == fresh)

      // partition pruning: a probed read touches only probed cell dirs
      val probeCells = probed.select("cell").distinct()
        .collect().map(_.getInt(0)).toSet
      val files = loaded
        .filter(col("cell").isin(probeCells.toSeq.map(Integer.valueOf): _*))
        .inputFiles
      assert(files.nonEmpty)
      assert(files.forall(f => probeCells.exists(c => f.contains(s"cell=$c"))),
        s"scan escaped the probed cells: ${files.mkString("\n")}")
      // and at least one non-probed cell exists that was NOT read
      val allCells = loaded.select("cell").distinct()
        .collect().map(_.getInt(0)).toSet
      if ((allCells -- probeCells).nonEmpty) {
        val unprobed = (allCells -- probeCells).head
        assert(!files.exists(_.contains(s"cell=$unprobed")))
      }
    } finally c.unpersist()
  }

  test("delete rewrites only the affected cells and matches a filtered " +
      "rebuild; vacuum reduces disk to the manifest; an emptied index " +
      "stays readable and appendable") {
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
        "embedding")
      val out = java.nio.file.Files
        .createTempDirectory("graft-index-del").toString
      IndexStore.save(encoded, cents, codebooks, out)

      val before = liveFiles(out)
      assert(before.size >= 2, s"need >=2 cells, got ${before.keySet}")

      // tombstone every resident of ONE cell plus one resident of
      // another — exercises both the full-cell and partial-cell paths
      val byCell = encoded.select("vec_id", "cell").collect()
        .groupBy(_.getInt(1)).map { case (k, rs) =>
          k -> rs.map(_.getLong(0)).sorted.toSeq }
      val emptied = byCell.keys.min
      val partial = byCell.keys.filter(_ != emptied).min
      val tombIds = byCell(emptied) :+ byCell(partial).head
      import spark.implicits._
      IndexStore.delete(spark, out, tombIds.toDF("vec_id"))
      assert(IndexStore.version(spark, out) == 2L)

      val after = liveFiles(out)
      // the fully-tombstoned cell left the live version
      assert(!after.contains(emptied), s"cell=$emptied still live")
      // the partially-tombstoned cell was rewritten
      assert(after(partial) != before(partial))
      // every untouched cell kept its exact live files
      (before.keySet - emptied - partial).foreach { k =>
        assert(after(k) == before(k), s"untouched cell=$k was rewritten")
      }
      // commits never delete: the old version's files are still on
      // disk (readers pinned to v1 keep working) until vacuum
      assert(before(emptied).subsetOf(diskFiles(out)(emptied)))
      assert(before(partial).subsetOf(diskFiles(out)(partial)))

      // post-delete search == search over a filtered rebuild
      val probed = Ivf.probeCells(c.filter(col("vec_id") < 8), cents,
        nProbe = 2)
      val got = Pq.adcSearchCells(IndexStore.loadCodes(spark, out),
          codebooks, probed, topK = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      val want = Pq.adcSearchCells(
          encoded.filter(!col("vec_id").isin(tombIds.map(Long.box): _*)),
          codebooks, probed, topK = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(got == want)

      // deleting ids absent from the index is a no-op (no new version)
      IndexStore.delete(spark, out, Seq(999999L).toDF("vec_id"))
      assert(IndexStore.version(spark, out) == 2L)
      assert(liveFiles(out) == after)

      // vacuum: disk reduces to exactly the live manifest — the
      // emptied cell's directory is gone, superseded files are gone
      IndexStore.vacuum(spark, out, minAgeMs = 0L)
      assert(diskFiles(out) == after)

      // delete EVERYTHING: fine under versioning — the manifest
      // carries the schema, so the empty index stays readable...
      val remaining = IndexStore.loadCodes(spark, out)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      IndexStore.delete(spark, out, remaining.toDF("vec_id"))
      val empty = IndexStore.loadCodes(spark, out)
      assert(empty.count() == 0L)
      assert(empty.columns.toSeq == Seq("vec_id", "code", "cell"))
      // ...and appendable: refill one vector and find it again
      val one = encoded.filter(col("vec_id") === remaining.head)
      IndexStore.append(one, out)
      assert(IndexStore.loadCodes(spark, out).count() == 1L)
    } finally c.unpersist()
  }

  test("a reader pinned to version v sees v's exact rows across a " +
      "concurrent delete + compact commit") {
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
        "embedding")
      val out = java.nio.file.Files
        .createTempDirectory("graft-index-pin").toString
      IndexStore.save(encoded, cents, codebooks, out)

      // the reader resolves version 1 and PINS its file list
      val readerV1 = IndexStore.loadCodes(spark, out)
      val rowsV1 = readerV1.collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap

      // maintenance commits land underneath it: a delete (v2), an
      // append fragmenting one cell (v3..), then a compact
      import spark.implicits._
      val someIds = encoded.select("vec_id").limit(5)
        .collect().map(_.getLong(0)).toSeq
      IndexStore.delete(spark, out, someIds.toDF("vec_id"))
      val more = encoded.filter(col("vec_id").isin(someIds.map(Long.box): _*))
      someIds.foreach { id =>
        IndexStore.append(more.filter(col("vec_id") === id), out)
      }
      IndexStore.compact(spark, out, maxFilesPerCell = 1)
      assert(IndexStore.version(spark, out) > 2L)

      // the pinned reader still sees version 1's exact multiset —
      // no half-swapped mix, no missing cells (commits never delete)
      val rowsAgain = readerV1.collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(rowsAgain == rowsV1)

      // history: one row per commit, versions contiguous from 1
      val hist = IndexStore.history(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(hist.map(_._1).toSeq ==
        (1L to IndexStore.version(spark, out)).toSeq)

      // time-travel: an explicit as-of read of version 1 equals the
      // pinned reader; the latest-version read equals loadCodes
      val travel = IndexStore.loadCodesAt(spark, out, 1L)
        .collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(travel == rowsV1)
      intercept[IllegalArgumentException] {
        IndexStore.loadCodesAt(spark, out, 999L)
      }

      // a FRESH reader sees the latest version: delete+re-append is
      // the identity on content here, so the multiset matches v1 too
      val rowsLatest = IndexStore.loadCodes(spark, out)
        .collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(rowsLatest == rowsV1)
    } finally c.unpersist()
  }

  test("compact coalesces only over-budget cells, preserving rows " +
      "and search results; ingest-log markers are pruned") {
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
        "embedding").cache()
      val out = java.nio.file.Files
        .createTempDirectory("graft-index-compact").toString
      // seed with one cell's rows, then append the rest one vector at
      // a time — small files pile up in the appended cells
      val cells = encoded.select("cell").distinct()
        .collect().map(_.getInt(0)).sorted
      val keepSmall = cells.head
      IndexStore.save(encoded.filter(col("cell") === keepSmall),
        cents, codebooks, out)
      val rest = encoded.filter(col("cell") =!= keepSmall)
        .select("vec_id").collect().map(_.getLong(0))
      rest.foreach { id =>
        IndexStore.append(encoded.filter(col("vec_id") === id), out)
      }
      // a long-running ingest's marker files, two tokens
      (0 to 11).foreach { b =>
        val p = new org.apache.hadoop.fs.Path(s"$out/_ingest_log/tokA-$b")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .create(p, true).close()
      }
      val pB = new org.apache.hadoop.fs.Path(s"$out/_ingest_log/tokB-0")
      pB.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(pB, true).close()

      val before = liveFiles(out)
      assert(before.exists(_._2.size > 4), s"no over-budget cell: $before")
      val rows = IndexStore.loadCodes(spark, out)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
        .toMap
      val probed = Ivf.probeCells(c.filter(col("vec_id") < 8), cents,
        nProbe = 2)
      val want = Pq.adcSearchCells(IndexStore.loadCodes(spark, out),
          codebooks, probed, topK = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq

      IndexStore.compact(spark, out)

      val after = liveFiles(out)
      // every over-budget cell now holds one live file; rest untouched
      before.foreach { case (k, fs) =>
        if (fs.size > 4) assert(after(k).size == 1, s"cell=$k: ${after(k)}")
        else assert(after(k) == fs, s"under-budget cell=$k was rewritten")
      }
      // markers pruned to the newest 8 of tokA; tokB untouched
      val markers = new java.io.File(s"$out/_ingest_log").listFiles
        .map(_.getName).filterNot(_.startsWith(".")).toSet
      assert(markers == ((4 to 11).map(b => s"tokA-$b").toSet + "tokB-0"),
        markers.toSeq.sorted.mkString(", "))
      // multiset row equality and identical search
      val rowsAfter = IndexStore.loadCodes(spark, out)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
        .toMap
      assert(rowsAfter == rows)
      val got = Pq.adcSearchCells(IndexStore.loadCodes(spark, out),
          codebooks, probed, topK = 3)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(got == want)

      // idempotent: a second compact commits nothing
      val v = IndexStore.version(spark, out)
      IndexStore.compact(spark, out)
      assert(IndexStore.version(spark, out) == v)
      assert(liveFiles(out) == after)

      // vacuum reduces the physical layout to the live manifest
      IndexStore.vacuum(spark, out, minAgeMs = 0L)
      assert(diskFiles(out) == after)

      // stats: the DESCRIBE table agrees with the data and the layout
      val st = IndexStore.stats(spark, out).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val wantCounts = IndexStore.loadCodes(spark, out)
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(st.keySet == after.keySet)
      st.foreach { case (cell, (nCodes, nFiles, bytes)) =>
        assert(nCodes == wantCounts(cell), s"cell=$cell codes")
        assert(nFiles == after(cell).size.toLong, s"cell=$cell files")
        assert(bytes ==
          new java.io.File(s"$out/codes/cell=$cell").listFiles
            .filter(f => f.isFile && !f.getName.startsWith("."))
            .map(_.length).sum,
          s"cell=$cell bytes")
      }
      encoded.unpersist()
    } finally c.unpersist()
  }

  test("a racing writer loses loudly: a commit whose version was " +
      "already taken throws and the index stays at the winner's " +
      "version") {
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
        "embedding")
      val out = java.nio.file.Files
        .createTempDirectory("graft-index-race").toString
      IndexStore.save(encoded.filter(col("vec_id") < 20), cents,
        codebooks, out)
      // two writers read v1 and both derive successor v2: the first
      // commit wins; the second MUST throw — even on POSIX, where a
      // bare rename would silently overwrite the winner's manifest
      val schema = IndexStore.loadCodes(spark, out).schema
      val model = IndexStore.currentManifest(spark, out).get.model
      IndexStore.commitManifest(spark, out, 2L, schema, model, Seq.empty)
      val rowsBefore = IndexStore.loadCodes(spark, out).count()
      assert(rowsBefore == 0L) // the winner's (empty) commit is live
      intercept[IllegalStateException] {
        IndexStore.commitManifest(spark, out, 2L, schema, model, Seq.empty)
      }
      // the loser changed nothing visible
      assert(IndexStore.version(spark, out) == 2L)
      assert(IndexStore.loadCodes(spark, out).count() == rowsBefore)
      // and the END-TO-END surface on top of the guard: an append
      // whose read-commit cycle runs AFTER the winner's commit simply
      // builds v3 on the winner's state — versions stay linear
      IndexStore.append(encoded.filter(col("vec_id") >= 20), out)
      assert(IndexStore.version(spark, out) == 3L)
      val n20 = encoded.filter(col("vec_id") >= 20).count()
      assert(IndexStore.loadCodes(spark, out).count() == n20)
      IndexStore.vacuum(spark, out, minAgeMs = 0L)
      assert(IndexStore.loadCodes(spark, out).count() == n20)
    } finally c.unpersist()
  }

  /** Shared fixture: encode the corpus under the fixed model into a
    * fresh temp index dir; returns (encoded, cents, codebooks, out).
    */
  private def freshIndex(prefix: String, save: Boolean = true) = {
    val c = corpus
    val cents = graft.operators.FixedModel.centroids(c,
      Seq(0L, 10L, 20L, 30L))
    val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
    val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
      "embedding")
    val out = java.nio.file.Files.createTempDirectory(prefix).toString
    if (save) IndexStore.save(encoded, cents, codebooks, out)
    (encoded, cents, codebooks, out)
  }

  /** Row multiset over the STORED columns (vec_id, code, cell) —
    * in-session frames carry extra columns (embedding) the layout
    * drops — with array values normalized to Seq (a collected
    * ArrayType may surface as a raw Array, which compares by
    * reference).
    */
  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "code", "cell").collect()
      .map(_.toSeq.map {
        case a: Array[_] => a.toSeq
        case s: scala.collection.Seq[_] => s.toSeq
        case x => x
      })
      .groupBy(identity).view.mapValues(_.length).toMap

  test("a lost append race rebases onto the winner and BOTH appends " +
      "land (deterministic stale-base commit + two racing threads)") {
    val (encoded, cents, codebooks, out) =
      freshIndex("graft-index-oc", save = false)
    val third = (k: Int) => encoded.filter(col("vec_id") % 3 === k)
    IndexStore.save(third(0), cents, codebooks, out)

    // DETERMINISTIC conflict: writer B reads v1 and stages, then
    // writer A commits v2 underneath; B's first commit of v2 loses
    // and must rebase onto A's manifest so v3 = v1 ∪ A ∪ B
    val baseV1 = IndexStore.currentManifest(spark, out).get
    val stagedB = IndexStore.stageIn(third(2), out, "vec_id", "cell", "code")
    IndexStore.append(third(1), out) // writer A wins v2
    IndexStore.commitWithRetry(spark, out, baseV1, baseV1.schema,
      baseV1.model, Set.empty, stagedB, fullReplace = false,
      validate = _ => ())
    assert(IndexStore.version(spark, out) == 3L)
    assert(multiset(IndexStore.loadCodes(spark, out)) == multiset(encoded))

    // END-TO-END: two appends from racing threads — whatever the
    // interleaving, both must land (the loser rebases internally)
    val out2 = java.nio.file.Files
      .createTempDirectory("graft-index-oc2").toString
    IndexStore.save(third(0), cents, codebooks, out2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val race = Seq(1, 2).map { k =>
      Future {
        // blocking{}: tell the pool the await parks a thread, so a
        // low-parallelism pool still runs both racers concurrently
        scala.concurrent.blocking(barrier.await())
        IndexStore.append(third(k), out2)
      }
    }
    Await.result(Future.sequence(race), scala.concurrent.duration.Duration
      .apply(120, "s"))
    assert(IndexStore.version(spark, out2) == 3L)
    assert(multiset(IndexStore.loadCodes(spark, out2)) == multiset(encoded))
  }

  test("delete and compact rebases enforce the conflict matrix: " +
      "stale rewrites and appends into affected cells are refused, " +
      "commuting interleavings rebase") {
    val (encoded, _, _, out) = freshIndex("graft-index-cm")
    val man = IndexStore.currentManifest(spark, out).get
    val cells = man.files.map(_.path.takeWhile(_ != '/').stripPrefix("cell="))
      .distinct.sorted
    assert(cells.size >= 2)
    val (affCell, otherCell) = (cells.head, cells.last)
    val affFiles = man.files.map(_.path).filter(_.startsWith(s"cell=$affCell/"))
      .toSet

    def entry(cell: String, name: String) =
      IndexStore.FileEntry(s"cell=$cell/$name", 1L)

    // commuting: winner appended into an UNaffected cell — rebase ok
    val grewOther = man.copy(version = man.version + 1,
      files = man.files :+ entry(otherCell, "x-part-0.parquet"))
    IndexStore.validateDelete(man, Set(affCell), affFiles)(grewOther)
    IndexStore.validateCompact(affFiles)(grewOther)

    // conflict: winner appended INTO an affected cell — delete refuses
    val grewAff = man.copy(version = man.version + 1,
      files = man.files :+ entry(affCell, "y-part-0.parquet"))
    intercept[IllegalStateException] {
      IndexStore.validateDelete(man, Set(affCell), affFiles)(grewAff)
    }
    // ...but compact tolerates it (content union preserved)
    IndexStore.validateCompact(affFiles)(grewAff)

    // conflict: winner removed a file this mutation rewrote — both refuse
    val shrunk = man.copy(version = man.version + 1,
      files = man.files.filterNot(f => affFiles(f.path)))
    intercept[IllegalStateException] {
      IndexStore.validateDelete(man, Set(affCell), affFiles)(shrunk)
    }
    intercept[IllegalStateException] {
      IndexStore.validateCompact(affFiles)(shrunk)
    }

    // a concurrent save() (model swap) aborts any in-flight rebase
    val retrained = man.copy(version = man.version + 1, model = "m-new")
    val staged = IndexStore.stageIn(encoded.limit(1), out,
      "vec_id", "cell", "code")
    IndexStore.commitManifest(spark, out, man.version + 1, man.schema,
      "m-new", retrained.files)
    intercept[IllegalStateException] {
      IndexStore.commitWithRetry(spark, out, man, man.schema, man.model,
        Set.empty, staged, fullReplace = false, validate = _ => ())
    }
  }

  test("vacuum honors the pin window: a retention window covering a " +
      "pinned version retains its manifest, files, and in-flight " +
      "residue; minAgeMs=0 collects them") {
    val (encoded, _, _, out) = freshIndex("graft-index-pinwin")
    import spark.implicits._
    val someIds = encoded.select("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    IndexStore.delete(spark, out, someIds.toDF("vec_id")) // v2
    val v1Rows = multiset(IndexStore.loadCodesAt(spark, out, 1L))

    // a crashed/in-flight writer's residue: a staging dir and an
    // unreferenced file inside a live cell dir, both fresh
    val cellDir = new java.io.File(s"$out/codes").listFiles
      .filter(_.getName.startsWith("cell=")).head
    val straggler = new java.io.File(cellDir, "zz-part-inflight.parquet")
    straggler.createNewFile()
    new java.io.File(s"$out/codes/_staging-inflight").mkdirs()

    // retention window covers v1 (everything is younger than an hour)
    IndexStore.vacuum(spark, out, keepVersions = 1, minAgeMs = 3600000L)
    assert(multiset(IndexStore.loadCodesAt(spark, out, 1L)) == v1Rows,
      "pinned version was collected despite the retention window")
    assert(straggler.exists, "in-flight file collected inside the window")
    assert(new java.io.File(s"$out/codes/_staging-inflight").exists)

    // no pin window: v1 goes, residue goes, current version survives
    val v2Rows = multiset(IndexStore.loadCodes(spark, out))
    IndexStore.vacuum(spark, out, keepVersions = 1, minAgeMs = 0L)
    intercept[IllegalArgumentException] {
      IndexStore.loadCodesAt(spark, out, 1L)
    }
    assert(!straggler.exists)
    assert(!new java.io.File(s"$out/codes/_staging-inflight").exists)
    assert(multiset(IndexStore.loadCodes(spark, out)) == v2Rows)
  }

  test("save over an existing index is a staged full-snapshot commit: " +
      "the previous version stays readable until vacuum and the model " +
      "swaps atomically with the codes") {
    val (encoded, cents, codebooks, out) = freshIndex("graft-index-resave")
    val v1Rows = multiset(IndexStore.loadCodes(spark, out))
    val reader = IndexStore.loadCodes(spark, out) // pinned at v1

    // retrain: recreate with HALF the corpus and a shifted model
    val cents2 = cents.map(_.map(_ + 1.0))
    val half = encoded.filter(col("vec_id") % 2 === 0)
    IndexStore.save(half, cents2, codebooks, out)
    assert(IndexStore.version(spark, out) == 2L)

    // new current state: half the codes, the NEW model
    assert(multiset(IndexStore.loadCodes(spark, out)) == multiset(half))
    assert(IndexStore.loadCentroids(spark, out) == cents2)
    // the pinned reader and time travel still see v1 exactly —
    // codes AND model (a time-travel search across the retrain must
    // pair v1's codes with v1's model)
    assert(multiset(reader) == v1Rows)
    assert(multiset(IndexStore.loadCodesAt(spark, out, 1L)) == v1Rows)
    assert(IndexStore.loadCentroidsAt(spark, out, 1L) == cents)
    assert(IndexStore.loadCentroidsAt(spark, out, 2L) == cents2)
    assert(IndexStore.loadCodebooksAt(spark, out, 1L) == codebooks)

    // vacuum drops v1's files and its model directory
    IndexStore.vacuum(spark, out, minAgeMs = 0L)
    intercept[IllegalArgumentException] {
      IndexStore.loadCodesAt(spark, out, 1L)
    }
    val modelDirs = new java.io.File(s"$out/model").listFiles
      .filter(_.getName.startsWith("m-")).map(_.getName).toSet
    assert(modelDirs.size == 1)
    assert(IndexStore.loadCentroids(spark, out) == cents2)
  }

  test("diff reports the per-cell file and code ledger between " +
      "versions") {
    val (encoded, _, _, out) = freshIndex("graft-index-diff")
    val man1 = IndexStore.currentManifest(spark, out).get
    import spark.implicits._
    // v2: delete three ids; v3: append them back
    val ids = encoded.select("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    IndexStore.delete(spark, out, ids.toDF("vec_id"))
    IndexStore.append(
      encoded.filter(col("vec_id").isin(ids.map(Long.box): _*)), out)

    val idCells = encoded.filter(col("vec_id").isin(ids.map(Long.box): _*))
      .select("cell").collect().map(_.getInt(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

    val d12 = IndexStore.diff(spark, out, 1L, 2L).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // every affected cell: codes_removed = its tombstones, none added
    assert(d12.keySet == idCells.keySet)
    d12.foreach { case (cell, (fa, fr, ca, cr)) =>
      assert(cr == idCells(cell), s"cell=$cell codes_removed")
      assert(ca == 0L, s"cell=$cell codes_added")
      assert(fr >= 1L, s"cell=$cell files_removed")
      // a fully-emptied cell stages no survivor file
      assert(fa <= 1L, s"cell=$cell files_added")
    }
    // the round trip: v1 -> v3 is code-neutral but file-churned
    val d13 = IndexStore.diff(spark, out, 1L, 3L).collect()
      .map(r => r.getInt(0) -> (r.getLong(3), r.getLong(4))).toMap
    d13.foreach { case (cell, (ca, cr)) =>
      assert(ca == 0L && cr == 0L, s"cell=$cell should be code-neutral")
    }
    // scale pin: the audit reads ONLY the churned files — a diff of
    // one maintenance window on a huge index scans the window, never
    // the index
    val man3 = IndexStore.currentManifest(spark, out).get
    val churned = ((man1.paths -- man3.paths) ++ (man3.paths -- man1.paths))
      .map(_.split('/').last)
    val scanned = IndexStore.diff(spark, out, 1L, 3L).inputFiles
      .map(f => new java.io.File(new java.net.URI(f).getPath).getName).toSet
    assert(scanned.nonEmpty && scanned.subsetOf(churned),
      s"diff scan escaped the churned files: ${scanned -- churned}")
    // diff against a vacuumed/unknown version throws loudly
    intercept[IllegalArgumentException] {
      IndexStore.diff(spark, out, 1L, 99L)
    }
  }

  test("diff fails loudly on an id repeated within one version") {
    val (encoded, _, _, out) = freshIndex("graft-index-diff-dup")
    val id = encoded.select("vec_id").limit(1).collect().head.getLong(0)
    val row = encoded.filter(col("vec_id") === id)
    // append refuses such a batch, so commit it below append's check:
    // v2 holds `id` three times
    val man = IndexStore.currentManifest(spark, out).get
    IndexStore.commitWithRetry(spark, out, man, man.schema, man.model,
      Set.empty, IndexStore.stageIn(row.unionByName(row), out, "vec_id",
        "cell", "code"), fullReplace = false, validate = _ => ())
    val e = intercept[Exception] {
      IndexStore.diff(spark, out, 1L, 2L).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains(s"vec_id $id has net change 2")),
      msgs.mkString(" | "))
  }

  test("append refuses a batch that repeats an id or re-adds a live " +
      "one, names the id, and leaves the index as it was") {
    val (encoded, _, _, out) = freshIndex("graft-index-append-dup")
    val ids = encoded.select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0))
    val v1Rows = multiset(IndexStore.loadCodes(spark, out))
    val v1Disk = diskFiles(out)
    // re-adding a live id
    val live = encoded.filter(col("vec_id") === ids(0))
    val e1 = intercept[IllegalArgumentException] {
      IndexStore.append(live, out)
    }
    assert(e1.getMessage.contains(s"vec_id ${ids(0)} is already live"),
      e1.getMessage)
    // nothing committed, and the refused batch's staged files are gone
    assert(IndexStore.version(spark, out) == 1L)
    assert(diskFiles(out) == v1Disk)
    // an id repeated within the batch, after deleting it so that the
    // only clash is inside the batch
    import spark.implicits._
    IndexStore.delete(spark, out, Seq(ids(1)).toDF("vec_id")) // v2
    val v2Rows = multiset(IndexStore.loadCodes(spark, out))
    val twice = encoded.filter(col("vec_id") === ids(1))
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.append(twice.unionByName(twice), out)
    }
    assert(e2.getMessage.contains(s"vec_id ${ids(1)} occurs 2 times in the batch"),
      e2.getMessage)
    assert(IndexStore.version(spark, out) == 2L)
    assert(multiset(IndexStore.loadCodes(spark, out)) == v2Rows)
    // a clean re-add still lands
    IndexStore.append(twice, out)
    assert(multiset(IndexStore.loadCodes(spark, out)) == v1Rows)
  }

  test("restore rolls the head back to a retained version — a pure " +
      "metadata commit that survives vacuum and restores the model " +
      "across a retrain") {
    val (encoded, cents, codebooks, out) = freshIndex("graft-index-restore")
    import spark.implicits._
    val v1Rows = multiset(IndexStore.loadCodes(spark, out))
    val ids = encoded.select("vec_id").limit(4)
      .collect().map(_.getLong(0)).toSeq
    IndexStore.delete(spark, out, ids.toDF("vec_id")) // v2 (bad batch)
    val diskBefore = diskFiles(out)

    IndexStore.restore(spark, out, 1L) // v3 = v1's exact files
    assert(IndexStore.version(spark, out) == 3L)
    assert(multiset(IndexStore.loadCodes(spark, out)) == v1Rows)
    // metadata-only: no data file was written or copied
    assert(diskFiles(out) == diskBefore)
    // restore to the current version is a no-op commit
    IndexStore.restore(spark, out, 3L)
    assert(IndexStore.version(spark, out) == 3L)
    // the restored head keeps its files across vacuum
    IndexStore.vacuum(spark, out, minAgeMs = 0L)
    assert(multiset(IndexStore.loadCodes(spark, out)) == v1Rows)

    // across a retrain: restoring past a save() brings back the OLD
    // model pointer with the old codes — a search on the restored
    // head uses the model those codes were encoded under
    val cents2 = cents.map(_.map(_ + 2.0))
    IndexStore.save(encoded.filter(col("vec_id") % 2 === 0), cents2,
      codebooks, out) // v4, new model
    assert(IndexStore.loadCentroids(spark, out) == cents2)
    IndexStore.restore(spark, out, 3L) // v5 = pre-retrain head
    assert(multiset(IndexStore.loadCodes(spark, out)) == v1Rows)
    assert(IndexStore.loadCentroids(spark, out) == cents)
  }

  test("randomized maintenance sequences match an in-memory model " +
      "(append / delete / compact / restore / vacuum, seeded)") {
    val (encoded, _, _, out) = freshIndex("graft-index-fuzz")
    import spark.implicits._
    val allIds = encoded.select("vec_id").collect().map(_.getLong(0)).toSet
    val byId = multiset(encoded) // full row multiset, keyed below
    def rowsFor(ids: Set[Long]) =
      byId.filter { case (row, _) => ids(row.head.asInstanceOf[Long]) }

    val rnd = new scala.util.Random(20260814L)
    var live: Set[Long] = allIds
    // version -> expected live ids, for restore targets
    val hist = scala.collection.mutable.Map(1L -> live)
    var floor = 1L // oldest version surviving vacuum
    (1 to 14).foreach { step =>
      rnd.nextInt(5) match {
        case 0 => // re-append up to 4 currently-deleted ids
          val back = rnd.shuffle((allIds -- live).toSeq).take(4)
          if (back.nonEmpty) {
            IndexStore.append(
              encoded.filter(col("vec_id").isin(back.map(Long.box): _*)),
              out)
            live = live ++ back
          }
        case 1 => // delete up to 4 live ids
          val gone = rnd.shuffle(live.toSeq).take(4)
          if (gone.nonEmpty) {
            IndexStore.delete(spark, out, gone.toDF("vec_id"))
            live = live -- gone
          }
        case 2 =>
          IndexStore.compact(spark, out, maxFilesPerCell = 2)
        case 3 => // roll back to any retained version
          val targets = hist.keys.filter(_ >= floor).toSeq.sorted
          val v = targets(rnd.nextInt(targets.size))
          IndexStore.restore(spark, out, v)
          live = hist(v)
        case 4 =>
          IndexStore.vacuum(spark, out, keepVersions = 2, minAgeMs = 0L)
          floor = math.max(floor, IndexStore.version(spark, out) - 1)
      }
      val v = IndexStore.version(spark, out)
      hist(v) = live
      assert(multiset(IndexStore.loadCodes(spark, out)) == rowsFor(live),
        s"step $step (version $v) diverged from the model")
    }
    // a vacuumed-away version is gone loudly
    if (floor > 1L) {
      intercept[IllegalArgumentException] {
        IndexStore.restore(spark, out, floor - 1)
      }
    }
  }

  test("stats and history come from manifest metadata: recorded " +
      "lengths match the physical files") {
    val (_, _, _, out) = freshIndex("graft-index-meta")
    val man = IndexStore.currentManifest(spark, out).get
    man.files.foreach { f =>
      assert(new java.io.File(s"$out/codes/${f.path}").length == f.len,
        s"manifest length drifted for ${f.path}")
    }
    val hist = IndexStore.history(spark, out).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L))
    assert(hist.head.getLong(3) == man.files.map(_.len).sum)
  }

  test("an empty save is readable and appendable (the streaming " +
      "bootstrap path)") {
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"), codebooks,
        "embedding")
      val out = java.nio.file.Files
        .createTempDirectory("graft-index-empty").toString
      IndexStore.save(encoded.limit(0), cents, codebooks, out)
      assert(IndexStore.loadCodes(spark, out).count() == 0L)
      IndexStore.append(encoded, out)
      assert(IndexStore.loadCodes(spark, out).count() == encoded.count())
    } finally c.unpersist()
  }

  test("restore with expectHead is a CAS: a head that moved since the " +
      "rollback decision refuses instead of resurrecting a racing " +
      "delete's tombstones") {
    val (encoded, _, _, out) = freshIndex("graft-index-cas")
    import spark.implicits._
    val v1Rows = multiset(IndexStore.loadCodes(spark, out))
    val ids = encoded.select("vec_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    IndexStore.delete(spark, out, ids.toDF("vec_id")) // v2: the takedown

    // operator decided the rollback while reading head v1 — but the
    // takedown landed in between: the CAS refuses
    val e = intercept[IllegalStateException] {
      IndexStore.restore(spark, out, 1L, expectHead = Some(1L))
    }
    assert(e.getMessage.contains("head moved"))
    assert(IndexStore.version(spark, out) == 2L) // nothing committed

    // decided against the CURRENT head: commits normally
    IndexStore.restore(spark, out, 1L, expectHead = Some(2L))
    assert(IndexStore.version(spark, out) == 3L)
    assert(multiset(IndexStore.loadCodes(spark, out)) == v1Rows)
    // the blanket (no-CAS) form still serializes over anything — q135
    IndexStore.restore(spark, out, 2L)
    assert(IndexStore.version(spark, out) == 4L)
  }

  test("publishByMarker serializes commits on a store whose rename " +
      "OVERWRITES (object-store semantics): one winner, losers " +
      "complete a crashed winner's publish") {
    val fs = new OverwritingRenameFs
    fs.initialize(java.net.URI.create("mockobj:///"),
      new org.apache.hadoop.conf.Configuration())
    val dir = java.nio.file.Files
      .createTempDirectory("graft-marker").toString
    def hp(name: String) = new org.apache.hadoop.fs.Path(s"$dir/$name")
    def put(name: String, body: String): org.apache.hadoop.fs.Path = {
      val p = hp(name)
      val o = fs.create(p, true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
      p
    }
    def read(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    }

    // the hazard this protocol exists for: on this FS a bare rename
    // onto an existing destination SILENTLY REPLACES it
    val dst0 = put("clobber-me", "first")
    assert(fs.rename(put("tmp0", "second"), dst0) && read(dst0) == "second")

    // two contenders, same destination: exactly one wins, and the
    // published body is the winner's — the loser's rename never runs
    val dst = hp("v000000002.manifest")
    val wonA = IndexStore.publishOnce(fs, put(".tmp-A", "body-A"), dst)
    val wonB = IndexStore.publishOnce(fs, put(".tmp-B", "body-B"), dst)
    assert(wonA && !wonB, "exactly the first contender must win")
    assert(read(dst) == "body-A")
    // and the decision artifact is the marker, proving the routing
    // took the marker path (not probed rename) for this scheme
    assert(fs.exists(IndexStore.markerPath(dst)))

    // crashed winner: marker + staged body exist, dst does not — a
    // later contender loses AND completes the decided publish
    val dst2 = hp("v000000003.manifest")
    val wUuid = "dead-beef-uuid"
    put(IndexStore.markerDataPath(dst2, wUuid).getName, "body-W")
    put(IndexStore.markerPath(dst2).getName, wUuid)
    val wonC = IndexStore.publishOnce(fs, put(".tmp-C", "body-C"), dst2)
    assert(!wonC)
    assert(read(dst2) == "body-W",
      "the loser must complete the crashed winner's publish")
  }

  test("recoverWedge: a winner crashed mid-DECIDE (empty marker, no " +
      "published dst) wedges the version; recovery clears the dead " +
      "marker, completes intact decided commits, and never touches " +
      "young or settled markers") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockobj.impl", classOf[OverwritingRenameFs].getName)
    val local = java.nio.file.Files
      .createTempDirectory("graft-wedge").toString
    val out = s"mockobj:$local"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(conf)
    val mdir = new org.apache.hadoop.fs.Path(s"$out/codes/_manifests")
    fs.mkdirs(mdir)
    def hp(name: String) = new org.apache.hadoop.fs.Path(mdir, name)
    def put(name: String, body: String): org.apache.hadoop.fs.Path = {
      val p = hp(name)
      val o = fs.create(p, true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
      p
    }
    def read(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    }

    // v2: the WEDGE — winner died between marker create and uuid
    // write; the marker exists but is empty, no dst, no staged body
    val dst2 = hp("v000000002.manifest")
    put(IndexStore.markerPath(dst2).getName, "")
    // every later contender loses to the dead marker: wedged
    assert(!IndexStore.publishOnce(fs, put(".tmp-A", "body-A"), dst2))
    assert(!fs.exists(dst2), "the version stays unpublished: wedged")

    // v3: decided-but-unpublished with the winner's body INTACT
    val dst3 = hp("v000000003.manifest")
    put(IndexStore.markerDataPath(dst3, "w-uuid").getName, "body-W")
    put(IndexStore.markerPath(dst3).getName, "w-uuid")

    // v4: SETTLED (published dst + leftover marker) — vacuum's job,
    // recovery must not touch it
    val dst4 = hp("v000000004.manifest")
    put(dst4.getName, "body-4")
    put(IndexStore.markerPath(dst4).getName, "x-uuid")

    // a YOUNG wedge is indistinguishable from an in-flight commit:
    // with a real pin window nothing is touched
    val young = IndexStore.recoverWedge(spark, out, minAgeMs = 3600000L)
    assert(young.completed.isEmpty && young.cleared.isEmpty)
    assert(young.skipped.toSet == Set(2L, 3L))
    assert(fs.exists(IndexStore.markerPath(dst2)) && !fs.exists(dst3))

    // quiesced (minAgeMs = 0): the dead marker clears, the decided
    // commit completes, the settled version is untouched
    val r = IndexStore.recoverWedge(spark, out, minAgeMs = 0L)
    assert(r.cleared == Seq(2L), s"cleared: ${r.cleared}")
    assert(r.completed == Seq(3L), s"completed: ${r.completed}")
    assert(r.skipped.isEmpty)
    assert(!fs.exists(IndexStore.markerPath(dst2)),
      "the dead marker must be gone")
    assert(read(dst3) == "body-W",
      "the decided commit must be completed from the winner's body")
    assert(!fs.exists(IndexStore.markerPath(dst3)))
    assert(read(dst4) == "body-4" &&
      fs.exists(IndexStore.markerPath(dst4)),
      "settled residue is vacuum's job, not recovery's")

    // the cleared version number is winnable again
    assert(IndexStore.publishOnce(fs, put(".tmp-B", "body-B"), dst2))
    assert(read(dst2) == "body-B")
  }

  test("END-TO-END on object-store semantics: the full lifecycle — " +
      "save, RACING appends, delete, search — runs through a " +
      "registered filesystem whose rename overwrites") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockobj.impl", classOf[OverwritingRenameFs].getName)
    val local = java.nio.file.Files
      .createTempDirectory("graft-index-objstore").toString
    val out = s"mockobj:$local"
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"),
        codebooks, "embedding")
      val third = (k: Int) => encoded.filter(col("vec_id") % 3 === k)
      IndexStore.save(third(0), cents, codebooks, out)
      assert(IndexStore.version(spark, out) == 1L)
      // two RACING appends — the marker protocol must serialize the
      // manifest publishes even though rename overwrites on this FS
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val race = Seq(1, 2).map { k =>
        Future {
          scala.concurrent.blocking(barrier.await())
          IndexStore.append(third(k), out)
        }
      }
      Await.result(Future.sequence(race),
        scala.concurrent.duration.Duration(120, "s"))
      assert(IndexStore.version(spark, out) == 3L)
      assert(multiset(IndexStore.loadCodes(spark, out)) == multiset(encoded))
      // model round-trips and maintenance keeps working
      assert(IndexStore.loadCentroids(spark, out) == cents)
      import spark.implicits._
      val gone = encoded.select("vec_id").limit(2)
        .collect().map(_.getLong(0)).toSeq
      IndexStore.delete(spark, out, gone.toDF("vec_id"))
      assert(IndexStore.loadCodes(spark, out).count() ==
        encoded.count() - gone.length)
    } finally c.unpersist()
  }

  test("a racing loser waits out the winner's IN-FLIGHT publish " +
      "instead of giving up (slow-publish object store)") {
    // deterministic reproduction of a flake a degraded host surfaced:
    // the loser of two racing appends lost the marker race, re-read
    // the head before the winner's (deliberately slowed) manifest
    // rename landed, and the old no-progress branch threw
    // CommitConflictException permanently. With the bounded poll the
    // loser waits the publish out and rebases; both appends land.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockslow.impl", classOf[SlowPublishFs].getName)
    val local = java.nio.file.Files
      .createTempDirectory("graft-index-slowpub").toString
    val out = s"mockslow:$local"
    val c = corpus.cache()
    try {
      val cents = graft.operators.FixedModel.centroids(c,
        Seq(0L, 10L, 20L, 30L))
      val codebooks = graft.operators.FixedModel.codebooks(cents, m = 4)
      val encoded = Pq.encode(Ivf.assign(c, cents, "embedding"),
        codebooks, "embedding")
      val third = (k: Int) => encoded.filter(col("vec_id") % 3 === k)
      IndexStore.save(third(0), cents, codebooks, out)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val race = Seq(1, 2).map { k =>
        Future {
          scala.concurrent.blocking(barrier.await())
          IndexStore.append(third(k), out)
        }
      }
      Await.result(Future.sequence(race),
        scala.concurrent.duration.Duration(120, "s"))
      assert(IndexStore.version(spark, out) == 3L)
      assert(multiset(IndexStore.loadCodes(spark, out)) == multiset(encoded))
    } finally c.unpersist()
  }

  test("a foreign or pre-versioned manifest fails with a named " +
      "unsupported-format error, not a parse crash") {
    val (_, _, _, out) = freshIndex("graft-index-fmt")
    val man = IndexStore.currentManifest(spark, out).get
    def overwrite(body: String): Unit = {
      val p = java.nio.file.Paths.get(
        s"$out/codes/_manifests/v000000001.manifest")
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    }
    // pre-versioned single-line manifest (no model=, no files)
    overwrite(man.schema.json)
    val e1 = intercept[IllegalStateException] {
      IndexStore.currentManifest(spark, out)
    }
    assert(e1.getMessage.contains("unsupported manifest format"))
    // tab-less file lines (the pre-lengths layout)
    overwrite(s"${man.schema.json}\nmodel=m-x\ncell=0/part-0.parquet")
    val e2 = intercept[IllegalStateException] {
      IndexStore.currentManifest(spark, out)
    }
    assert(e2.getMessage.contains("unsupported manifest format"))
    // non-numeric length
    overwrite(s"${man.schema.json}\nmodel=m-x\ncell=0/part-0.parquet\tbig")
    val e3 = intercept[IllegalStateException] {
      IndexStore.currentManifest(spark, out)
    }
    assert(e3.getMessage.contains("unsupported manifest format"))
  }

  test("vacuum collects settled marker-protocol residue but never a " +
      "possibly-in-flight marker above the head") {
    val (encoded, _, _, out) = freshIndex("graft-index-markergc")
    import spark.implicits._
    val ids = encoded.select("vec_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    IndexStore.delete(spark, out, ids.toDF("vec_id")) // v2 = head
    val mdir = new java.io.File(s"$out/codes/_manifests")
    def touch(name: String): java.io.File = {
      val f = new java.io.File(mdir, name)
      java.nio.file.Files.write(f.toPath, "u".getBytes("UTF-8"))
      f
    }
    // settled residue (version <= head) and in-flight residue (above)
    val settledMarker = touch(".winner-v000000002.manifest")
    val settledData = touch(".data-v000000002.manifest-uuid1")
    val tmpResidue = touch(".tmp-crashed")
    val inflightMarker = touch(".winner-v000000003.manifest")
    val inflightData = touch(".data-v000000003.manifest-uuid2")
    IndexStore.vacuum(spark, out, minAgeMs = 0L)
    assert(!settledMarker.exists && !settledData.exists && !tmpResidue.exists,
      "settled marker residue must be collected")
    assert(inflightMarker.exists && inflightData.exists,
      "a marker above the head may be an in-flight commit — keep it")
  }
}

/** Object-store rename semantics over the local filesystem: rename
  * REPLACES an existing destination instead of refusing it — the
  * hazard [[graft.operators.IndexStore.publishByMarker]] exists for.
  * Scheme "mockobj" keeps it out of every atomic-rename allowlist.
  */
private[graft] class OverwritingRenameFs
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockobj:///")
  // Modeled stores make create-no-overwrite ATOMIC (S3 conditional
  // put / If-None-Match) — the one primitive publishByMarker's
  // decision step requires. RawLocalFileSystem's exists-then-create
  // is check-then-act, so two racing marker creates could BOTH
  // "win" when a descheduled host stretched the window (observed
  // round 20: the racing-loser test lost an update — both appends
  // committed the same version). Claim the name atomically via
  // O_EXCL before opening for write.
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (!overwrite) {
      val p = java.nio.file.Paths.get(f.toUri.getPath)
      if (p.getParent != null)
        java.nio.file.Files.createDirectories(p.getParent)
      try java.nio.file.Files.createFile(p)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"$f already exists (atomic conditional put)")
      }
    }
    super.create(f, permission, true, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    // FAITHFUL object-store overwrite-rename (S3/GCS/ABFS class:
    // rename = copy + delete): an existing destination is silently
    // REPLACED — the hazard the marker protocol exists for — but a
    // MISSING source fails before the destination is touched, and a
    // successful publish replaces it atomically. One atomic move
    // models both. The earlier delete-dst-then-rename form was
    // over-adversarial in a way no modeled store behaves: it let a
    // racing completer's stale rename DELETE a live manifest after
    // losing the source to the winner.
    try {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(src.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } catch { case _: java.io.IOException => false }
  }
}

/** Object-store semantics PLUS a slow publish: every rename whose
  * destination is a manifest sleeps before landing — holding open
  * the window where a marker-race loser re-reads the head BEFORE the
  * decided winner's manifest rename completes. Pins the
  * commitWithRetry no-progress fix (a loser must wait out an
  * in-flight publish, not give up): on a fast local disk the window
  * is sub-millisecond and the old bug only fired on a degraded host.
  */
private[graft] class SlowPublishFs extends OverwritingRenameFs {
  override def getUri: java.net.URI = java.net.URI.create("mockslow:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (dst.getName.matches("v\\d+\\.manifest")) Thread.sleep(400L)
    super.rename(src, dst)
  }
}
