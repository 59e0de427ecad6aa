package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor index — the scale
  * path for similarity search (q26 models the cell with a precomputed
  * label; this trains the real coarse quantizer).
  *
  * Design for 100 TB: the MODEL (k centroids × d dims) is tiny and
  * lives on the driver / in broadcast literals; everything that
  * touches the corpus is a distributed single-pass DataFrame op built
  * from codegen'd array lambdas (zip_with/aggregate/transform — no
  * UDFs). Training assignment is one scan per Lloyd iteration;
  * centroid update is a (cell, dim)-keyed avg — k·d tiny groups.
  * Search probes nProbe cells: on a corpus PARTITIONED BY cell this
  * prunes the scan to nProbe/k of the data before any arithmetic.
  */
object Ivf {

  /** Squared-L2 distances from `vecCol` to each centroid, as an array
    * column expression. The per-dimension arithmetic runs in the
    * codegen'd `vec_l2_sq` kernel (graft.functions.VecExpressions) —
    * the outer transform only iterates the k centroids.
    */
  private def distsExpr(vecCol: String): String =
    s"transform(__cents, c -> vec_l2_sq(CAST($vecCol AS ARRAY<DOUBLE>), c))"

  private def withCentroids(df: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    graft.functions.VecFunctions.register(df.sparkSession)
    df.withColumn("__cents", typedlit(cents))
  }

  /** Nearest-centroid cell id for every row (0-based). */
  def assign(df: DataFrame, cents: Seq[Seq[Double]], vecCol: String): DataFrame =
    withCentroids(df, cents)
      .withColumn("__d", expr(distsExpr(vecCol)))
      .withColumn("cell",
        expr("CAST(array_position(__d, array_min(__d)) - 1 AS INT)"))
      .drop("__cents", "__d")

  /** Lloyd's k-means: deterministic init (first k rows by `idCol`),
    * distributed assignment + per-(cell,dim) mean, `iters` rounds.
    * Returns the k centroids (driver-side model). Works on any
    * numeric array column (float or double).
    */
  def train(spark: SparkSession, embeddings: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): Seq[Seq[Double]] =
    lloyd(embeddings, k, iters, vecCol, idCol, identity)

  /** Shared Lloyd loop: `roundMean` post-processes every updated
    * centroid component (identity for [[train]], lattice rounding for
    * [[trainLattice]]) — ONE loop so init, tie-break, and empty-cell
    * semantics cannot diverge between the two trainers.
    */
  private[operators] def lloyd(embeddings: DataFrame, k: Int, iters: Int,
      vecCol: String, idCol: String, roundMean: Double => Double)
      : Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = embeddings.orderBy(idCol).limit(k)
      .select(vecCol).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue).toSeq).toSeq
    (1 to iters).foreach { _ =>
      val means = assign(embeddings, cents, vecCol)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .view.mapValues(rows => rows.sortBy(_.getInt(1))
          .map(r => roundMean(r.getDouble(2))).toSeq)
        .toMap
      // empty cells keep their previous centroid
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** [[train]] with centroids rounded to the INTEGER LATTICE after
    * every mean update (floor(m + 0.5) — one fixed rule, applied to
    * identical doubles everywhere). With integer-valued inputs this
    * makes the whole Lloyd loop REPRODUCIBLE: every distance and
    * every mean numerator is a sum of integer-valued float64 terms
    * below 2^53 — exact in ANY accumulation order — so two runs on
    * different partitionings/cluster topologies (or a re-train months
    * later) produce a bit-identical model, where float means drift by
    * summation order and cascade into different assignments next
    * round. Accuracy cost ≤ 0.5 per dimension — noise against
    * quantized-embedding components (~1e6 quanta). Inputs must be
    * integer-valued (e.g. the 1e6-quantized corpus); the oracle-gated
    * q94 certifies this loop against an engine-independent twin.
    */
  def trainLattice(spark: SparkSession, embeddings: DataFrame, k: Int,
      iters: Int, vecCol: String = "embedding", idCol: String = "vec_id")
      : Seq[Seq[Double]] =
    lloyd(embeddings, k, iters, vecCol, idCol, m => math.floor(m + 0.5))

  /** The query-side probe selection shared by [[search]] and the
    * composed IVF-PQ path (q103): per query the `nProbe` nearest
    * centroid cells (distance then cid tie-break), one output row
    * per (query, probed cell) with the raw vector carried along.
    */
  def probeCells(queries: DataFrame, cents: Seq[Seq[Double]], nProbe: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    withCentroids(queries, cents)
      .withColumn("__d", expr(distsExpr(vecCol)))
      .withColumn("probe", explode(expr(
        s"""transform(slice(array_sort(zip_with(__d, sequence(0, size(__d) - 1),
           |  (d, i) -> struct(d AS d, i AS i))), 1, $nProbe), s -> s.i)""".stripMargin)))
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"),
        col("probe").cast("int").as("cell"))

  /** The OPERATING-CURVE form of [[probeCells]]: every (query, cell)
    * pair with the cell's distance RANK for that query (1 = nearest;
    * distance then cid tie-break — the same lexicographic struct sort
    * as [[probeCells]], so `crank <= nProbe` reproduces its probe set
    * exactly). One row per query per cell (k·|Q| rows — model-sized),
    * so a sweep over nProbe values is a filter on ONE table instead
    * of one probe run per setting — the shape a recall-vs-nProbe
    * tuning audit (q136) wants.
    */
  def probeCellsRanked(queries: DataFrame, cents: Seq[Seq[Double]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    withCentroids(queries, cents)
      .withColumn("__d", expr(distsExpr(vecCol)))
      .withColumn("pr", explode(expr(
        """zip_with(array_sort(zip_with(__d, sequence(0, size(__d) - 1),
          |  (d, i) -> struct(d AS d, i AS i))), sequence(1, size(__d)),
          |  (s, r) -> struct(s.i AS cell, r AS crank))""".stripMargin)))
      .select(col(idCol).as("q_id"), col("pr.cell").cast("int").as("cell"),
        col("pr.crank").cast("int").as("crank"))

  /** Deterministic driver-side k-means over the CENTROIDS themselves —
    * the second level of the two-level assignment hierarchy. The
    * model is k×d doubles (driver-sized by construction), so this is
    * plain sequential Scala: init = stride-spread picks (cents(i·k/g),
    * deterministic), argmin assignment with smaller-super-id
    * tie-break, component means, `iters` rounds, empty groups keep
    * their previous center. Returns (g supercenters, member cid list
    * per supercenter — every cid appears exactly once; member lists
    * are sorted ascending).
    */
  def superCluster(cents: Seq[Seq[Double]], g: Int, iters: Int = 3)
      : (Seq[Seq[Double]], Seq[Seq[Int]]) = {
    require(g >= 1 && g <= cents.size,
      s"superCluster needs 1 <= g <= k, got g=$g k=${cents.size}")
    val k = cents.size
    var sup: Seq[Seq[Double]] =
      (0 until g).map(i => cents((i.toLong * k / g).toInt))
    def l2sq(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def assignAll(): Array[Int] =
      cents.map { c =>
        var best = 0; var bd = l2sq(c, sup(0)); var j = 1
        while (j < g) {
          val d = l2sq(c, sup(j))
          if (d < bd) { bd = d; best = j } // strict: ties keep smaller j
          j += 1
        }
        best
      }.toArray
    var asg = assignAll()
    (1 to iters).foreach { _ =>
      val groups = asg.zipWithIndex.groupBy(_._1)
      sup = sup.indices.map { j =>
        groups.get(j) match {
          case Some(members) =>
            val ids = members.map(_._2)
            cents.head.indices
              .map(d => ids.map(i => cents(i)(d)).sum / ids.length)
          case None => sup(j)
        }
      }
      asg = assignAll()
    }
    val members = (0 until g).map(j =>
      asg.zipWithIndex.collect { case (a, i) if a == j => i }.toSeq)
    (sup, members)
  }

  /** MEDOID-STRIDE supercluster model — the SQL-replicable hierarchy
    * the oracle-gated recall row certifies: supercenters are g
    * stride-spread picks FROM THE MODEL ITSELF (cents(j·k/g) — no
    * second training step, so an engine-independent twin can
    * reconstruct them from the same table), and each centroid joins
    * its nearest supercenter (exact squared-L2 on the model vectors,
    * ties to the smaller super id). [[superCluster]]'s k-means
    * refinement routes better and is the production default at real
    * scale; this form trades a little routing quality for exact
    * cross-engine reconstructibility.
    */
  def superClusterMedoid(cents: Seq[Seq[Double]], g: Int)
      : (Seq[Seq[Double]], Seq[Seq[Int]]) = {
    require(g >= 1 && g <= cents.size,
      s"superClusterMedoid needs 1 <= g <= k, got g=$g k=${cents.size}")
    val k = cents.size
    val sup = (0 until g).map(j => cents((j.toLong * k / g).toInt))
    def l2sq(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val asg = cents.map { c =>
      var best = 0; var bd = l2sq(c, sup(0)); var j = 1
      while (j < g) {
        val d = l2sq(c, sup(j))
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      best
    }
    val members = (0 until g).map(j =>
      asg.zipWithIndex.collect { case (a, i) if a == j => i }.toSeq)
    (sup, members)
  }

  /** TWO-LEVEL (hierarchical) nearest-centroid assignment — the scale
    * fix for [[assign]]'s O(n·k) per-row distance fan-out, which
    * dominates SemDeDup-class audits once k grows with the corpus
    * (BASELINE.md SCALING, round 16: assignment-dominated at
    * n=200k, k=800). Route each vector to its `probeSuper` nearest
    * of g = ⌈√k⌉ supercenters ([[superCluster]] on the model,
    * driver-side), then argmin only over those supers' member
    * centroids: ~g + probeSuper·k/g ≈ (1+probeSuper)·√k distances
    * per row instead of k — O(n·√k).
    *
    * APPROXIMATE by construction (the true nearest centroid can sit
    * in an unprobed super); the gated q211 row certifies exact
    * agreement with [[assign]] on its corpus+model via the q219
    * inner-join device, and tie-breaks mirror [[assign]] exactly
    * (min (distance, cid) — same exact integer-component distances,
    * so agreement is decided by geometry, not float noise).
    */
  def assignHierarchical(df: DataFrame, cents: Seq[Seq[Double]],
      vecCol: String, probeSuper: Int = 2,
      model: Option[(Seq[Seq[Double]], Seq[Seq[Int]])] = None): DataFrame = {
    require(probeSuper >= 1,
      s"assignHierarchical needs probeSuper >= 1 (got $probeSuper): " +
        "an empty probe slice would silently assign every row a NULL cell")
    val g = math.ceil(math.sqrt(cents.size.toDouble)).toInt
    val (sup0, members0) = model.getOrElse(superCluster(cents, g))
    // an EMPTY supercluster (possible when k-means leaves a group with
    // no members) contributes no candidates — probing it would waste a
    // probe slot and, if every probed super were empty, produce a NULL
    // cell. Drop empty supers from the routing table (at least one is
    // non-empty: every cid is assigned somewhere).
    val keep = members0.indices.filter(j => members0(j).nonEmpty)
    val (sup, members) = (keep.map(sup0), keep.map(members0))
    val p = math.min(probeSuper, sup.size)
    graft.functions.VecFunctions.register(df.sparkSession)
    df.withColumn("__cents", typedlit(cents))
      .withColumn("__sup", typedlit(sup))
      .withColumn("__mem", typedlit(members))
      // nearest p supercenters (distance then super-id tie-break)
      .withColumn("__probed", expr(
        s"""transform(slice(array_sort(zip_with(
           |  transform(__sup, sc -> vec_l2_sq(CAST($vecCol AS ARRAY<DOUBLE>), sc)),
           |  sequence(0, size(__sup) - 1), (d, i) -> struct(d AS d, i AS i))),
           |  1, $p), s -> s.i)""".stripMargin))
      // argmin over the probed supers' member centroids: (d, cid) min
      .withColumn("cell", expr(
        s"""array_sort(transform(
           |  flatten(transform(__probed, j -> element_at(__mem, j + 1))),
           |  c -> struct(vec_l2_sq(CAST($vecCol AS ARRAY<DOUBLE>),
           |                        element_at(__cents, c + 1)) AS d,
           |              c AS i)))[0].i""".stripMargin).cast("int"))
      .drop("__cents", "__sup", "__mem", "__probed")
  }

  /** Top-k cosine search probing the `nProbe` nearest cells per query.
    * `corpus` must carry the `cell` column from [[assign]]; queries
    * are assigned their probe cells ([[probeCells]]) and broadcast.
    */
  def search(spark: SparkSession, corpus: DataFrame, cents: Seq[Seq[Double]],
      queries: DataFrame, topK: Int, nProbe: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val probed = probeCells(queries, cents, nProbe, vecCol, idCol)
    val dot = "vec_dot_d(CAST(qv AS ARRAY<DOUBLE>), CAST(cv AS ARRAY<DOUBLE>))"
    def norm(c: String) =
      s"sqrt(vec_dot_d(CAST($c AS ARRAY<DOUBLE>), CAST($c AS ARRAY<DOUBLE>)))"
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("c_id"))
    corpus.select(col(idCol).as("c_id"), col(vecCol).as("cv"), col("cell"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("cosine", expr(s"$dot / (${norm("qv")} * ${norm("cv")})"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "c_id", "cosine")
  }
}
