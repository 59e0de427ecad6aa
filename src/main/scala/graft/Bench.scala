package graft
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Bench {
  // ---- host-steal calibration ------------------------------------
  // This VM intermittently loses most of its CPU to the host (the
  // same warm binary has measured 31 s and 228 s minutes apart), and
  // every round the steal-vs-regression question is re-adjudicated
  // from circumstantial evidence (uniform inflation on untouched
  // queries). Make it an instrument instead: a FIXED deterministic
  // CPU workload — 100M FNV-1a steps — timed single-threaded (core
  // frequency/steal) and on SPARK_GRAFT_CPUS threads
  // (lost-parallelism steal),
  // sampled before each timed pass and after the last. The n-thread
  // probe runs at the BENCH parallelism (SPARK_GRAFT_CPUS): this
  // box's steal manifests as a cap on EFFECTIVE cores — measured
  // here: 1 proc 0.52 s, 8 procs 0.56 s, 32 procs 1.46 s for the
  // same per-proc work during a swing that ran the suite at 1.45×
  // its cert — which low-thread probes cannot see. A pass whose
  // n-thread calibration runs well above the quiet-box reference is
  // a steal reading, no uniformity argument needed. Reference values
  // live in BASELINE.md next to the certification they were measured
  // with (the n-thread quiet reference is an EMPIRICAL pin — SMT
  // alone makes 32 threads slower than 1× even on an idle host).
  @volatile private var calibSink = 0L
  private def fnvSpin(): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < 100000000) { h ^= i; h *= 0x100000001b3L; i += 1 }
    h
  }
  private def calib1t(): Double = {
    val t0 = System.nanoTime()
    calibSink = fnvSpin()
    (System.nanoTime() - t0) / 1e9
  }
  private def calibNt(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to n).map { _ =>
      val t = new Thread(() => { calibSink = fnvSpin() })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
  // The spin probes are NOT sufficient alone: during a swing that
  // ran the suite at 1.43x its cert, calib_1t AND calib_nt both read
  // clean (~0.11-0.14 s) — this box's noise mode hits SCHEDULER and
  // task-dispatch latency (a Spark pass is thousands of short
  // tasks), which a hot loop never touches. So the operative probe
  // is a FIXED small Spark job with one shuffle — same work every
  // time, exercising the dispatch/shuffle path the suite lives on.
  private def calibSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L).selectExpr("id % 997 AS k")
      .groupBy("k").count().count()
    (System.nanoTime() - t0) / 1e9
  }

  private val mapper = new ObjectMapper()

  // ---- regression reference (hot-point rule, structural form) -----
  // The per-query regression gate compares against a COMMITTED
  // BENCH_DETAIL.json, never the working tree: the driver overwrites
  // the on-disk detail with its own (possibly steal-inflated) vector
  // after every round (VERDICT r17 #1, r18 #1), and a hot baseline
  // waves real regressions through. Round 19's driver went further
  // and COMMITTED its degraded 68.49 s vector over the 43.74 s quiet
  // cert — so reading exactly HEAD is not enough either. The rule
  // "never adjudicate against a degraded-host vector" is therefore
  // encoded in the resolver itself: walk the commits that touched
  // BENCH_DETAIL.json newest-first and take the first detail whose
  // own host_state verdict is not "degraded" (details from before
  // the host_state instrument existed have no such field and were
  // all quiet-window certs — they qualify). A degraded commit can
  // park on HEAD indefinitely without ever becoming the baseline.

  private def notDegraded(d: JsonNode): Boolean =
    Option(d.get("host_state")).map(_.asText()).forall(_ != "degraded")

  /** First candidate whose self-adjudicated host_state is not
    * "degraded" (absent field = pre-instrument quiet cert). Pure —
    * spec-tested by HotPointSpec. */
  def chooseReference(details: Iterator[JsonNode]): Option[JsonNode] =
    details.find(notDegraded)

  private def runGit(args: String*): Option[Array[Byte]] = try {
    // stderr is DISCARDed, not left on a pipe: reading stdout to EOF
    // while git blocks on a full stderr pipe buffer would deadlock
    // the gate-read step (ADVICE r19 #4). The stderr content is
    // never used — on failure we just fall through.
    val p = new ProcessBuilder(("git" +: args): _*)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
      .start()
    val out = p.getInputStream.readAllBytes()
    p.waitFor()
    if (p.exitValue() == 0 && out.nonEmpty) Some(out) else None
  } catch { case _: Throwable => None }

  /** Newest-first committed BENCH_DETAIL.json snapshots (up to 50
    * commits that touched it) as (sha, detail) pairs; unparseable
    * entries skipped. None means GIT ITSELF was unavailable — kept
    * distinct from Some(empty)/all-degraded, which must NOT fall back
    * to the working-tree file (ADVICE r20 #1: the driver overwrites
    * the on-disk detail with its own possibly steal-inflated vector,
    * so in the all-degraded case "use the disk copy" is exactly the
    * hot-baseline adjudication the hot-point rule forbids). The sha
    * travels WITH its node — the old side-effect @volatile form was
    * only correct because find() short-circuited (ADVICE r20 #3). */
  private[graft] def committedDetails(): Option[Iterator[(String, JsonNode)]] =
    runGit("log", "--format=%H", "-n", "50", "HEAD", "--",
      "BENCH_DETAIL.json").map { b =>
      val shas = new String(b, "UTF-8").split('\n').toSeq
        .map(_.trim).filter(_.nonEmpty)
      shas.iterator.flatMap { sha =>
        runGit("show", s"$sha:BENCH_DETAIL.json").flatMap { bytes =>
          try Some(sha -> mapper.readTree(bytes))
          catch { case _: Throwable => None }
        }
      }
    }

  /** Pure decision core for the regression reference — spec-tested by
    * HotPointSpec. `gitHistory = None` means git failed (only THEN may
    * the disk copy be consulted, and it gets the same host_state
    * check); `Some` with no non-degraded entry yields NO reference and
    * the per-query gate is skipped loudly. Returns (reference, log
    * message). */
  private[graft] def decideReference(
      gitHistory: Option[Iterator[(String, JsonNode)]],
      disk: () => Option[JsonNode]): (Option[JsonNode], String) =
    gitHistory match {
      case Some(pairs) =>
        var seen = 0
        pairs.find { case (_, d) => seen += 1; notDegraded(d) } match {
          case Some((sha, node)) =>
            (Some(node), s"regression reference: $sha:BENCH_DETAIL.json (newest non-degraded)")
          case None if seen == 0 =>
            // ADVICE r21 #3: an empty history (fresh repo, shallow
            // clone, detail never committed) is not "all degraded" —
            // say what actually happened
            (None, "NO regression reference: no commit in history touches " +
              "BENCH_DETAIL.json — per-query gate SKIPPED (nothing to compare against)")
          case None =>
            (None, "NO regression reference: every committed BENCH_DETAIL " +
              "in the last 50 touching commits is host_state=degraded — " +
              "per-query gate SKIPPED (hot-point rule)")
        }
      case None =>
        disk() match {
          case Some(node) if notDegraded(node) =>
            (Some(node), "regression reference: working-tree BENCH_DETAIL.json (git unavailable)")
          case Some(_) =>
            (None, "NO regression reference: git unavailable and the " +
              "working-tree BENCH_DETAIL.json is host_state=degraded — " +
              "per-query gate SKIPPED (hot-point rule)")
          case None =>
            (None, "NO regression reference: git unavailable and no readable " +
              "working-tree BENCH_DETAIL.json — per-query gate SKIPPED")
        }
    }

  /** The regression reference: newest committed non-degraded detail;
    * working-tree file only when git is unavailable (e.g. run outside
    * the repo), and only if itself non-degraded. */
  def resolveCommitted(): Option[JsonNode] = {
    def fromDisk(): Option[JsonNode] =
      try {
        val f = new java.io.File("BENCH_DETAIL.json")
        if (!f.exists) None else Some(mapper.readTree(f))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] working-tree detail read failed: $e")
        None
      }
    val (ref, msg) = decideReference(committedDetails(), fromDisk)
    System.err.println(s"[bench] $msg")
    ref
  }

  // Quiet-box calibration pins: best observed sample per probe on a
  // quiet host, carried in the committed detail and tightened
  // monotonically — but CLAMPED to at most 20% per round (ADVICE r19
  // #2: one anomalously fast sample would otherwise permanently
  // lower a pin, after which every genuine quiet run reads degraded
  // and the hot-point rule forbids the commit that would fix it).
  // Seeds are the BASELINE.md round-18 quiet observations.
  val seedPins = Map("calib_1t" -> 0.125, "calib_nt" -> 0.160, "calib_spark" -> 0.269)

  /** Monotone pin tightening with a 20%-per-round floor. Pure —
    * spec-tested by HotPointSpec. */
  def tightenPin(current: Double, bestSample: Double): Double =
    math.max(math.min(current, bestSample), 0.8 * current)

  private def pinsOf(root: Option[JsonNode]): Map[String, Double] =
    root.flatMap(r => Option(r.get("calib_pins"))).map { pn =>
      val it = pn.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
      b.result()
    }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // calib-only mode (VERDICT r19 next-round #1): run just the three
    // host-state probes + verdict — seconds, not minutes — so the
    // builder can poll the host cheaply and fire the full bench only
    // on a quiet window. No query passes, no detail write.
    val calibOnly = args.contains("calib") ||
      sys.env.get("SPARK_GRAFT_CALIB_ONLY").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Let AQE right-size CACHED-plan output partitioning (off by
      // default): a cached aggregate otherwise keeps all 32
      // post-shuffle partitions forever, and every serve stage over a
      // key-cardinality memo fans into 32 near-empty tasks — measured
      // round 20 (task census): 9536 -> 2935 tasks suite-wide, the
      // heaviest rows halving (q100 587 -> 24 tasks, q70 -0.6 s).
      // Size-based, so scale-correct by construction: a genuinely
      // large cached table keeps its partitions.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val committedRoot = resolveCommitted()
    val committedPins = pinsOf(committedRoot)
    def pin(name: String): Double = committedPins.getOrElse(name, seedPins(name))
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val calibThreads = cpus.toInt

    if (calibOnly) {
      calibSink = fnvSpin()          // JIT-warm the spin loop
      calibSpark(spark)              // warm the probe's codegen once
      val samples = (1 to 3).map(_ => (calib1t(), calibNt(calibThreads), calibSpark(spark)))
      val sparkMed = median(samples.map(_._3))
      val hostState = if (sparkMed > 1.5 * pin("calib_spark")) "degraded" else "quiet"
      def arr(f: ((Double, Double, Double)) => Double) =
        samples.map(s => f3(f(s))).mkString("[", ",", "]")
      println(s"""{"mode":"calib","host_state":${jstr(hostState)},"calib_1t":${arr(_._1)},"calib_nt":${arr(_._2)},"calib_spark":${arr(_._3)},"calib_threads":$calibThreads,"pin_spark":${f3(pin("calib_spark"))},"median_spark":${f3(sparkMed)}}""")
      spark.stop()
      return
    }

    // Warm up by executing the ENTIRE suite once untimed: a cold JVM
    // pays codegen compilation + JIT per distinct query shape, which
    // measured 2.5x on a cold run vs 1.09x warm (VERDICT r1). Timing
    // later passes measures the queries, not the compiler.
    //
    // Round 22 (VERDICT r21 next-round #8): the DataFrame each query
    // function returns is built ONCE here and reused by every timed
    // pass and retime — PLAN CONSTRUCTION is cached, never results
    // (each .count() action still re-plans adaptively and re-executes
    // every job from the parquet inputs; nothing about the data path
    // is skipped). Before, every timed pass and every retime re-ran
    // the query function (memo lookups + analysis) inside the timed
    // region; on a degraded run with 14-20 retimes that construction
    // overhead polluted the wall clock without measuring the engine.
    // Timed region change is construction-only and applies uniformly
    // to both passes, so pass-vs-pass and retime-vs-pass stay
    // comparable; recorded in OPTIMIZATION_r22.md.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val built = scala.collection.mutable.HashMap[String, org.apache.spark.sql.DataFrame]()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.count()
        built(name) = df
      } catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] $name failed: $e")
      }
    }
    // a query whose warmup failed still gets re-built per pass so its
    // error lands in the errors map exactly as before
    def dfOf(name: String): org.apache.spark.sql.DataFrame =
      built.getOrElse(name, SparkEntry.queries(name)(spark, sfDir))
    // Time `passes` full passes and report the per-query MINIMUM: the
    // VM sees host-level CPU steal (observed: the same warm binary at
    // 31 s and 228 s minutes apart), and the minimum of repeated
    // measurements estimates the true cost where a single sample
    // measures the noise. Both pass totals are recorded alongside.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(): Seq[(String, Double)] = names.map { name =>
      val t0 = System.nanoTime()
      try { dfOf(name).count() }
      catch { case e: Throwable =>
        errors(name) = e.toString.takeWhile(_ != '\n').take(200)
        System.err.println(s"[bench] QUERY FAILED $name: $e")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // JIT-warm the calibration loop once untimed, then sample it
    // around the timed passes (before each, once after the last)
    calibSink = fnvSpin()
    calibSpark(spark) // warm the probe's own codegen/JIT once
    val calibs = scala.collection.mutable.Buffer[(Double, Double, Double)]()
    val allPasses = (1 to math.max(passes, 1)).map { _ =>
      calibs += ((calib1t(), calibNt(calibThreads), calibSpark(spark)))
      timedPass()
    }
    calibs += ((calib1t(), calibNt(calibThreads), calibSpark(spark)))
    // A steal burst can hit BOTH timed passes of the same query, so the
    // min-of-2 still records noise (r8: q59 recorded 4.62 s, re-timed
    // 0.82 s on a quiet box). Any query whose pass times diverge >2x
    // (and isn't trivially fast) gets one extra timing; the reported
    // value is the min over ALL its timings.
    val byQ = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    names.foreach { n => byQ(n) = allPasses.map(_.toMap.apply(n)) }
    val retimed = names.filter { n =>
      val ts = byQ(n); ts.max > 0.15 && ts.max > 2.0 * ts.min
    }
    retimed.foreach { name =>
      val t0 = System.nanoTime()
      // append the extra timing ONLY on success: a fast failure's
      // time-to-exception must not become the query's official min
      try {
        dfOf(name).count()
        byQ(name) = byQ(name) :+ (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench-retime] $name failed: $e")
      }
    }
    val results = names.map { n => n -> byQ(n).min }
    // Per-query regression gate: BASELINE.md says "judge by per-query
    // vectors" — do it in the harness. Compare each query's min
    // against the resolved committed detail: a non-trivial query
    // whose min exceeds 2x its committed value is flagged in the
    // summary as regressed, turning the steal-vs-regression
    // adjudication into a machine check. New queries (no committed
    // value) are skipped.
    val committed: Map[String, Double] =
      committedRoot.flatMap(r => Option(r.get("queries"))).map { qn =>
        val it = qn.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }.getOrElse(Map.empty)
    // calib_spark is the operative probe (dispatch-path noise, which
    // the spin probes can't see); a run whose MEDIAN calib_spark
    // sample exceeds 1.5x its pin is machine-adjudicated
    // `host_state: degraded` — the round-18 degraded ledger read
    // 0.55-0.65 vs the 0.27-0.30 quiet pin (~2x) while both spin
    // probes sat flat, so 1.5x separates the two states with margin.
    val regressed = results.filter { case (n, v) =>
      committed.get(n).exists(old => v > 0.15 && v > 2.0 * old)
    }.map(_._1)
    regressed.foreach { n =>
      System.err.println(
        f"[bench] REGRESSED $n: ${byQ(n).min}%.3f s vs committed ${committed(n)}%.3f s")
    }
    // The driver records only a fixed-size tail of the sbt output, so
    // the summary line must stay SHORT: per-query keys are shortened
    // to their unique `qNN` prefix and values rounded to ms. The full
    // names + full precision + per-pass timings go to a sidecar file.
    val prefixCounts = names.groupBy(_.takeWhile(_ != '_'))
      .view.mapValues(_.size).toMap
    // collision guard: if two queries ever share a qNN prefix, keep
    // their full names — duplicate JSON keys would silently drop one
    // timing (parsers keep last-wins)
    def short(n: String) = {
      val p = n.takeWhile(_ != '_')
      if (p.matches("q\\d+") && prefixCounts(p) == 1) p else n
    }
    val qs = results.map { case (k, v) => s"${jstr(short(k))}:${f3(v)}" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(short(k))}:${jstr(v.take(60))}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val passTotals = allPasses.map(p => f3(p.map(_._2).sum)).mkString("[", ",", "]")
    val calib1Json = calibs.map(c => f3(c._1)).mkString("[", ",", "]")
    val calibNJson = calibs.map(c => f3(c._2)).mkString("[", ",", "]")
    val calibSparkJson = calibs.map(c => f3(c._3)).mkString("[", ",", "]")
    // Machine host-state verdict (median calib_spark vs its quiet pin)
    // + clamped monotone pin tightening for the next committed detail.
    val sparkMed = median(calibs.map(_._3).toSeq)
    val hostState = if (sparkMed > 1.5 * pin("calib_spark")) "degraded" else "quiet"
    System.err.println(f"[bench] host_state=$hostState (median calib_spark $sparkMed%.3f vs pin ${pin("calib_spark")}%.3f)")
    val newPins = Map(
      "calib_1t" -> tightenPin(pin("calib_1t"), calibs.map(_._1).min),
      "calib_nt" -> tightenPin(pin("calib_nt"), calibs.map(_._2).min),
      "calib_spark" -> tightenPin(pin("calib_spark"), calibs.map(_._3).min))
    val pinsJson = newPins.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${f3(v)}" }.mkString("{", ",", "}")
    val detailPath = "BENCH_DETAIL.json"
    val detail = {
      val dq = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      val passes = allPasses.map(p =>
        p.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val de = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
      val rt = retimed.map(n =>
        s"${jstr(n)}:${byQ(n).map(v => f3(v)).mkString("[", ",", "]")}")
        .mkString("{", ",", "}")
      val rg = regressed.map(n =>
        s"${jstr(n)}:${committed(n)}").mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$dq,"passes":$passes,"pass_totals":$passTotals,"errors":$de,"n_failed":${errors.size},"retimed":$rt,"regressed_vs_committed":$rg,"calib_1t":$calib1Json,"calib_nt":$calibNJson,"calib_spark":$calibSparkJson,"calib_threads":$calibThreads,"calib_pins":$pinsJson,"host_state":${jstr(hostState)},"sf":${jstr(sfDir)}}"""
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // Summary-line diet (VERDICT r20 next-round #5): the driver
    // records only a bounded tail of the output, so the stdout
    // summary keeps scalars — calib MEDIANS instead of the sample
    // arrays, pass totals moved to the detail sidecar (which keeps
    // the full arrays, per-pass vectors and pins). The contract keys
    // (metric/value/unit/queries/sf) are unchanged.
    val calib1Med = median(calibs.map(_._1).toSeq)
    val calibNMed = median(calibs.map(_._2).toSeq)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"errors":$errJson,"n_failed":${errors.size},"n_retimed":${retimed.size},"n_regressed":${regressed.size},"calib_1t_med":${f3(calib1Med)},"calib_nt_med":${f3(calibNMed)},"calib_spark_med":${f3(sparkMed)},"calib_threads":$calibThreads,"host_state":${jstr(hostState)},"detail":${jstr(detailPath)},"sf":"$sfDir"}""")
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
