package graft

import org.scalatest.funsuite.AnyFunSuite

/** Warm-serve DISPATCH budget pins (VERDICT r20 next-round #3).
  *
  * Round 20's task census found the suite's warm serve dispatching
  * 9,536 tasks where 2,935 suffice — the cached-plan-partitioning
  * class: a memo cached off a groupBy keeps its build-time partition
  * count forever, and every light serve over it fans into near-empty
  * tasks (q153 was a REAL such regression, flagged by the r19 gate
  * and diagnosed only after a round of noisy-host adjudication).
  * The benchmark's traced run reports the same counts suite-wide
  * (`spark.jobs` / `.stages` / `.tasks`); this spec is the CI guard:
  * it runs the light-presentation serves warm under the shared test
  * session and asserts their job/stage/task counts stay at their
  * pinned budgets.
  *
  * Counting discipline (ADVICE r20 #4): executed stages only —
  * onStageCompleted, which skipped (cached-exchange-reused) stages
  * never reach — and a listener-bus drain around each measured run
  * instead of a fixed sleep.
  *
  * The budgets are pinned under the SharedSpark config (local[4],
  * 4 shuffle partitions, sf0.001) — the fan-out failure mode scales
  * with defaultParallelism / shuffle.partitions, so a regression that
  * would fan 32 near-empty tasks in the bench session fans 4-way here
  * and still breaks the pin. Budgets carry headroom of a task or two
  * over the measured counts, NOT a parallelism factor: a memo layout
  * regression multiplies tasks by the session parallelism and cannot
  * hide inside the slack.
  */
class TaskBudgetSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  // (query, max jobs, max executed stages, max executed tasks).
  // Pinned at the measured counts (2026-08-19, this config: q29
  // 2/2/5, q31 2/2/5, q57 1/1/1, q100 6/6/7, q153 3/3/3) plus a
  // task or two of headroom — NOT a parallelism factor, so a fan
  // regression cannot hide inside the slack.
  private val budgets = Seq(
    ("q29_minhash_sigs", 2, 2, 6),
    ("q31_simhash", 2, 3, 6),
    ("q57_dup_clusters", 1, 1, 2),
    ("q100_pagerank", 6, 7, 10),
    ("q153_ks_drift", 3, 3, 4))

  private lazy val measured: Map[String, (Long, Long, Long)] = {
    // Round 22 (ADVICE r21 #1, medium): the budgets have near-zero
    // headroom and the SparkContext is shared by every suite, so the
    // measured window must count ONLY this spec's own work: each run
    // is counted under a job group of its own by
    // `SharedSpark.dispatched` (executed stages only). Any
    // still-active streaming query from a previously-run
    // Streaming*Spec would contaminate even that via its own group-
    // less jobs — assert the context is stream-quiet first.
    assert(spark.streams.active.isEmpty,
      "TaskBudgetSpec needs a stream-quiet SparkContext: active " +
        "streaming queries dispatch concurrent jobs that contaminate " +
        s"the dispatch counters (${spark.streams.active.map(_.name).mkString(", ")})")
    // warm pass: memo builds + sizedCoalesce count jobs land here
    budgets.foreach { case (n, _, _, _) =>
      SparkEntry.queries(n)(spark, dir).count()
    }
    budgets.map { case (n, _, _, _) =>
      val d = dispatched(SparkEntry.queries(n)(spark, dir).count())
      System.err.println(s"[taskbudget] $n jobs=${d.jobs} stages=${d.stages} tasks=${d.tasks}")
      n -> (d.jobs, d.stages, d.tasks)
    }.toMap
  }

  budgets.foreach { case (name, maxJobs, maxStages, maxTasks) =>
    test(s"$name warm serve stays within its dispatch budget " +
        s"(≤$maxJobs jobs, ≤$maxStages stages, ≤$maxTasks tasks)") {
      val (j, st, ta) = measured(name)
      assert(j <= maxJobs && st <= maxStages && ta <= maxTasks,
        s"$name dispatched jobs=$j stages=$st tasks=$ta " +
          s"(budget $maxJobs/$maxStages/$maxTasks) — a memo layout " +
          "regression fans serve stages into near-empty tasks; see " +
          "MEMOS.md layout column and CachedPlans.layout")
    }
  }
}
