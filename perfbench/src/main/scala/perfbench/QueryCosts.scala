package perfbench

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Times every `graft.SparkEntry` query on one table directory: the
  * data the `query_suite` selection is chosen from and rechecked
  * against. Per query: the first run (build, plan and execute: what a
  * run's set-up pays), and the median of `reps` warm runs, both as a
  * `noop` write of every column (what `query_suite` times) and as
  * `count()` (what `graft.Bench` times). Writes one tab-separated line
  * per query.
  *
  * {{{
  * java <options of run.py> -cp "$(cat .bench_build/classpath.txt)" \
  *   perfbench.QueryCosts <tables dir> <cores> <reps> <work dir> <out.tsv> [q1,q2,...]
  * }}}
  */
object QueryCosts {
  def main(args: Array[String]): Unit =
    try { run(args); Runtime.getRuntime.halt(0) }
    catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def run(args: Array[String]): Unit = {
    val Array(dir, cores, reps, work, out) = args.take(5)
    // an optional comma-separated list of query names limits the run
    val only = args.drop(5).headOption.map(_.split(",").toSet)
    val spark = Main.session("perfbench-query-costs", cores.toInt,
      Paths.get(work).toAbsolutePath)
    val lines = Seq("module\tquery\tfirst_s\tnoop_s\tcount_s") ++
      QuerySuite.modules.flatMap { m =>
        m.queries.toSeq.sortBy(_._1).filter(q => only.forall(_(q._1))).map { case (name, f) =>
          var df: DataFrame = null
          val first = seconds { df = f(spark, dir); df.write.format("noop").mode("overwrite").save() }
          def warm(action: => Unit) =
            Stats.median(Seq.fill(reps.toInt)(seconds(action)))
          val noop = warm(df.write.format("noop").mode("overwrite").save())
          val count = warm(df.count())
          System.err.println(f"[costs] $name $first%.3f $noop%.3f $count%.3f")
          f"${QuerySuite.moduleName(m)}\t$name\t$first%.4f\t$noop%.4f\t$count%.4f"
        }
      }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
  }
}
