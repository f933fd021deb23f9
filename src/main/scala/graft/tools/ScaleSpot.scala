package graft.tools

import org.apache.spark.sql.SparkSession

/** Spot-runs a comma-separated list of declared queries at a given SF
  * dir, best-of-`reps`, and prints one JSON line per query — the
  * builder's harness for the sf1/sf10 scale-evidence artifacts.
  * Usage: runMain graft.tools.ScaleSpot <sfDir> <q1,q2,…> [reps]
  */
object ScaleSpot {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftOptimizations.install(spark)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch {
          case e: Throwable =>
            System.err.println(s"[scalespot] $name failed: $e"); -1L
        }
        // stop the clock BEFORE the cache sweep: the sweep is
        // harness hygiene, not query cost
        val dt = (System.nanoTime() - t0) / 1e9
        graft.Artifacts.dropUnpinned(spark)
        (dt, n)
      }
      // best/rows over SUCCESSFUL reps only — a failed rep returns
      // fast and would otherwise win the min and/or report rows=-1
      // even when later reps succeeded
      val ok = times.filter(_._2 >= 0)
      val best = (if (ok.nonEmpty) ok else times).map(_._1).min
      val rows = ok.headOption.map(_._2).getOrElse(-1L)
      println(f"""{"query":"$name","best_sec":$best%.3f,"rows":$rows,"reps":$reps}""")
    }
    spark.stop()
  }
}
