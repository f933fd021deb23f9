package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Plan-audit utility: prints the formatted physical plan and wall
  * time for one SparkEntry query (or all), with graft's optimizer
  * rules installed like every production session. A key that fails
  * prints `[audit] <key> FAILED <message>` and the run goes on with
  * the next key. Usage:
  *
  *   runMain graft.tools.PlanAudit <queryName|all> [sfDir] [--explain]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val doExplain = args.contains("--explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftOptimizations.install(spark)
    val targets =
      if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else Seq(name -> SparkEntry.queries(name))
    targets.foreach { case (n, fn) =>
      try {
        val df = fn(spark, sfDir)
        if (doExplain) {
          println(s"===== $n =====")
          df.explain("formatted")
        }
        val t0 = System.nanoTime()
        val rows = df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[audit] $n%-28s rows=$rows%-8d ${dt}%8.2f s")
      } catch {
        case e: Exception =>
          println(s"[audit] $n FAILED " +
            String.valueOf(e.getMessage).takeWhile(_ != '\n'))
      }
      graft.Artifacts.dropUnpinned(spark)
    }
    spark.stop()
  }
}
