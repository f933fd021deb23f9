package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}

/** Per-query job/stage/task profile and result digest: how many Spark
  * jobs a query submits, how many stages and tasks they expand to, how
  * wall time splits between plan construction (the `fn(spark, sfDir)`
  * call) and execution, and a SHA-256 of the query's sorted rows.
  * Execution brings every row back with `collect()` — a `count()`
  * would let Catalyst prune the projected work away. Iterative
  * operators are job-count-bound at bench scale — this is the tool
  * that shows it; running it on two checkouts compares per-key
  * results and job counts before and after a change. A key that fails,
  * in the warm-up or the timed runs, prints `[jobprofile] <key> FAILED
  * <message>` and the run goes on with the next key.
  *
  * Usage: runMain graft.tools.JobProfile <q1,q2,...> [reps]
  * (SPARK_GRAFT_SF_DIR picks the data, SPARK_GRAFT_CPUS the local
  * parallelism — default: every core of the machine)
  */
object JobProfile {
  /** Canonical text of one value: nested rows, lists and maps render
    * element-wise (maps in key order), binary as hex — never an
    * identity hash, so equal results give equal digests.
    */
  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) -> render(x) }.sorted
        .map { case (k, x) => s"$k:$x" }.mkString("<", ",", ">")
    case x => x.toString
  }

  /** SHA-256 over the column names and the sorted rendered rows. */
  private def digest(columns: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (columns.mkString(",") +: rows.map(render).sorted).foreach { line =>
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(x => f"$x%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("graph_pagerank")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftOptimizations.install(spark)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val verbose = sys.env.get("JOBPROFILE_STAGES").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        if (verbose) {
          val i = s.stageInfo
          val dur = for {a <- i.completionTime; b <- i.submissionTime} yield a - b
          stageRows.add(f"    stage ${i.stageId}%4d ${dur.getOrElse(-1L)}%6d ms " +
            f"tasks=${i.numTasks}%4d  ${i.name.takeWhile(_ != '\n').take(90)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    def codegenStats(): (Long, Long) = {
      val m = org.apache.spark.metrics.source.CodegenMetrics
      (m.METRIC_COMPILATION_TIME.getCount,
        m.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)
    }
    spark.sparkContext.addSparkListener(listener)

    def failed(n: String, e: Throwable): Unit =
      println(s"[jobprofile] $n FAILED " +
        String.valueOf(e.getMessage).takeWhile(_ != '\n'))
    // warm once (JIT/codegen) at the tiny SF beside the profiled one,
    // like Bench does
    val warmDir = new java.io.File(sfDir).getParent + "/sf0.001"
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).collect()
      catch { case e: Exception => failed(n, e) }
    }
    graft.Artifacts.dropUnpinned(spark)
    names.foreach { n =>
      try (1 to reps).foreach { r =>
        System.gc()
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        stageRows.clear() // the warm-up's or the previous rep's stages
        val cg0 = codegenStats()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val tPlan = System.nanoTime()
        val rows = df.collect()
        val tExec = System.nanoTime()
        val cg1 = codegenStats()
        // listener bus is async: give it a beat to drain before
        // reading counters (private API would drain exactly)
        Thread.sleep(300)
        println(f"[jobprofile] $n%-28s rep $r wall=${(tExec - t0) / 1e9}%6.2fs " +
          f"plan=${(tPlan - t0) / 1e9}%5.2fs exec=${(tExec - tPlan) / 1e9}%6.2fs " +
          f"jobs=$jobs%3d stages=$stages%3d tasks=$tasks%5d taskTime=${taskMs / 1e3}%7.1fs " +
          f"cgN=${cg1._1 - cg0._1}%3d rows=${rows.length} " +
          s"sha256=${digest(df.columns.toSeq, rows)}")
        if (verbose && r == reps) {
          stageRows.forEach(s => println(s))
        }
        graft.Artifacts.dropUnpinned(spark)
      } catch {
        case e: Exception =>
          failed(n, e)
          graft.Artifacts.dropUnpinned(spark)
      }
    }
    spark.stop()
  }
}
