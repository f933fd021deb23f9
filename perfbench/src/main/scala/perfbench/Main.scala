package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.neo4j.{Neo4jConfig, Neo4jReader, Neo4jWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One public entry-point call whose full result is brought back to
  * the driver. `build` is the call that defines the result, `execute`
  * brings it back, `check` compares it with the expected rows (run
  * outside the op's timing) and returns an error or None.
  */
trait Op {
  def name: String
  def build(): DataFrame
  def execute(df: DataFrame): Array[Row]
  def check(rows: Array[Row], df: DataFrame): Option[String]
  /** Rows the op moved, for the result-size counts. */
  def resultRows(rows: Array[Row]): Long = rows.length.toLong
}

/** Benchmark driver JVM: set-up, one untimed warm-up pass, then a timed
  * phase of `--passes` whole passes over the workload's ops, and more
  * whole passes only while the phase is shorter than `--seconds`. With
  * `--trace 1` a second, traced phase follows, and the first one only
  * serves as the untraced baseline of `trace.overhead`. Everything
  * measured is written as JSON to `<out>/jvm.json`.
  */
object Main {
  private val mapper = new ObjectMapper()

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    val out = Paths.get(a("out"))
    Files.createDirectories(out.resolve("results"))
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftOptimizations.install(spark)
    val sessionReadyMs = System.currentTimeMillis()

    val stub = new Neo4jStub(cores)
    val inputsStart = System.nanoTime()
    val ops = Workloads(a("workload"), spark, a("data"), a("connector-rows"), stub, cores,
      out.resolve("results"))
    val inputsJvmS = (System.nanoTime() - inputsStart) / 1e9

    val warmStart = System.nanoTime()
    val warmErrors = mutable.ArrayBuffer[String]()
    val warmOps = mutable.ArrayBuffer[(String, Double)]()
    ops.flatten.foreach { op =>
      val t = System.nanoTime()
      try op.execute(op.build())
      catch { case e: Throwable => warmErrors += s"${op.name}: ${e.getMessage}" }
      warmOps += op.name -> (System.nanoTime() - t) / 1e9
      Runner.dropCaches(spark)
    }
    val warmupS = (System.nanoTime() - warmStart) / 1e9

    val runner = new Runner(spark, ops, seed, a("passes").toInt, a("seconds").toDouble, stub)
    val firstOpMs = System.currentTimeMillis()
    val untraced = runner.phase(traced = false)
    val tracedPhase = if (traced) Some(runner.phase(traced = true)) else None

    val root = mapper.createObjectNode()
    root.put("workload", a("workload"))
    val setup = root.putObject("setup")
    setup.put("setup_s", (firstOpMs - a("t0-ms").toLong) / 1e3)
    setup.put("session_s", (sessionReadyMs - a("launch-ms").toLong) / 1e3)
    setup.put("inputs_s", a("inputs-s").toDouble + inputsJvmS)
    setup.put("warmup_s", warmupS)
    val we = setup.putArray("warmup_errors")
    warmErrors.foreach(we.add)
    val wo = setup.putObject("warmup_op_s")
    warmOps.foreach { case (k, v) => wo.put(k, v) }
    root.set[ObjectNode]("untraced", untraced)
    tracedPhase.foreach(p => root.set[ObjectNode]("traced", p))
    val sql = root.putObject("oracle_sql")
    ops.flatten.map(_.name).distinct.foreach { k =>
      graft.SparkEntry.oracleSql.get(k).foreach(sql.put(k, _))
    }
    Files.write(out.resolve("jvm.json"), mapper.writeValueAsBytes(root))
    stub.close()
    spark.stop()
  }
}

/** Timed phases over one workload. */
final class Runner(spark: SparkSession, units: Seq[Seq[Op]], seed: Long, passes: Int,
    seconds: Double, stub: Neo4jStub) {
  private val sc = spark.sparkContext
  private val mapper = new ObjectMapper()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private val epochMs0 = System.currentTimeMillis()
  private val nanos0 = System.nanoTime()
  private def ms(ns: Long): Double = epochMs0 + (ns - nanos0) / 1e6
  private var nextId = 0

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private final case class Counters(artifactBuilds: Long, compiles: Long, compileNs: Long,
      gcMs: Long, persistent: collection.Set[Int])

  private def counters() = Counters(graft.Artifacts.buildCount,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    gcMs, sc.getPersistentRDDs.keySet)

  /** Op order of one pass: the units shuffled by the seed and the pass. */
  private def order(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(units).flatten

  def phase(traced: Boolean): ObjectNode = {
    val trace = new Trace
    if (traced) { sc.addSparkListener(trace); stub.recordSpans = true }
    val node = mapper.createObjectNode()
    val opsOut = node.putArray("ops")
    var checkNs, checkCpuNs = 0L
    val stubCounters = Seq("requests" -> stub.requests, "request_bytes" -> stub.requestBytes,
      "response_bytes" -> stub.responseBytes, "rows_written" -> stub.rowsWritten,
      "rows_read" -> stub.rowsRead, "failed_requests" -> stub.failed, "busy_ns" -> stub.busyNs)
    val stub0 = stubCounters.map(_._2.get)
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var pass = 0
    val recs = mutable.ArrayBuffer[ObjectNode]()
    val spanInfo = mutable.ArrayBuffer[(Int, ObjectNode, Long, Long, Long)]()
    while (pass < passes || System.nanoTime() - t0 < seconds * 1e9) {
      order(pass).foreach { op =>
        val id = nextId
        nextId += 1
        val r = opsOut.addObject()
        r.put("op", op.name); r.put("pass", pass)
        val before = if (traced) {
          sc.setJobGroup(s"op-$id", op.name)
          stub.currentOp = id
          Some(counters())
        } else None
        val s0 = System.nanoTime()
        var sb = s0
        var df: DataFrame = null
        var rows: Array[Row] = Array.empty
        var error: Option[String] = None
        try {
          df = op.build()
          sb = System.nanoTime()
          rows = op.execute(df)
        } catch {
          case e: Throwable =>
            if (sb == s0) sb = System.nanoTime()
            error = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        }
        val s1 = System.nanoTime()
        r.put("latency_s", (s1 - s0) / 1e9)
        r.put("build_s", (sb - s0) / 1e9)
        r.put("rows", op.resultRows(rows))
        before.foreach { b =>
          sc.clearJobGroup()
          stub.currentOp = -1
          val a = counters()
          r.put("artifact_builds", a.artifactBuilds - b.artifactBuilds)
          r.put("codegen_compiles", a.compiles - b.compiles)
          r.put("codegen_compile_s", (a.compileNs - b.compileNs) / 1e9)
          r.put("jvm_gc_s", (a.gcMs - b.gcMs) / 1e3)
          r.put("leaked_rdds", (a.persistent -- b.persistent).count(!graft.Artifacts.isPinned(_)))
          r.put("storage_mb", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
          if (df != null) Runner.catalyst(df, r)
          spanInfo += ((id, r, s0, sb, s1))
        }
        val c0 = System.nanoTime()
        val cc0 = threads.getCurrentThreadCpuTime
        if (error.isEmpty)
          error = try op.check(rows, df) catch {
            case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        error.foreach(r.put("error", _))
        checkCpuNs += threads.getCurrentThreadCpuTime - cc0
        val c1 = System.nanoTime()
        r.put("check_s", (c1 - c0) / 1e9)
        checkNs += c1 - c0
        Runner.dropCaches(spark)
        recs += r
      }
      pass += 1
    }
    val wall = System.nanoTime() - t0
    val cpu = os.getProcessCpuTime - cpu0 - checkCpuNs
    val gc = gcMs - gc0
    val heap = Runner.retainedHeap()
    node.put("passes", pass)
    node.put("ops_n", recs.size)
    node.put("wall_s", wall / 1e9)
    node.put("check_s", checkNs / 1e9)
    node.put("ops_per_s", recs.size / ((wall - checkNs) / 1e9))
    node.put("cpu_s_per_op", cpu / 1e9 / recs.size)
    node.put("jvm_gc_s", gc / 1e3)
    node.put("retained_heap_mb", heap / 1048576.0)
    val neo = node.putObject("neo4j")
    stubCounters.zip(stub0).foreach { case ((k, c), v0) => neo.put(k, c.get - v0) }
    if (traced) {
      org.apache.spark.BenchAccess.drainListeners(sc)
      sc.removeSparkListener(trace)
      stub.recordSpans = false
      val stubSpans = stub.spans.asScala.toSeq.groupBy(_._1)
      stub.spans.clear()
      spanInfo.foreach { case (id, r, s0, sb, s1) =>
        val c = trace.counts(id)
        val (lo, mid, hi) = (ms(s0), ms(sb), ms(s1))
        val jobs = Spans.union(Spans.clip(c.jobSpans.map(j => (j._1.toDouble, j._2.toDouble)).toSeq, lo, hi))
        val reqs = Spans.union(Spans.clip(
          stubSpans.getOrElse(id, Nil).map(s => (ms(s._2), ms(s._3))), lo, hi))
        val jobMs = Spans.length(jobs)
        val reqInJobs = Spans.overlap(jobs, reqs)
        r.put("jobs", c.jobs); r.put("stages", c.stages); r.put("tasks", c.tasks)
        r.put("build_jobs", c.jobSpans.count(_._1 < mid))
        r.put("job_active_s", jobMs / 1e3)
        r.put("sched_delay_s", c.schedDelayMs / 1e3)
        r.put("task_run_s", c.runMs / 1e3)
        r.put("task_cpu_s", c.cpuNs / 1e9)
        r.put("task_gc_s", c.gcMs / 1e3)
        r.put("input_rows", c.inputRows)
        r.put("input_mb", c.inputBytes / 1048576.0)
        r.put("shuffle_read_mb", c.shuffleRead / 1048576.0)
        r.put("shuffle_write_mb", c.shuffleWrite / 1048576.0)
        r.put("spill_mb", c.spill / 1048576.0)
        r.put("persisted_rdds", c.persisted.size)
        // self time of each layer: its span minus what its children cover
        r.put("self_build_s", (mid - lo - Spans.overlap(Seq((lo, mid)), jobs)) / 1e3)
        r.put("self_execute_s", (hi - mid - Spans.overlap(Seq((mid, hi)), jobs)) / 1e3)
        r.put("self_spark_job_s", (jobMs - reqInJobs) / 1e3)
        r.put("self_neo4j_s", reqInJobs / 1e3)
        r.put("driver_only_s", (hi - lo - jobMs) / 1e3)
      }
    }
    node
  }
}

object Runner {
  /** Driver heap in use after full GCs. Spark's ContextCleaner frees
    * unreachable RDDs, shuffles and broadcasts on its own thread once a
    * GC has found them, so this collects again, with a pause for the
    * cleaner, until a GC frees less than 1 MB (at most five rounds).
    */
  def retainedHeap(): Long = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    System.gc()
    var heap = used
    var prev = Long.MaxValue
    var rounds = 1
    while (rounds < 5 && prev - heap > (1L << 20)) {
      Thread.sleep(100)
      System.gc()
      prev = heap
      heap = used
      rounds += 1
    }
    heap
  }

  /** Between-op hygiene: drop cached frames and every persistent RDD
    * that is not a pinned session artifact.
    */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!graft.Artifacts.isPinned(id)) rdd.unpersist(false)
    }
  }

  /** Planning phases and graft rule activity of the op's final query. */
  def catalyst(df: DataFrame, r: ObjectNode): Unit = {
    val t = df.queryExecution.tracker
    val ph = t.phases
    def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    r.put("analysis_s", phase("analysis"))
    r.put("optimize_s", phase("optimization"))
    r.put("physical_s", phase("planning"))
    val graftRules = t.rules.filter(_._1.startsWith("graft."))
    r.put("rule_s", graftRules.values.map(_.totalTimeNs).sum / 1e9)
    r.put("rule_calls", graftRules.values.map(_.numInvocations).sum)
    r.put("rule_effective", graftRules.values.map(_.numEffectiveInvocations).sum)
  }
}

/** The op lists of the workloads. Each inner Seq is one unit that keeps
  * its order within a pass (a connector export and its import).
  */
object Workloads {
  /** Every seventh of the 94 declared Cypher read keys, in name order,
    * from the first. The read keys are the `cypher_` keys whose names
    * mark neither a write (create, merge, set_, remove, delete, foreach,
    * call_in_tx, write) nor an iterative path loop (shortest, sp_,
    * allsp, walk, qpp, quantified, var_expand, var_rel, weighted, path).
    * The list is fixed here so that a key added later does not change
    * what the benchmark measures.
    */
  val cypherRead: Seq[String] = Seq(
    "cypher_agg_functions", "cypher_catalog", "cypher_collect_subquery",
    "cypher_datetime_tz_alias", "cypher_expand", "cypher_label_disjunction", "cypher_map_proj",
    "cypher_multi_match", "cypher_pattern_pred", "cypher_rel_props", "cypher_skip_limit",
    "cypher_sub_topk", "cypher_type_of", "cypher_with_agg")
  /** An iterative graph algorithm (label propagation), a Cypher
    * var-length path loop and a Cypher write, each one of the cheaper
    * declared keys of its kind so that 40 timed ops fit in a run; the
    * connector round trip is added as one unit.
    */
  val graphLoopsEtl: Seq[String] = Seq(
    "graph_label_prop", "cypher_var_expand", "cypher_create_node")

  def apply(name: String, spark: SparkSession, dir: String, connectorRows: String,
      stub: Neo4jStub, cores: Int, results: java.nio.file.Path): Seq[Seq[Op]] = {
    val refs = mutable.HashMap[String, String]()
    def q(key: String): Seq[Op] = Seq(new QueryOp(key, spark, dir, refs, results))
    name match {
      case "cypher_read" => cypherRead.map(q)
      case "graph_loops_etl" =>
        graphLoopsEtl.map(q) :+ Connector(spark, Paths.get(connectorRows), stub, cores)
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** `SparkEntry.queries(key)` with every row collected. The first timed
  * result of a key is written out for the oracle compare; every later
  * one must have the same digest.
  */
final class QueryOp(key: String, spark: SparkSession, dir: String,
    refs: mutable.Map[String, String], results: java.nio.file.Path) extends Op {
  private val fn = graft.SparkEntry.queries(key)
  def name: String = key
  def build(): DataFrame = fn(spark, dir)
  def execute(df: DataFrame): Array[Row] = df.collect()
  def check(rows: Array[Row], df: DataFrame): Option[String] = {
    val lines = Results.lines(rows, df.schema)
    val d = Results.digest(lines)
    refs.get(key) match {
      case Some(ref) => if (ref == d) None else Some("result differs from the first run of this key")
      case None =>
        refs(key) = d
        val header = Results.columns(df.schema).map("\"" + _ + "\"").mkString("[", ",", "]")
        Files.write(results.resolve(s"$key.jsonl"),
          (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        None
    }
  }
}

/** Connector round trip: `Neo4jWriter.write` exports a frame as
  * `UNWIND … MERGE` batches to the stub, then `Neo4jReader.readPartitioned`
  * reads it back page by page. Both must reproduce the source rows.
  */
object Connector {
  private val Cols = Seq("key", "ord", "price", "flag")
  private val Schema = StructType(Seq(StructField("key", LongType), StructField("ord", LongType),
    StructField("price", DoubleType), StructField("flag", StringType)))

  /** `rowsFile` holds the source rows as a JSON array of
    * `[key, ord, price, flag]` arrays: lineitem rows drawn by the seed,
    * keyed by their position in the file.
    */
  def apply(spark: SparkSession, rowsFile: java.nio.file.Path, stub: Neo4jStub,
      cores: Int): Seq[Op] = {
    val rows = new ObjectMapper().readTree(rowsFile.toFile).elements().asScala.map { r =>
      Row(r.get(0).asLong(), r.get(1).asLong(), r.get(2).asDouble(), r.get(3).asText())
    }.toVector
    // built on first use, in the warm-up, like every other op's frames
    lazy val src = spark.createDataFrame(rows.asJava, Schema).repartition(cores)
    val expected = Results.lines(rows.toArray, Schema)
    val writeCfg = Neo4jConfig(stub.uri,
      "UNWIND $rows AS r MERGE (o:Line {key: r.key}) SET o += r")
    val readCfg = Neo4jConfig(stub.uri,
      "MATCH (o:Line) RETURN o.key, o.ord, o.price, o.flag ORDER BY o.key")
    def differs(got: Array[String], what: String): Option[String] =
      if (got.sameElements(expected)) None
      else Some(s"$what ${got.length} rows, source has ${expected.length}; " +
        s"${got.diff(expected).length} missing or extra")

    val write = new Op {
      def name = "neo4j_write"
      def build(): DataFrame = src
      def execute(df: DataFrame): Array[Row] = {
        stub.clear()
        Neo4jWriter.write(df, writeCfg, Cols, batchSize = 1000)
        Array.empty
      }
      override def resultRows(rows: Array[Row]): Long = stub.storedRows.size.toLong
      def check(rows: Array[Row], df: DataFrame): Option[String] = {
        val stored = stub.storedRows.map { n =>
          Row(n.get("key").asLong(), n.get("ord").asLong(), n.get("price").asDouble(),
            n.get("flag").asText())
        }.toArray
        differs(Results.lines(stored, Schema), "stub stored")
      }
    }
    val read = new Op {
      def name = "neo4j_read"
      def build(): DataFrame =
        Neo4jReader.readPartitioned(spark, readCfg, Schema, numPartitions = cores, pageSize = 1000)
      def execute(df: DataFrame): Array[Row] = df.collect()
      def check(rows: Array[Row], df: DataFrame): Option[String] =
        differs(Results.lines(rows, Schema), "read back")
    }
    Seq(write, read)
  }
}
