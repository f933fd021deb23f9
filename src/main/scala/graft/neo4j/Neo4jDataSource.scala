package graft.neo4j

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.Row

/** DataSource V2 surface for the Neo4j transactional HTTP endpoint:
  *
  * {{{
  *   spark.read.format("graft-neo4j")
  *     .schema("id LONG, name STRING")
  *     .option("url", "http://host:7474/db/data/")
  *     .option("query", "MATCH (n:User) RETURN n.id, n.name ORDER BY n.id")
  *     .option("mode", "pages")          // single | pages | keyset
  *     .option("numPartitions", "8")
  *     .load()
  *
  *   df.write.format("graft-neo4j").mode("append")
  *     .option("url", "http://host:7474/db/data/")
  *     .option("query", "UNWIND $rows AS r CREATE (n:User {id: r.id})")
  *     .save()
  * }}}
  *
  * This is the Spark-native spelling of the reference's
  * Neo4jInputFormat/Neo4jOutputFormat pair (registered formats rather
  * than programmatic calls). Both surfaces run one implementation:
  * the scan plans and reads a [[Neo4jRead]] (the page loop, request
  * checks and key ranges [[Neo4jReader]] runs) and the sinks feed an
  * [[UnwindBatcher]] (the batcher [[Neo4jWriter]] runs), so the wire
  * protocol, pagination and retry semantics are the same by
  * construction. Every fetch runs IN AN EXECUTOR TASK — including
  * `single` mode, where the one fetch happens in the one task rather
  * than on the driver. Schema is explicit by contract
  * (Cypher results are untyped JSON; the reference requires Flink
  * tuple types the same way).
  *
  * Scale notes: `pages` interleaves SKIP/LIMIT pages across
  * `numPartitions` readers; `keyset` gives each reader a disjoint key
  * range it walks with O(page) server cost per request (no deep-skip
  * scans) — the mode to use against a large store. Writes batch rows
  * into `UNWIND $param` payloads per partition; the transactional
  * endpoint commits per request, so the sink is at-least-once under
  * retry only when `idempotentWrites` is set (MERGE-style statements)
  * and fail-fast otherwise — same contract as [[Neo4jWriter]].
  * `writeStream.format("graft-neo4j")` ships the same per-partition
  * UNWIND batches per micro-batch epoch (r17); streaming REQUIRES
  * `idempotentWrites` because a failed epoch replays, and a
  * statement may reference `$graftEpoch` for replay bookkeeping.
  */
final class Neo4jTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-neo4j"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-neo4j cannot infer a schema: Cypher results are untyped JSON. " +
        "Provide one with .schema(...) — column i binds to RETURN expression i.")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new Neo4jTable(schema, properties)
}

private[neo4j] object Neo4jDataSource {
  /** The options over [[Neo4jConfig]]'s own defaults. */
  def config(o: CaseInsensitiveStringMap): Neo4jConfig = {
    val d = Neo4jConfig(require(o, "url"), require(o, "query"))
    d.copy(
      username = Option(o.get("username")),
      password = Option(o.get("password")),
      connectTimeoutMs = o.getInt("connectTimeoutMs", d.connectTimeoutMs),
      readTimeoutMs = o.getInt("readTimeoutMs", d.readTimeoutMs),
      maxRetries = o.getInt("maxRetries", d.maxRetries),
      retryBackoffMs = o.getInt("retryBackoffMs", d.retryBackoffMs),
      idempotentWrites = o.getBoolean("idempotentWrites", d.idempotentWrites))
  }

  def require(o: CaseInsensitiveStringMap, key: String): String = {
    val v = o.get(key)
    if (v == null || v.isEmpty)
      throw new IllegalArgumentException(s"graft-neo4j: missing option '$key'")
    v
  }
}

private[neo4j] final class Neo4jTable(
    schema: StructType, props: java.util.Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "graft-neo4j"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Neo4jScanBuilder(schema, withTableProps(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new Neo4jWriteBuilder(info.schema(), withTableProps(info.options()))

  /** The table properties (from the provider) overlaid with one
    * operation's options as ONE case-insensitive map: keys are folded
    * before they meet, so a key never appears twice and the
    * operation's value wins.
    */
  private def withTableProps(options: java.util.Map[String, String]): CaseInsensitiveStringMap = {
    val merged = new java.util.HashMap[String, String]()
    for (m <- Seq(props, options))
      m.forEach((k, v) => merged.put(k.toLowerCase(java.util.Locale.ROOT), v))
    new CaseInsensitiveStringMap(merged)
  }
}

// ---------------------------------------------------------------- read

private[neo4j] final class Neo4jScanBuilder(
    schema: StructType, options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = {
    val cfg = Neo4jDataSource.config(options)
    val (n, size) = (options.getInt("numPartitions", 4), options.getInt("pageSize", 10000))
    val read = options.getOrDefault("mode", "single") match {
      case "single" => Neo4jRead.Single
      case "pages"  => Neo4jRead.Pages(n, size)
      case "keyset" => Neo4jRead.Keyset(options.getLong("keysetLo", 0L),
        options.getLong("keysetHi", 0L), options.getInt("keyIndex", 0), n, size)
      case other => throw new IllegalArgumentException(
        s"graft-neo4j: unknown mode '$other' (single | pages | keyset)")
    }
    read.validate(cfg)
    new Neo4jScan(schema, cfg, read,
      Option(options.get("maxKeyQuery")).filter(_.nonEmpty),
      options.getLong("startKey", options.getLong("keysetLo", 0L)))
  }
}

private[neo4j] final class Neo4jScan(
    schema: StructType, cfg: Neo4jConfig, read: Neo4jRead,
    maxKeyQuery: Option[String], startKey: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"graft-neo4j $read ${cfg.endpoint}"

  override def planInputPartitions(): Array[InputPartition] =
    read.partitions.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new Neo4jReaderFactory(schema, cfg, read)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = read match {
    case keyset: Neo4jRead.Keyset =>
      val maxQ = maxKeyQuery.getOrElse(throw new IllegalArgumentException(
        "graft-neo4j streaming: set maxKeyQuery (e.g. " +
          "'MATCH (n:User) RETURN max(id(n))') — it polls the high-water key"))
      new Neo4jMicroBatchStream(schema, cfg, maxQ, keyset, startKey)
    case _ => throw new IllegalArgumentException(
      "graft-neo4j streaming requires mode=keyset (a monotone key is " +
        "the only offset a Cypher endpoint can tail)")
  }
}

private[neo4j] final case class Neo4jOffset(key: Long) extends Offset {
  override def json(): String = key.toString
}

/** Micro-batch streaming read — the CDC-style TAIL of an append-only
  * store with a monotonically increasing key (the id-batch pattern
  * the reference's write half produces): each trigger polls the
  * high-water key with `maxKeyQuery` (one tiny driver-side request),
  * and the batch reads exactly the `(lastOffset, latest]` key range,
  * split into the SAME disjoint keyset ranges the batch reader plans,
  * so every fetch still runs in an executor task. Offsets are plain
  * key values — restart-safe through the checkpoint, and rows are
  * read exactly once as long as the key only grows (the documented
  * contract; deletes/updates are out of scope for a tail).
  */
private[neo4j] final class Neo4jMicroBatchStream(
    schema: StructType, cfg: Neo4jConfig, maxKeyQuery: String,
    read: Neo4jRead.Keyset, startKey: Long)
    extends MicroBatchStream {

  override def initialOffset(): Offset = Neo4jOffset(startKey)

  override def latestOffset(): Offset = {
    val rows = Neo4jRead.fetch(cfg, CypherPayload.statementJson(maxKeyQuery),
      new StructType().add("key", "long"))
    val latest = rows.headOption.flatMap(_.headOption) match {
      case Some(n: Number) => n.longValue()
      case _               => startKey // empty store: stay put
    }
    Neo4jOffset(math.max(latest, startKey))
  }

  override def deserializeOffset(json: String): Offset =
    Neo4jOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    read.copy(lo = start.asInstanceOf[Neo4jOffset].key,
      hi = end.asInstanceOf[Neo4jOffset].key).partitions.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new Neo4jReaderFactory(schema, cfg, read)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[neo4j] final class Neo4jReaderFactory(
    schema: StructType, cfg: Neo4jConfig, read: Neo4jRead)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      private val rows = read.rows(cfg, schema, partition.asInstanceOf[Neo4jInputPartition])
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && {
        current = toCatalyst(Row.fromSeq(rows.next())).asInstanceOf[InternalRow]
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

// --------------------------------------------------------------- write

/** The wire parameter a streaming-write statement may reference to
  * see its micro-batch epoch (`… SET n.epoch = $graftEpoch`): bound
  * per batch only when the statement mentions it, enabling
  * statement-side replay bookkeeping on top of the MERGE idempotency
  * contract.
  */
private[neo4j] object Neo4jStreamingWrite { val EpochParam = "graftEpoch" }

private[neo4j] final class Neo4jWriteBuilder(
    schema: StructType, options: CaseInsensitiveStringMap) extends WriteBuilder {
  override def build(): Write = new Write {
    private val cfg = Neo4jDataSource.config(options)
    private val batchSize = options.getInt("batchSize", 1000)
    // fail at planning time, not per task: the statement must be an
    // UNWIND batch payload
    CypherPayload.parameterName(cfg.query)
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new Neo4jWriterFactory(schema, cfg, batchSize)
      // the transactional endpoint commits per request: there is no
      // job-level atomicity to add or roll back (same contract as the
      // reference's OutputFormat, which writes batches as it goes)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
    // Streaming write (r17 — the reference's OutputFormat shape under
    // structured streaming): each micro-batch ships the same
    // per-partition UNWIND batches as the batch path. A failed epoch
    // REPLAYS under Spark's at-least-once sink contract and the
    // transactional endpoint commits per request (no rollback), so
    // the sink REQUIRES `idempotentWrites` — the option that both
    // declares the statement MERGE-shaped (replayed batches are
    // no-ops) and marks the HTTP posts replay-safe for retry. A
    // statement may reference `$graftEpoch` to record the epoch.
    override def toStreaming: StreamingWrite = {
      require(cfg.idempotentWrites,
        "graft-neo4j streaming write: a failed epoch is replayed " +
          "(at-least-once) and the transactional endpoint commits " +
          "per request with no rollback — set idempotentWrites=true " +
          "and use a MERGE-style statement so replays are no-ops")
      new StreamingWrite {
        override def createStreamingWriterFactory(
            info: PhysicalWriteInfo): StreamingDataWriterFactory =
          new Neo4jWriterFactory(schema, cfg, batchSize)
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = ()
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }
}

private[neo4j] final case class Neo4jCommit(rows: Long) extends WriterCommitMessage

/** A sink task's writer: each record goes through one [[UnwindBatcher]],
  * the same as a [[Neo4jWriter]] partition. `extraParams` carries the
  * streaming epoch when the statement references it.
  */
private[neo4j] final class Neo4jRowWriter(
    schema: StructType, cfg: Neo4jConfig, batchSize: Int,
    extraParams: Map[String, JsonNode])
    extends DataWriter[InternalRow] {
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val batcher = new UnwindBatcher(cfg, schema.fieldNames.toSeq, batchSize, extraParams)
  private var written = 0L

  override def write(record: InternalRow): Unit = {
    batcher.add(toScala(record).asInstanceOf[Row])
    written += 1
  }
  override def commit(): WriterCommitMessage = { batcher.flush(); Neo4jCommit(written) }
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

private[neo4j] final class Neo4jWriterFactory(
    schema: StructType, cfg: Neo4jConfig, batchSize: Int)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new Neo4jRowWriter(schema, cfg, batchSize, Map.empty)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val epoch = Neo4jStreamingWrite.EpochParam
    new Neo4jRowWriter(schema, cfg, batchSize,
      if (cfg.query.contains("$" + epoch))
        Map(epoch -> JsonNodeFactory.instance.numberNode(epochId))
      else Map.empty)
  }
}
