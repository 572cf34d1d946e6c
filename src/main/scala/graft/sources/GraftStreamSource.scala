package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TxTable

/** Streaming half of the `graft` DataSource V2: the TxTable as a
  * Structured Streaming SOURCE —
  *
  * {{{
  *   spark.readStream.format("graft").load(tablePath)
  *   spark.readStream.format("graft")
  *     .option("startingVersion", 5).load(tablePath)
  * }}}
  *
  * Offsets ARE manifest versions: micro-batch (start, end] reads
  * exactly the data files ADDED between those two snapshots —
  * O(delta) I/O per batch, never a history rescan, and replays are
  * deterministic because a version's file set is immutable. The
  * engine's checkpoint persists the version offsets, so
  * crash-restart resumes from the last committed version; pair with
  * [[graft.streaming.StreamingSink]] for exactly-once
  * table-to-table streaming.
  *
  * Contract notes:
  *  - Append-only semantics: commits that also REMOVE files
  *    (overwrite / replacePartitions / DML) surface their rewritten
  *    rows as additions, same as [[TxTable.readAppended]] — EXCEPT
  *    row-change-free layout commits (OPTIMIZE / compact, `cdf=0`),
  *    which emit nothing instead of replaying the table.
  *  - The schema is pinned at stream start (a later mergeSchema
  *    widening does not change in-flight batch schemas).
  *  - Offsets older than vacuum retention fail loudly rather than
  *    silently skipping data.
  */
private[graft] class GraftTable(path: String, spark: SparkSession,
                                  resolved: Option[GraftResolved],
                                  declaredSchema: StructType = new StructType(),
                                  writerPartitionCols: Seq[String] = Nil,
                                  changeFeed: Boolean = false) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  // a resolved partitioned snapshot declares its own layout; the
  // writer's partitionBy only matters for the table's FIRST commit
  private val partitionCols: Seq[String] =
    resolved.map(_.partitionCols).filter(_.nonEmpty)
      .getOrElse(writerPartitionCols)

  override def name: String =
    resolved.map(_.name).getOrElse(s"graft:$path (uncommitted)")

  override def schema: StructType = {
    val data = resolved.map(_.schema).getOrElse(declaredSchema)
    if (changeFeed) GraftCdf.cdfSchema(data) else data
  }

  // what the writer's partitionBy is validated against — identity
  // transforms over the declared partition columns
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionCols.map(org.apache.spark.sql.connector.expressions.Expressions
      .identity).toArray

  override def capabilities: util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  /** The REAL ParquetScanBuilder negotiates pruning/pushdown (via the
    * forwarding shim — `build()` is covariantly typed so it cannot be
    * overridden directly); only the built Scan is wrapped to add the
    * micro-batch stream entry point.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val d = resolved.getOrElse(sys.error(
      s"$path has no committed version yet — write one first"))
    // change-feed mode: the feed's column set IS the contract — a
    // fixed-schema scan (no pruning negotiation), streaming and batch
    // both planned from version windows (see GraftCdfScan)
    if (changeFeed)
      return new ScanBuilder {
        override def build(): Scan =
          new GraftCdfScan(path, spark, d.schema, options)
      }
    val inner = new ParquetScanBuilder(spark, d.fileIndex,
      d.schema, d.dataSchema, options)
    // the streamed schema is the built scan's readSchema (post-pruning),
    // not the table schema — if streaming scans ever negotiate column
    // pruning, readers emit exactly the width the scan advertises
    new org.apache.spark.sql.GraftForwardingScanBuilder(inner,
      s => new GraftStreamableScan(s, path, spark, s.readSchema(), options))
  }

  /** `df.write.format("graft").mode("append"|"overwrite").save(path)`
    * through the TxTable commit protocol, via Spark's V1 write
    * fallback ([[org.apache.spark.sql.connector.write.V1Write]], the
    * same bridge JDBC uses): executors write the parquet files exactly
    * as [[TxTable.append]]/[[TxTable.overwrite]] plan it — distributed,
    * never through the driver — and the driver's only job is the
    * manifest claim. `mode("overwrite")` arrives as `truncate()`.
    * Writes to an existing table must match its schema by name and
    * type (checked at load in [[GraftTableProvider.getTable]] and
    * re-checked here) — schema CHANGES go through the TxTable API,
    * which owns evolution semantics.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false

      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }

      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          /** `df.writeStream.format("graft").start(path)` — the native
            * micro-batch sink ([[graft.streaming.GraftStreamingWrite]]):
            * executors write per-epoch parquet (routed into the
            * table's hive layout when it has one), the driver claims
            * the files + the `txn.<queryId>=epoch` token in one
            * manifest — exactly-once across restarts. Append-only,
            * like the file sinks; the stable query id is the
            * idempotence key.
            */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!overwrite,
              "the graft streaming sink is append-only — Complete/" +
                "Update output modes are not supported")
            new graft.streaming.GraftStreamingWrite(path, info.schema(),
              info.queryId(), partitionCols)
          }

          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  ignored: Boolean): Unit = {
                // the truncate() signal, not insert's legacy flag, is
                // what Spark's V1-fallback exec drives overwrite with
                if (overwrite)
                  TxTable.overwrite(spark, path, data, partitionCols)
                else {
                  resolved.foreach { d =>
                    val norm = org.apache.spark.sql.GraftShim.nullable _
                    val have = data.schema.fields
                      .map(f => f.name -> norm(f.dataType)).toMap
                    val want = d.schema.fields
                      .map(f => f.name -> norm(f.dataType)).toMap
                    require(have == want,
                      s"append schema mismatch for $path: table has " +
                        s"${d.schema.simpleString}, write has " +
                        s"${data.schema.simpleString} — overwrite to change " +
                        "the schema, or use the TxTable API for evolution")
                  }
                  // table column order, so every footer agrees
                  val aligned = resolved.map(d =>
                    data.select(d.schema.fieldNames.map(
                      org.apache.spark.sql.functions.col).toIndexedSeq: _*))
                    .getOrElse(data)
                  TxTable.append(spark, path, aligned, partitionCols)
                }
                ()
              }
            }
        }
    }
}

/** Forwards the batch path to the inner parquet scan untouched; adds
  * the streaming path.
  */
private[sources] class GraftStreamableScan(inner: Scan, path: String,
    spark: SparkSession, pinned: StructType,
    options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: Batch = inner.toBatch
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(path, spark, pinned, options)
}

private[sources] class GraftMicroBatchStream(path: String, spark: SparkSession,
    pinned: StructType, options: CaseInsensitiveStringMap)
    extends MicroBatchStream {

  // "processed through version v" (inclusive); startingVersion=N means
  // the first batch begins at version N, i.e. offset N-1 is done.
  // startingTimestamp=T (epoch millis or ISO instant) begins at the
  // first commit stamped at-or-after T — commits before T count as
  // processed; if every retained commit predates T the stream starts
  // at the head and surfaces only future commits.
  private val startOffset: Long = {
    require(options.get("startingVersion") == null ||
      options.get("startingTimestamp") == null,
      "startingVersion and startingTimestamp are mutually exclusive")
    Option(options.get("startingVersion")).map(_.toLong - 1)
      .orElse(Option(options.get("startingTimestamp")).map { s =>
        val t = scala.util.Try(s.toLong).getOrElse(
          java.time.Instant.parse(s).toEpochMilli)
        val vs = TxTable.versions(spark, path)
        // find-LAST-at-or-before over ALL retained versions (not a
        // takeWhile, which a single clock-regressed stamp would stop
        // early, replaying already-old commits)
        val before = vs.filter(v =>
          TxTable.commitTimestamp(spark, path, v) < t)
        if (before.nonEmpty) before.max
        else if (vs.headOption.forall(_ <= 1L)) 0L
        else sys.error(
          // history vacuumed: the first retained snapshot folds in rows
          // committed BEFORE t whose manifests are gone — starting at 0
          // would silently replay them (same contract as the batch
          // side's versionAsOfTimestamp: fail loudly)
          s"startingTimestamp $t predates the earliest retained commit " +
          s"of $path (v${vs.head}) — history before it was vacuumed; " +
          "use startingVersion, or a timestamp at-or-after " +
          TxTable.commitTimestamp(spark, path, vs.head))
      })
      .getOrElse(0L)
  }

  override def initialOffset(): Offset = LongOffset(math.max(startOffset, 0L))

  override def latestOffset(): Offset =
    LongOffset(TxTable.versions(spark, path).last)

  override def deserializeOffset(json: String): Offset = LongOffset(json.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  protected def version(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().toLong
  }

  /** Files whose rows batch (fromV, toV] must emit: the UNION of each
    * commit's additions, skipping commits whose `cdf=0` token declares
    * them row-change-free (OPTIMIZE / compact) — a layout rewrite used
    * to make this source replay the WHOLE table (every rewritten file
    * looked added); now it emits nothing, which is what data-identical
    * means. Per-version iteration (not an end-to-end set diff) so a
    * file appended then compacted away WITHIN the window still emits
    * its rows exactly once: the appended file is listed even though
    * the head no longer references it (it exists until vacuum, whose
    * retention must outlast the stream — the existing contract).
    * Row-level DML commits still surface their rewritten files as
    * additions (the documented coarse behavior; use
    * [[graft.streaming.TxFollower.processChanges]] downstream of DML).
    */
  private def filesBetween(fromV: Long, toV: Long): Seq[String] = {
    val versions = TxTable.versions(spark, path)
    require(versions.contains(toV),
      s"version $toV of $path no longer exists — vacuum outran the stream")
    if (fromV > 0) require(versions.contains(fromV),
      s"checkpointed version $fromV of $path no longer exists " +
        "(vacuum retention passed) — restart from a fresh checkpoint")
    val range = versions.filter(v => v > fromV && v <= toV)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var prev: Set[String] =
      if (fromV <= 0) Set.empty
      else TxTable.snapshotFiles(spark, path, fromV).toSet
    // ONE manifest read per version: meta and file list together —
    // separate commitMeta + snapshotFiles calls would read and parse
    // every manifest in the window twice per micro-batch
    var head: Option[TxTable.Snapshot] = None
    range.foreach { v =>
      val s = TxTable.snapshotAt(spark, path, Some(v))
      val cur = s.files.toSet
      if (!s.meta.get(graft.ops.TxTable.ChangeDataMetaKey).contains("0"))
        (cur -- prev).foreach(out += _)
      prev = cur
      head = Some(s)
    }
    // a RENAME/DROP COLUMN inside the window is a silent-corruption
    // trap: the stream's schema is pinned at start, and planning later
    // commits' files with a pinned column their footers no longer
    // carry fills it with NULLS for every subsequent row, no error.
    // Detect it from the window head's declared schema (carried meta —
    // already in hand) and fail the stream loudly, like Delta does.
    head.flatMap(_.declaredSchema).foreach { ds =>
      val have = ds.fieldNames.toSet
      val missing = pinned.fieldNames.filterNot(have)
      require(missing.isEmpty,
        s"column(s) ${missing.mkString(", ")} of $path were renamed " +
        "or dropped mid-stream — the pinned stream schema cannot " +
        "serve them; restart the stream from a fresh checkpoint " +
        "against the new schema")
    }
    out.toSeq.sorted
  }

  /** Partition-aware V2 scans over exactly the delta's files, schema
    * pinned to the stream's — `basePath` + per-commit-dir grouping +
    * declared-order reprojection (see [[ScanPlanning]]), so a
    * hive-partitioned table streams its partition columns correctly
    * instead of reading them as nulls from footers that never stored
    * them. Filters stay correct because file-source pushdown is
    * advisory: Spark keeps the post-scan Filter node.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val files = filesBetween(version(start), version(end))
    val root = new org.apache.hadoop.fs.Path(path).toString
    ScanPlanning.plan(spark, root, files, pinned, options, partitioned = true)
      .map(ScanPlanning.ReorderPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // stateless: each planned partition carries its own delegate
    // factory + projection, decided at planning time per commit dir
    new ScanPlanning.ReorderReaderFactory
}
