package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TxTable

/** The TxTable change feed as a Structured Streaming source — Delta's
  * streaming CDF:
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("readChangeFeed", "true")
  *     [.option("startingVersion", 3)]
  *     .load(tablePath)
  * }}}
  *
  * Each micro-batch (start, end] serves exactly the CHANGE ROWS of the
  * commits in that version window, stamped `_change_type` /
  * `_commit_version` / `_commit_timestamp` — row-for-row what the
  * batch [[TxTable.readChanges]] returns for the same window (the
  * parity is pinned by test). Per commit, the same three-way contract
  * as the batch side:
  *
  *  - row-level DML commits read their `cdf=<uuid>` change files
  *    (already tagged insert / update_preimage / update_postimage /
  *    delete) — I/O proportional to the CHANGED rows;
  *  - layout commits (`cdf=0`) emit nothing;
  *  - pre-CDF commits (append / overwrite / restore) fall back to
  *    file-granular capture: rows of added files tagged "insert",
  *    rows of removed files "delete".
  *
  * Offsets are manifest versions (identical to the non-CDF stream),
  * so the engine checkpoint makes restarts exactly-once: a batch is
  * re-planned from its immutable version window, never re-derived
  * from mutable state. Batch reads (`spark.read` with the same
  * option) serve `[startingVersion, endingVersion|head]` through the
  * same planner.
  *
  * The change columns are appended by the READER (a per-partition
  * constant join), not by per-file rewrite: change files cannot embed
  * `_commit_version` because the version is only claimed AFTER the
  * files are written (optimistic concurrency).
  */
private[sources] object GraftCdf {

  /** `_change_type` + `_commit_version` + `_commit_timestamp` appended
    * to the data schema — the shape both the batch and streaming CDF
    * readers emit, matching [[TxTable.readChanges]] column order.
    */
  def cdfSchema(data: StructType): StructType =
    StructType(data.fields ++ Array(
      StructField(TxTable.ChangeTypeCol, StringType, nullable = false),
      StructField(TxTable.CommitVersionCol, LongType, nullable = false),
      StructField(TxTable.CommitTimestampCol, TimestampType,
        nullable = false)))

  /** One partition of change rows: the planned delegate (with its own
    * factory + declared-order projection, see [[ScanPlanning]]) plus
    * the per-commit constants its reader appends. `changeType == null`
    * marks change-file partitions (they carry `_change_type`
    * themselves); fallback data-file partitions get the constant tag.
    */
  final case class CdfPartition(part: ScanPlanning.PlannedPart,
                                changeType: String,
                                version: Long,
                                tsMillis: Long) extends InputPartition

  /** Plan the change partitions of `(fromV, toV]` — the shared planner
    * behind both the micro-batch and the batch CDF paths. Fallback
    * data-file reads go through the same partition-aware scanning as
    * the batch reader (`basePath` + reprojection to declared order),
    * so hive-partitioned tables surface their partition columns
    * correctly; change files carry every column physically and are
    * scanned as leaf files.
    */
  def planPartitions(spark: SparkSession, path: String, dataSchema: StructType,
                     options: CaseInsensitiveStringMap,
                     fromV: Long, toV: Long): Array[InputPartition] = {
    val vs = TxTable.versions(spark, path)
    require(vs.nonEmpty, s"$path is not a TxTable (no committed versions)")
    if (!vs.contains(toV)) {
      // a toV beyond the head is a caller error (bad endingVersion),
      // not vacuum — misdiagnosing it as retention loss sends users
      // chasing the wrong fix
      require(toV <= vs.last,
        s"endingVersion $toV of $path does not exist — the head is " +
        s"version ${vs.last}")
      sys.error(
        s"version $toV of $path no longer exists — vacuum outran the stream")
    }
    // every version in (fromV, toV] must be retained — a vacuum-created
    // gap would silently SKIP its DML commits (row-level change files
    // need no baseline, so the fallback's loud no-baseline error never
    // fires for them). Same guard as the batch readChanges
    // (TxTable.scala:941).
    require(fromV == 0 || fromV + 1 >= vs.head,
      s"changes in ($fromV, ${vs.head - 1}] of $path were vacuumed — the " +
      s"change feed cannot resume from version $fromV; restart from a " +
      s"fresh checkpoint or startingVersion ${vs.head}")
    val root = new org.apache.hadoop.fs.Path(path).toString
    val range = vs.filter(v => v > fromV && v <= toV)
    // one manifest read per version across the whole plan: its
    // timestamp, change-data token and files come from one snapshot, and
    // the fallback arm's v-1 baseline is the previous iteration's
    // snapshot (the prev = cur pattern of filesBetween,
    // GraftStreamSource.scala:279) — without it a long pre-CDF history
    // reads every manifest twice
    var lastRead: Option[TxTable.Snapshot] = None
    range.flatMap { v =>
      val before = lastRead.filter(_.v == v - 1)
      val s = TxTable.snapshotAt(spark, path, Some(v))
      lastRead = Some(s)
      val ts = TxTable.commitTimestampOf(s)
      s.meta.get(TxTable.ChangeDataMetaKey) match {
        case Some("0") => Nil // row-change-free commit
        case Some(uuid) =>
          ScanPlanning.plan(spark, root,
              TxTable.changeDataFiles(spark, path, uuid),
              withTypeSchema(dataSchema), options, partitioned = false)
            .map(CdfPartition(_, null, v, ts))
        case None =>
          // file-granular fallback — same baseline rules as the batch
          // readChanges: no baseline at v<=1; a vacuumed v-1 is exact
          // only for a full-history read (fromV = 0)
          val prev =
            if (v - 1 <= 0) Set.empty[String]
            else if (!vs.contains(v - 1)) {
              if (fromV == 0) Set.empty[String]
              else sys.error(
                s"version ${v - 1} of $path was vacuumed — file-granular " +
                s"change capture for v$v has no baseline to diff against")
            } else before.getOrElse(
              TxTable.snapshotAt(spark, path, Some(v - 1))).files.toSet
          val cur = s.files
          val added = cur.filterNot(prev)
          val removed = (prev -- cur.toSet).toSeq.sorted
          def tagged(files: Seq[String], tag: String): Seq[InputPartition] =
            ScanPlanning.plan(spark, root, files, dataSchema, options,
                partitioned = true)
              .map(CdfPartition(_, tag, v, ts))
          tagged(added, "insert") ++ tagged(removed, "delete")
      }
    }.toArray
  }

  private def withTypeSchema(data: StructType): StructType =
    StructType(data.fields :+
      StructField(TxTable.ChangeTypeCol, StringType, nullable = true))

  /** Stateless: each [[CdfPartition]] carries its own delegate factory
    * and projection; this factory appends the per-commit constants via
    * a [[JoinedRow]] — row path only (`supportColumnarReads` stays
    * false), which is the right trade for change feeds: the volume is
    * the CHANGED rows, not the table.
    */
  final class CdfReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = {
      val cp = p.asInstanceOf[CdfPartition]
      val inner = ScanPlanning.openReader(cp.part)
      // change files carry _change_type themselves → append (version,
      // ts); fallback data files get all three constants appended
      val consts: Array[Any] =
        if (cp.changeType == null)
          Array(cp.version, cp.tsMillis * 1000L)
        else
          Array(UTF8String.fromString(cp.changeType), cp.version,
            cp.tsMillis * 1000L)
      val constRow = new GenericInternalRow(consts)
      new PartitionReader[InternalRow] {
        private val joined = new JoinedRow
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = joined(inner.get(), constRow)
        override def close(): Unit = inner.close()
      }
    }
  }
}

/** The CDF scan: fixed schema (no pruning negotiation — the feed's
  * contract IS its column set), streaming via version-window planning,
  * batch via the same planner over `[startingVersion, endingVersion]`.
  */
private[sources] class GraftCdfScan(path: String, spark: SparkSession,
    dataSchema: StructType, options: CaseInsensitiveStringMap)
    extends Scan {

  override def readSchema(): StructType = GraftCdf.cdfSchema(dataSchema)

  override def description(): String = s"graft-cdf:$path"

  override def toBatch: Batch = batch

  // planned once per scan: Spark asks a scan for its batch and the
  // batch for its partitions more than once per query
  private lazy val batch: Batch = new Batch {
    private lazy val parts = {
      val fromV =
        Option(options.get("startingVersion")).map(_.toLong - 1).getOrElse(0L)
      val toV = Option(options.get("endingVersion")).map(_.toLong)
        .getOrElse(TxTable.versions(spark, path).last)
      GraftCdf.planPartitions(spark, path, dataSchema, options, fromV, toV)
    }
    override def planInputPartitions(): Array[InputPartition] = parts
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftCdf.CdfReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdfMicroBatchStream(path, spark, dataSchema, options)
}

/** Micro-batch CDF stream: identical offset algebra to the non-CDF
  * [[GraftMicroBatchStream]] (offsets ARE versions; startingVersion /
  * startingTimestamp honored), only the batch CONTENT differs — change
  * rows instead of added-file rows.
  */
private[sources] class GraftCdfMicroBatchStream(path: String,
    spark: SparkSession, dataSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends GraftMicroBatchStream(path, spark, dataSchema, options) {

  override def planInputPartitions(start: org.apache.spark.sql.connector.read.streaming.Offset,
                                   end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] =
    GraftCdf.planPartitions(spark, path, dataSchema, options,
      version(start), version(end))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdf.CdfReaderFactory
}
