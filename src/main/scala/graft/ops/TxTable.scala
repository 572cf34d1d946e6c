package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema
import org.apache.spark.sql.functions.{abs, coalesce, col, collect_set, count, explode, expr, from_json, input_file_name, lit, not, pmod, sequence, struct, sum, to_json, when, xxhash64}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets

/** Minimal transaction-log table format over parquet — the core idea of
  * Delta/Iceberg reduced to its essentials (the offline image carries no
  * Delta jars, so the log is implemented directly).
  *
  * Every commit is an immutable, versioned MANIFEST listing the data
  * files that make up that snapshot; readers resolve the newest manifest
  * and scan exactly those files. Data files are write-once — a commit
  * never mutates or deletes files an earlier version references — so a
  * reader that resolved version N keeps a consistent snapshot while a
  * writer commits N+1. This closes the [[Sinks.swapInto]] window where a
  * reader racing a directory swap can see a missing or half-renamed
  * table (the reference's copy-then-delete publish has the same window,
  * `aws-job-landing-to-bronze/aws-job-landing-to-bronze.py:85-106`).
  *
  * Layout:
  * {{{
  *   <table>/data/<uuid>/part-*.parquet   one immutable dir per commit
  *   <table>/_txlog/v00000000001.manifest newline-separated, first line
  *                                        is the action, then one
  *                                        relative file path per line
  * }}}
  *
  * Each file line may carry a tab-separated stats suffix (see the file
  * stats section). Among its tokens is the id of the Spark row schema
  * the file's data dir was written with; the head line's carried
  * `graft.dataschema.<id>` keys map each id a live line uses to that
  * schema's JSON — the per-file half of Delta's `metaData` action, so
  * readers pin the schema instead of asking Spark to infer it from a
  * footer (a one-task job per read).
  *
  * Commit protocol: (1) write the new data files, (2) write the full
  * manifest (head line carries the action AND a per-commit nonce) to a
  * tmp name, (3) atomically claim the next free version slot. The claim
  * is the commit point. On local FS the claim is a hard link
  * (`Files.createLink` — O_EXCL semantics: exactly one concurrent
  * committer can create the slot name, losers get
  * FileAlreadyExistsException). On HDFS it is `rename` (atomic, fails
  * when the destination exists) followed by a nonce read-back as
  * defense in depth against filesystems whose rename clobbers.
  * Concurrency is optimistic (Delta's protocol): every operation reads
  * ONE snapshot of the log at its start — one `_txlog` listing, one
  * manifest read — builds its commit on it and claims the snapshot's
  * version + 1 straight away. Claims are serialized by the slot, so a
  * won claim proves the snapshot was still the head. Only a lost claim
  * reads the log again and rebuilds on the NEW head (an append keeps
  * the winner's files; concurrent overwrites are last-committer-wins).
  * On stores with neither primitive (S3 proper) a real deployment swaps
  * step 3 for a conditional PUT.
  *
  * At 100 TB the manifest stays small (file paths, not data) and the
  * driver-side log I/O is O(files per snapshot) — the same order as the
  * file listing a plain parquet read already does, but consistent.
  */
object TxTable {

  private val LogDir = "_txlog"
  private def manifestName(v: Long) = f"v$v%011d.manifest"
  private val ManifestRe = "v(\\d{11})\\.manifest".r

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    // every operation starts here, before Spark copies the session's
    // Hadoop conf into a write task or a scan broadcast
    GraftShim.dropConfProvenance(spark)
    val p = new Path(path)
    (FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration), p)
  }

  /** True iff `path` holds at least one committed version. */
  def exists(spark: SparkSession, path: String): Boolean =
    versions(spark, path).nonEmpty

  /** Committed versions, ascending (empty for a nonexistent table). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, p) = fsFor(spark, path)
    val log = new Path(p, LogDir)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq.flatMap(s => s.getPath.getName match {
      case ManifestRe(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** Head line is `<action> [key=value ...] <nonce>`; nonce identifies
    * the winning committer (pre-nonce manifests with a bare action still
    * parse). The optional `key=value` tokens carry commit metadata —
    * notably the idempotence token streaming writes use (see
    * [[commitMeta]]).
    */
  private def readManifest(fs: FileSystem, p: Path, v: Long): (String, Seq[String]) = {
    val in = fs.open(new Path(new Path(p, LogDir), manifestName(v)))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
               finally in.close()
    val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    (lines.head, lines.tail)
  }

  /** One read of the log, taken once at the start of an operation and
    * passed down so no layer lists `_txlog` or reads the manifest again:
    * the version it is (None for a path with no commits yet), its
    * manifest's head line, parsed meta, and file lines.
    */
  private[graft] final case class Snapshot(
      spark: SparkSession, path: String, fs: FileSystem, root: Path,
      version: Option[Long], headLine: String, lines: Seq[String]) {
    lazy val meta: Map[String, String] = parseMeta(headLine)
    /** The version, 0 before the first commit. */
    def v: Long = version.getOrElse(0L)
    def declaredSchema: Option[StructType] = declaredSchemaOf(meta)
    def partitionCols: Option[Seq[String]] = declaredPartitionColsOf(meta)
    def constraints: Map[String, String] = effectiveConstraints(meta)
    /** Absolute data-file paths. */
    def files: Seq[String] = lines.map(l => new Path(root, pathOf(l)).toString)
    /** The row schema recorded for every file, if one is, as a file scan
      * resolves it (every field nullable).
      */
    def recordedSchema: Option[StructType] = recordedSchemaOf(meta, lines)
      .map(r => GraftShim.nullable(r).asInstanceOf[StructType])
  }

  /** The snapshot of version `at`, or of the head — the one `_txlog`
    * listing and manifest read an operation makes. Refuses a path with
    * no commits unless `orEmpty`, which gives the empty snapshot a first
    * commit builds on.
    */
  private def snapshot(spark: SparkSession, path: String,
                       at: Option[Long] = None,
                       orEmpty: Boolean = false): Snapshot = {
    val (fs, p) = fsFor(spark, path)
    val v = at.orElse(versions(spark, path).lastOption)
    require(v.isDefined || orEmpty,
      s"$path is not a TxTable (no $LogDir manifests)")
    val (head, lines) = v.fold(("", Seq.empty[String]))(readManifest(fs, p, _))
    Snapshot(spark, path, fs, p, v, head, lines)
  }

  /** [[snapshot]] of a version a caller named (the head when None): a
    * missing version is refused by name. The `graft` source resolves a
    * read from this one snapshot.
    */
  private[graft] def snapshotAt(spark: SparkSession, path: String,
                                at: Option[Long],
                                orEmpty: Boolean = false): Snapshot =
    try snapshot(spark, path, at, orEmpty)
    catch { case e: java.io.FileNotFoundException =>
      require(false, s"version ${at.mkString} of $path does not exist"); throw e }

  /** A public version argument: `v >= 0` is that version, else the head. */
  private def at(v: Long): Option[Long] = Option.when(v >= 0)(v)

  /** Metadata tokens of version `v`'s commit: the `key=value` pairs its
    * writer embedded in the manifest head line (empty for commits written
    * without metadata). Used by
    * [[graft.streaming.StreamingSink]] to make `foreachBatch` appends
    * idempotent — the committed (txnApp, txnVersion) pair lives in the
    * same atomic unit as the file list, so a replayed micro-batch is
    * detected no matter where the previous attempt crashed.
    */
  def commitMeta(spark: SparkSession, path: String, v: Long): Map[String, String] =
    snapshot(spark, path, Some(v)).meta

  /** Epoch-millis commit time of version `v`: the `ts` token its
    * committer stamped into the head line. Manifests written before
    * timestamps existed fall back to the manifest FILE's modification
    * time — the same degraded resolution Delta applies to its log.
    */
  def commitTimestamp(spark: SparkSession, path: String, v: Long): Long =
    commitTimestampOf(snapshot(spark, path, Some(v)))

  /** [[commitTimestamp]] of a snapshot in hand — for loops that hold
    * the manifest (e.g. [[readChanges]], the change-feed source), so
    * stamping a version doesn't re-read the manifest it just read.
    */
  private[graft] def commitTimestampOf(s: Snapshot): Long =
    s.meta.get(TimestampMetaKey)
      .flatMap(t => scala.util.Try(t.toLong).toOption)
      .getOrElse(s.fs.getFileStatus(new Path(new Path(s.root, LogDir),
        manifestName(s.v))).getModificationTime)

  /** `TIMESTAMP AS OF` resolution: the newest retained version whose
    * commit time is <= `tsMillis`. Errors when the timestamp predates
    * the earliest retained commit (same contract as Delta — silently
    * resolving to the oldest version would hide vacuumed history).
    * Scans commit times newest-first, so the common "recent timestamp"
    * probe reads O(1) manifests, not O(history).
    */
  def versionAsOfTimestamp(spark: SparkSession, path: String,
                           tsMillis: Long): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"$path is not a TxTable (no $LogDir manifests)")
    // newest first, each manifest read once: the error names the oldest
    // commit's time, which the exhausted search already read
    val times = LazyList.from(vs.reverse).map(v => v -> commitTimestamp(spark, path, v))
    times.find(_._2 <= tsMillis).map(_._1).getOrElse(sys.error(
      s"timestamp $tsMillis predates the earliest retained commit of " +
      s"$path (v${vs.head} at ${times.last._2})"))
  }

  /** The DECLARED logical schema carried in version `v`'s manifest
    * (head when `v < 0`) — present once [[create]] or [[evolveSchema]]
    * has run; None for tables whose schema lives only in footers.
    */
  def declaredSchema(spark: SparkSession, path: String,
                     v: Long = -1L): Option[StructType] =
    snapshot(spark, path, at(v), orEmpty = true).declaredSchema

  /** The partition columns version `v`'s manifest declares (head when
    * `v < 0`): `Some(Nil)` = declared flat, `None` = no declaration
    * (pre-declaration table — resolve the layout from file paths).
    */
  def declaredPartitionCols(spark: SparkSession, path: String,
                            v: Long = -1L): Option[Seq[String]] =
    snapshot(spark, path, at(v), orEmpty = true).partitionCols

  private def declaredSchemaOf(meta: Map[String, String]): Option[StructType] =
    meta.get(SchemaMetaKey).map(j => schemaFromJson(dec(j)))

  private def schemaFromJson(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[StructType]

  private def declaredPartitionColsOf(
      meta: Map[String, String]): Option[Seq[String]] =
    meta.get(PartitionsMetaKey)
      .map(s => dec(s).split(',').toSeq.filter(_.nonEmpty))

  /** The layout a REWRITE must preserve: the caller's explicit columns,
    * else whatever the head's `meta` declares — so SQL DML and
    * maintenance statements on a partitioned table keep its layout
    * without being told the columns (a flat rewrite of a hive layout
    * would break directory pruning and replacePartitions semantics).
    */
  private def layoutOrDeclared(meta: Map[String, String],
                               partitionCols: Seq[String]): Seq[String] =
    if (partitionCols.nonEmpty) partitionCols
    else declaredPartitionColsOf(meta).getOrElse(Nil)

  /** Create an EMPTY table as a metadata-only commit carrying the
    * declared schema (and partition columns): no data file is written —
    * the manifest owns the metadata, so `CREATE TABLE (cols)` followed
    * by INSERT needs no zero-row placeholder file, and an empty
    * PARTITIONED table (hive layouts produce no files for zero rows)
    * is representable at all.
    */
  def create(spark: SparkSession, path: String, schema: StructType,
             partitionCols: Seq[String] = Nil): Long = {
    val s = snapshot(spark, path, orEmpty = true)
    require(s.version.isEmpty, s"graft table $path already exists")
    val missing = partitionCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition columns ${missing.mkString(",")} not in schema " +
        schema.simpleString)
    // pinned to version 0: the require above is check-then-act — of two
    // concurrent creators, the loser's claim-loop retry would land its
    // "create" as v2, silently replacing the winner's declared schema.
    // The pin makes the loser fail as "already exists", which is what
    // the catalog/SQL surfaces promise.
    metaCommit(s, "create",
      Map(SchemaMetaKey -> enc(schema.json),
        PartitionsMetaKey -> enc(partitionCols.mkString(","))),
      ReadSet(version = Some(0L)))
  }

  /** Widen the table's declared schema as a metadata-only commit —
    * `ALTER TABLE ADD COLUMNS`, manifest-owned (Delta's `metaData`
    * action): no data file is touched; readers of the head (and every
    * later version, via carried meta) see the new schema, with files
    * written before the evolution surfacing the added columns as null.
    * Strictly widening by construction: every current column must keep
    * its type, every added column must be nullable — renames, drops,
    * and retypes would need data rewrite or column mapping and are
    * refused loudly.
    */
  def evolveSchema(spark: SparkSession, path: String,
                   newSchema: StructType): Long = {
    val s = snapshot(spark, path)
    val current = tableSchema(s)
    val byName = newSchema.fields.map(f => f.name -> f).toMap
    current.fields.foreach { f =>
      val n = byName.getOrElse(f.name, sys.error(
        s"schema evolution cannot DROP column ${f.name} of $path — " +
        "rewrite via overwrite instead"))
      require(n.dataType == f.dataType,
        s"schema evolution cannot retype ${f.name} of $path: " +
        s"${f.dataType.simpleString} -> ${n.dataType.simpleString}")
      // nullability may only WIDEN: declaring a currently-nullable
      // column non-null would pin a false non-null contract on files
      // that already hold nulls (Catalyst would fold IsNotNull filters
      // against it — wrong results, not just a failed write)
      require(n.nullable || !f.nullable,
        s"schema evolution cannot narrow ${f.name} of $path to " +
        "non-nullable (existing files may hold nulls)")
    }
    val currentNames = current.fieldNames.toSet
    newSchema.fields.filterNot(f => currentNames.contains(f.name)).foreach(
      f => require(f.nullable,
        s"added column ${f.name} must be nullable (existing rows have " +
        "no value for it)"))
    metaCommit(s, "evolve", Map(SchemaMetaKey -> enc(newSchema.json)))
  }

  /** Rename a data column — the honest no-column-mapping semantics:
    * one copy-on-write overwrite commit carrying the rewritten files
    * and the renamed declared schema, atomic under the same slot
    * claim as any commit. (Delta without column mapping requires the
    * same rewrite; a metadata-only rename would need logical→physical
    * name indirection through every read, stats, and DML path — cost
    * moved, not removed.) The commit declares `cdf=0`: no ROW changed,
    * exactly like a compaction. Time travel still reads old versions
    * under the old name (each version pins its own declared schema).
    *
    * Refuses: partition columns (that rewrite is a relayout — do it
    * explicitly), a `to` that already exists, and a rename out from
    * under a CHECK constraint that references the column (drop it
    * first — silently rewriting constraint SQL is how wrong data gets
    * committed). A bloom or clustering config naming the column is
    * renamed in the same commit.
    */
  /** Does a CHECK expression reference `colName`, bare or
    * backtick-quoted? NO backtick in the lookarounds: a quoted
    * reference (`` `bal` > 0 ``) must be caught too, else a
    * rename/drop strands the constraint over a nonexistent column and
    * wedges every later data commit. Word chars alone still keep
    * 'bal' from matching inside 'balance' (bare or quoted). Shared by
    * [[renameColumn]] and [[dropColumn]] so their refusal semantics
    * can never drift.
    */
  private def constraintReferences(expr: String, colName: String): Boolean =
    ("""(?i)(?<![A-Za-z0-9_])""" +
      java.util.regex.Pattern.quote(colName) +
      """(?![A-Za-z0-9_])""").r.findFirstIn(expr).nonEmpty

  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Long = {
    require(from != to, "rename to the same name is a no-op — refusing")
    rewriteColumn(spark, path, from, Some(to))
  }

  /** Drop a data column — [[renameColumn]]'s sibling with the same
    * honest no-column-mapping semantics: one copy-on-write overwrite
    * commit carrying the rewritten files and the narrowed declared
    * schema, atomic under the same slot claim, `cdf=0` (no ROW
    * changed). Time travel still reads old versions WITH the column
    * (each version pins its own declared schema), so the drop is not
    * an erasure — an overwrite + [[vacuum]] is the data-destruction
    * path.
    *
    * Refuses: partition columns (relayout — do it as an explicit
    * overwrite), the last remaining column, and a drop out from under
    * a CHECK constraint referencing the column bare or backtick-quoted
    * (the [[renameColumn]] guard). A bloom or clustering config naming
    * the column loses it in the same commit (an emptied config is
    * dropped).
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    rewriteColumn(spark, path, name, None)

  /** The shared core of [[renameColumn]] (`to` = the new name) and
    * [[dropColumn]] (`to` = None): refuse, then rewrite the snapshot as
    * one `cdf=0` commit pinned to it, with `name` renamed or dropped in
    * the bloom and clustering configs too. The pin matters: the rewrite
    * keeps no base line, so a concurrent commit landing before the
    * claim would otherwise be dropped (or its schema or layout erased).
    */
  private def rewriteColumn(spark: SparkSession, path: String, name: String,
                            to: Option[String]): Long = {
    val s = snapshot(spark, path)
    val rows = readSnapshot(s, mergeSchema = true)
    val schema = s.declaredSchema.getOrElse(rows.schema)
    require(schema.fieldNames.contains(name),
      s"no column '$name' in $path (has ${schema.fieldNames.mkString(", ")})")
    to.foreach(t => require(!schema.fieldNames.contains(t),
      s"column '$t' already exists in $path"))
    val parts = s.partitionCols.getOrElse(Nil)
    require(!parts.contains(name),
      s"'$name' is a partition column — " +
        (if (to.isDefined) "renaming" else "dropping") +
        " it relayouts every file path; do that as an explicit overwrite")
    // a drop must leave at least one NON-partition column: partition
    // values live in the path, so a table of only partition columns has
    // no bytes to write (Spark refuses all-columns-as-partitions with an
    // opaque error deep in the write — refuse here with the real one)
    require(to.isDefined ||
        schema.fields.exists(f => f.name != name && !parts.contains(f.name)),
      s"cannot drop '$name' of $path: it is the last data " +
        "(non-partition) column")
    s.constraints.foreach { case (n, e) =>
      require(!constraintReferences(e, name),
        s"CHECK constraint $n references '$name' — drop it before " +
          (if (to.isDefined) "renaming" else "dropping the column"))
    }
    // a config naming the column follows it; an emptied one is dropped
    def renamed(cols: Seq[String], key: String, suffix: String) = {
      val rest = cols.flatMap(c => if (c == name) to.toSeq else Seq(c))
      Option.when(cols.contains(name))(key ->
        (if (rest.isEmpty) "" else enc(rest.mkString(",") + suffix)))
    }
    val configs = bloomConfigOf(s.meta).flatMap { case (cols, bits, k) =>
      renamed(cols, BloomMetaKey, s":$bits:$k") } ++
      renamed(clusteringOf(s.meta), ClusterMetaKey, "")
    val newSchema = StructType(schema.fields.flatMap(f =>
      if (f.name == name) to.map(t => f.copy(name = t)) else Some(f)))
    commit(s, to.fold(rows.drop(name))(rows.withColumnRenamed(name, _)),
      if (to.isDefined) "rename" else "dropcol", (_, _) => Seq.empty, parts,
      meta = configs.toMap ++ Map(SchemaMetaKey -> enc(newSchema.json),
        ChangeDataMetaKey -> "0"),
      read = ReadSet(version = s.version))
  }

  // ------------------------------------------------------ CHECK constraints
  //
  // Table-level CHECK constraints, Delta-style: declared once as
  // carried manifest meta (`graft.constraint.<name>` — the `graft.`
  // prefix makes every later commit carry them forward), enforced on
  // EVERY data commit. SQL semantics: a row violates iff the
  // expression evaluates to FALSE — NULL passes, exactly like SQL
  // CHECK. [[commit]] counts violations INSIDE its write job, as
  // Delta checks constraints inside the write plan: the frame is
  // written through `Dataset.observe` with one FALSE-count per
  // constraint ([[violationCounts]]), so the rows counted are exactly
  // the rows written — no second job, no re-evaluation of a possibly
  // nondeterministic input frame. Each constraint sees the frame
  // projected to the table's declared schema, as a read of the written
  // files would. After the write, before the slot claim, a violating
  // commit deletes its data dir and throws; nothing is ever visible to
  // readers. Constraints checked are those of the head when the commit
  // starts; that set rides in the commit's read set, so a commit whose
  // constraint set moved before its claim aborts. Files a commit did not
  // write — existing rows under ADD CONSTRAINT, copied-in files,
  // streaming-file commits — are counted by the same observed counter
  // over one `noop` scan: one job, no shuffle.

  private[ops] val ConstraintMetaPrefix = "graft.constraint."

  /** The table's active CHECK constraints, name → SQL expression. */
  def constraints(spark: SparkSession, path: String): Map[String, String] =
    snapshot(spark, path).constraints

  /** The ACTIVE constraint set carried in a head's meta tokens
    * (tombstoned = dropped = absent), decoded name -> expression.
    */
  private def effectiveConstraints(
      metaMap: Map[String, String]): Map[String, String] =
    metaMap.collect {
      case (k, v) if k.startsWith(ConstraintMetaPrefix) && v.nonEmpty =>
        k.stripPrefix(ConstraintMetaPrefix) -> dec(v)
    }

  /** Declare a CHECK constraint as a metadata-only commit. EXISTING
    * rows must already satisfy it (one validation scan of the head
    * snapshot — Delta's `ADD CONSTRAINT` contract: a constraint is a
    * promise about the whole table, not just future writes), and the
    * expression must be boolean-typed — both refused loudly.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    checkExpr: String): Long = {
    require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got: $name")
    // validate-then-claim, PINNED to the validated snapshot: the claim
    // aborts if any commit landed during validation (its rows would
    // have escaped the scan), and we re-validate against the new head
    // — the two-sided closure of the races the data-commit side's
    // constraint-set check can't see. Bounded retries: under
    // sustained write pressure adding a constraint loses, loudly.
    var attempt = 0
    while (true) {
      attempt += 1
      val s = snapshot(spark, path)
      val rows = readSnapshot(s, mergeSchema = true)
      val checked = rows.select(expr(checkExpr).as("ok"))
      require(checked.schema.head.dataType ==
        org.apache.spark.sql.types.BooleanType,
        s"CHECK expression must be boolean, got " +
          s"${checked.schema.head.dataType.simpleString}: $checkExpr")
      val bad = violationCounts(rows, Seq(name -> checkExpr), None)(
        noopScan).head
      require(bad == 0L,
        s"cannot add CHECK constraint $name to $path: $bad existing " +
          s"rows violate ($checkExpr)")
      try {
        return metaCommit(s, "constraint",
          Map(ConstraintMetaPrefix + name -> enc(checkExpr)),
          ReadSet(version = s.version))
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= 5) throw e // sustained racing writes
      }
    }
    -1L // unreachable
  }

  /** Remove a CHECK constraint (metadata-only commit; the carried key
    * is tombstoned empty — carried meta has no deletion, same as a
    * superseded `txn.` token).
    */
  def dropConstraint(spark: SparkSession, path: String,
                     name: String): Long = {
    val s = snapshot(spark, path)
    require(s.constraints.contains(name),
      s"no CHECK constraint named $name on $path")
    metaCommit(s, "constraint", Map(ConstraintMetaPrefix + name -> ""))
  }

  /** Enforcement for files a commit did not write itself (copied-in
    * files, streaming-file commits): counts violations per constraint
    * of snapshot `s` over `newLines` with [[violationCounts]] on one
    * `noop` scan, and throws on any. Reads with the declared schema when
    * present so a constraint on an evolved column sees nulls (which
    * PASS) rather than an analysis error.
    */
  private def enforceConstraints(s: Snapshot, newLines: Seq[String]): Unit = {
    val cons = s.constraints.toSeq.sortBy(_._1)
    if (newLines.isEmpty || cons.isEmpty) return
    val written = scanFiles(s, newLines, mergeSchema = false, s.declaredSchema)
    rejectViolations(s.path, cons,
      violationCounts(written, cons, None)(noopScan))(())
  }

  /** How long [[violationCounts]] waits, once its action returned, for
    * the observed counts. They reach its query-execution listener
    * asynchronously — normally within milliseconds; the bound only keeps
    * a lost event from hanging the caller.
    */
  private val ObservedCountsWait = scala.concurrent.duration.Duration(60, "s")

  /** Rows of `df` on which each constraint of `cons` (name -> SQL
    * expression) evaluates to FALSE, counted by `Dataset.observe` while
    * `run` executes the observed frame — inside that action's job, with
    * no job of its own. `run` gets `df`'s own columns. With `schema`,
    * each constraint instead sees `df` projected to it, as a read of the
    * written files pinned to `schema` would: a column `df` lacks is a
    * typed null, a column it has is cast to the schema's type.
    *
    * The counts are read by a query-execution listener registered for
    * this call only. It reads the metrics only of a successful query
    * carrying this call's own observation: reading them of a failed
    * query would plan it a second time. (Spark's `Observation` instead
    * leaves a listener on the session that does so for every failed
    * query, for good.)
    */
  private def violationCounts(df: DataFrame, cons: Seq[(String, String)],
                              schema: Option[StructType])
                             (run: DataFrame => Unit): Seq[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
    import org.apache.spark.sql.execution.QueryExecution
    val obs = s"graft_violations_${java.util.UUID.randomUUID()}"
    val counts = cons.zipWithIndex.map { case ((_, e), i) =>
      sum(when(expr(e) === false, 1L).otherwise(0L)).as(s"c$i")
    }
    val observed = schema match {
      case None => df.observe(obs, counts.head, counts.tail: _*)
      case Some(s) =>
        // df's columns ride under fresh names beside the projection,
        // and get their own names back above the observation
        val names = df.columns.toIndexedSeq
        val hidden = names.foldLeft(Vector.empty[String])((acc, _) =>
          acc :+ graft.util.Cols.fresh(names ++ s.fieldNames ++ acc, "__w"))
        val caseSensitive =
          df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
        val projected = s.fields.toIndexedSeq.map { f =>
          names.indexWhere(n =>
            if (caseSensitive) n == f.name else n.equalsIgnoreCase(f.name))
          match {
            case -1 => lit(null).cast(f.dataType).as(f.name)
            case i => col(hidden(i)).cast(f.dataType).as(f.name)
          }
        }
        df.toDF(hidden: _*).select(hidden.map(col) ++ projected: _*)
          .observe(obs, counts.head, counts.tail: _*)
          .select(hidden.map(col): _*).toDF(names: _*)
    }
    val got = scala.concurrent.Promise[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.exists {
              case c: CollectMetrics => c.name == obs
              case _ => false
            })
          qe.observedMetrics.get(obs).foreach(got.trySuccess)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    val listeners = df.sparkSession.listenerManager
    listeners.register(listener)
    try {
      run(observed)
      val r = scala.concurrent.Await.result(got.future, ObservedCountsWait)
      cons.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    } finally listeners.unregister(listener)
  }

  /** Executes a frame for its side effects only — the action an
    * observed count rides on when nothing is written. Above the
    * observation no column is needed, so the scan reads only the
    * columns the constraints reference.
    */
  private def noopScan(df: DataFrame): Unit =
    df.select().write.format("noop").mode("overwrite").save()

  /** Throws, after `cleanup`, naming each constraint of `cons` whose
    * count in `counts` is non-zero and its row count.
    */
  private def rejectViolations(path: String, cons: Seq[(String, String)],
                               counts: Seq[Long])(cleanup: => Unit): Unit = {
    val viols = cons.zip(counts).collect {
      case ((n, e), c) if c > 0 => s"$n ($e): $c rows"
    }
    if (viols.nonEmpty) {
      cleanup
      throw new IllegalStateException(
        s"commit to $path rejected — CHECK constraint violation: " +
          viols.mkString("; "))
    }
  }

  private def parseMeta(headLine: String): Map[String, String] =
    headLine.split(' ').drop(1).dropRight(1)
      .filter(_.contains('=')).map { t =>
        val i = t.indexOf('='); t.substring(0, i) -> t.substring(i + 1)
      }.toMap

  /** (version, action, meta) per retained commit, oldest first — the
    * `DESCRIBE HISTORY` backing. O(manifests) driver metadata I/O,
    * no data files touched.
    */
  def history(spark: SparkSession, path: String)
      : Seq[(Long, String, Map[String, String])] =
    historyDetailed(spark, path).map { case (v, _, a, m) => (v, a, m) }

  /** [[history]] plus the commit timestamp, from the SAME manifest
    * read — DESCRIBE HISTORY over a long log would otherwise pay a
    * second read-and-parse per version just to stamp the row.
    */
  private[graft] def historyDetailed(spark: SparkSession, path: String)
      : Seq[(Long, Long, String, Map[String, String])] = {
    versions(spark, path).map { v =>
      val s = snapshot(spark, path, Some(v))
      (v, commitTimestampOf(s), s.headLine.split(' ').head, s.meta)
    }
  }

  /** Meta keys with this prefix are CARRIED FORWARD: every commit copies
    * them from the previous head into its own head line (its own `meta`
    * values winning on conflict). So the head manifest always holds the
    * LATEST value per carried key even after [[vacuum]] prunes the
    * manifest that originally wrote it — the log-compaction equivalent
    * of Delta checkpoints retaining `SetTransaction` actions. Used for
    * the streaming idempotence tokens (`txn.<app>`) — whose loss under
    * vacuum would silently re-append a replayed micro-batch — and for
    * the table's own declared metadata (`graft.schema` /
    * `graft.partitions`), the manifest-owned counterpart of Delta's
    * `metaData` action.
    */
  private val CarriedMetaPrefixes = Seq("txn.", "graft.")

  /** Carried meta key holding the table's DECLARED logical schema as
    * URL-encoded `StructType.json` — set by [[evolveSchema]] and
    * [[create]], carried forward by every later commit. When present
    * it is the read schema (old files surface added columns as null);
    * when absent the schema lives in the parquet footers, as before.
    */
  private[graft] val SchemaMetaKey = "graft.schema"

  /** Carried meta key declaring the snapshot's hive-partition columns
    * (URL-encoded, comma-joined; empty = unpartitioned). Written by
    * every partitioned commit and by overwrites (which own the whole
    * layout), so external resolvers ([[graft.sources.GraftResolve]])
    * can trust the manifest instead of sniffing `k=v` path segments —
    * and so an EMPTY partitioned table is representable at all.
    */
  private[graft] val PartitionsMetaKey = "graft.partitions"

  /** Per-commit (NOT carried) meta token: epoch-millis commit time,
    * stamped automatically by every commit — the `TIMESTAMP AS OF`
    * resolution source.
    */
  private[graft] val TimestampMetaKey = "ts"

  /** Highest micro-batch id `txnApp` has committed to `path`, or None
    * — the reader half of the `txn.<app>` idempotent-writer token
    * ([[graft.streaming.StreamingSink]]'s exactly-once contract,
    * exposed here so index-maintenance writers — [[graft.text.Bm25
    * .appendToIndex]], [[graft.ann.Similarity.ivfAppend]] — share ONE
    * definition with the streaming sink instead of re-deriving the
    * key grammar). One manifest read: `txn.*` keys are carried
    * forward by every commit, so the head manifest holds each app's
    * latest batch id however many commits or vacuums happened since.
    */
  def lastTxnVersion(spark: SparkSession, path: String,
                     txnApp: String): Option[Long] =
    lastTxnOf(snapshot(spark, path, orEmpty = true), txnApp)

  private def lastTxnOf(s: Snapshot, txnApp: String): Option[Long] =
    s.meta.get(CarriedMetaPrefixes.head + txnApp).map(_.toLong)

  /** The (meta, guard) pair an idempotent writer attaches for
    * micro-batch `batchId` of `txnApp` — commit-atomic claim of the
    * batch id plus the claim-loop guard that aborts a zombie writer
    * racing its restarted replacement on the same batch.
    */
  private[graft] def txnClaim(txnApp: String, batchId: Long)
      : (Map[String, String], Map[String, Long]) = {
    requireTokenSafe(txnApp, "txnApp")
    val key = CarriedMetaPrefixes.head + txnApp
    (Map(key -> batchId.toString), Map(key -> batchId))
  }

  /** The WHOLE incremental-append contract in one place, on ONE read
    * of `path`'s head: skip-check the replay token against it, hand it
    * to `batch` (which returns the frame to append, the meta to carry
    * and the guards its meta depends on), commit the append on that
    * same snapshot — claiming its version + 1; a lost claim rebuilds on
    * the new head and rechecks the guards — and then run
    * [[maintainAfterAppend]] on `layoutCols`. Returns the head version
    * unchanged when the token says the batch already landed (the
    * checkpoint-replay no-op; `batch` never runs), otherwise the
    * append's version. Every incremental maintainer (Bm25.appendToIndex,
    * Similarity ivf/sq/pqAppend, Sketches HLL/KLL grain appends,
    * SemDedup appendToModel) routes through here so the check-then-claim
    * semantics — the skip is an optimization; the GUARD is what makes
    * a zombie-vs-restart race safe — can't drift per call site.
    * `txn = None` is a plain append guarded only by `batch`'s guards.
    */
  private[graft] def appendIncrement(spark: SparkSession, path: String,
                                     txn: Option[(String, Long)],
                                     layoutCols: Seq[String],
                                     maintain: Option[Maintenance])
      (batch: Snapshot => (DataFrame, Map[String, String], Map[String, Long]))
      : Long = {
    val s = snapshot(spark, path, orEmpty = true)
    val (txnMeta, txnGuard) = txn.fold(
      (Map.empty[String, String], Map.empty[String, Long])) {
      case (app, batchId) => txnClaim(app, batchId) }
    if (txn.exists { case (app, batchId) =>
      lastTxnOf(s, app).exists(_ >= batchId) }) return s.v
    val (frame, meta, guard) = batch(s)
    val v = commit(s, frame, "append", (base, _) => base, meta = meta ++ txnMeta,
      read = ReadSet(guard = guard ++ txnGuard))
    maintainAfterAppend(spark, path, layoutCols, maintain)
    v
  }

  /** Refuse a caller-supplied token that would break the manifest
    * meta grammar (space-separated `k=v` pairs, one per line) — THE
    * one definition every writer-facing API (streaming sinks,
    * follower views) must call, so a grammar change can't strand a
    * stale copy of the check at some call site.
    */
  private[graft] def requireTokenSafe(value: String, what: String): Unit =
    require(!value.exists(c => c == ' ' || c == '=' || c == '\n'),
      s"$what must be manifest-token-safe (no spaces, '=', or newlines)")

  /** Per-commit (NOT carried) meta token locating the commit's
    * row-level CHANGE DATA (Delta's Change Data Feed, reduced to the
    * log): `cdf=<uuid>` points at `_changes/<uuid>/` — parquet files
    * holding exactly the rows this commit changed, tagged
    * `_change_type` (insert / update_preimage / update_postimage /
    * delete) — and `cdf=0` declares the commit row-change-free (a
    * layout rewrite: OPTIMIZE/compact, or a DML whose predicate
    * matched nothing). Commits carrying NEITHER (plain appends,
    * overwrites, restores, pre-CDF history) fall back to
    * file-granular capture in [[readChanges]]. The change files ride
    * the same atomic manifest claim as the data (written before,
    * referenced by the winning manifest only), so the feed is
    * exactly-once under the same argument as the data itself.
    */
  private[graft] val ChangeDataMetaKey = "cdf"
  private val ChangesDir = "_changes"
  /** Column names of the change feed (Delta CDF's, minus the
    * per-commit columns Delta derives from its log the same way).
    */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"

  /** Write `changes` (data columns + [[ChangeTypeCol]]) as this
    * commit's change data; returns the `cdf` meta entry to ride in the
    * manifest head. An empty change frame (possible when file stats
    * over-approximated the DML's match set) records `cdf=0` — readers
    * then skip the commit instead of falling back to file-granular
    * churn. Cost: one extra bounded job over the CHANGED rows only —
    * never the table (the same order of work as the rewrite itself).
    */
  /** Run `body` with SIZE-TARGETED shuffle coalescing: plans compiled
    * inside it let AQE coalesce every eligible shuffle down to
    * `advisoryPartitionSizeInBytes` instead of stopping at the session
    * core count (`parallelismFirst`, Spark's default, keeps ~1 output
    * partition per core "for parallelism" — correct for intermediate
    * stages, wrong for a COMMIT: it makes every small append emit one
    * near-empty file per core, so manifest stats, bloom tokens, footer
    * reads and maintenance triggering all scale with CLUSTER WIDTH
    * rather than data). Scoped to the write so intermediate query
    * stages elsewhere keep their parallelism; the advisory size is the
    * standard 128 MB. Shuffle bytes compress further in parquet, so
    * files land below the advisory — the right side of the 128 MB–1 GB
    * guidance to err on (guide §6, §2.2).
    *
    * Session confs are shared across threads; a concurrent committer
    * in the same session may observe the temporary values — harmless
    * (coalescing never changes results, only file counts).
    */
  private def sizedWrite[T](spark: SparkSession)(body: => T): T = {
    val pairs = Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        (128L * 1024 * 1024).toString)
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def writeChangeData(s: Snapshot,
                              changes: DataFrame): Map[String, String] = {
    val fs = s.fs
    val uuid = java.util.UUID.randomUUID().toString
    val dir = new Path(s.root, s"$ChangesDir/$uuid")
    sizedWrite(changes.sparkSession) {
      changes.write.parquet(dir.toString)
    }
    val any = fs.listStatus(dir).exists(f =>
      f.getPath.getName.startsWith("part-") &&
        f.getPath.getName.endsWith(".parquet"))
    if (any) Map(ChangeDataMetaKey -> uuid)
    else { fs.delete(dir, true); Map(ChangeDataMetaKey -> "0") }
  }

  // ------------------------------------------------------------ file stats
  //
  // Each manifest FILE line is `relPath[\t<stats>]` where <stats> is
  // `;`-joined `name,tag,min,max[,nulls,rows]` tuples (URL-encoded
  // tokens — no collisions with the separators), one per column whose
  // parquet footer carries usable stats. tag `n` = compare numerically
  // (ints/longs/floats/doubles, dates as epoch days, timestamps as
  // micros — parquet's own physical encodings), tag `s` = compare as
  // UTF-8 strings, tag `x` = no comparable min/max (null counts only —
  // the min/max tokens are empty). The optional 5th/6th tokens are the
  // column's NULL COUNT and the file's row count (top-level columns
  // only), enabling `IS NULL` pruning (nulls = 0 → skip) and
  // `IS NOT NULL` / comparison pruning of all-null files
  // (nulls = rows → skip). Stats come from the FOOTERS of the freshly
  // written files — O(new files) driver metadata reads, never a data
  // scan — and ride in the same atomic manifest claim as the file
  // list, so [[readWhere]] can prune files the predicate provably
  // cannot match (Delta's data-skipping stats, reduced to its
  // essentials). At 100 TB this is the difference between a needle
  // query scanning the lake and scanning the handful of files whose
  // [min,max] straddles the needle. Pre-null-count manifests (4-token
  // tuples) keep working: absent null info is "may match".
  //
  // Schema record: a 2-token tuple `schema,<id>` (an arity the stats
  // parser skips) names the Spark row schema of the file's data dir.
  // [[commit]] takes it from the new files' footers — the
  // `org.apache.spark.sql.parquet.row.metadata` value Spark's own
  // schema inference deserializes — and records it only when every
  // footer of the dir carries the same one. The id is a content hash
  // of the schema JSON, so equal schemas share one entry and racing
  // committers allocate nothing; the JSON lives once per id in the
  // carried `graft.dataschema.<id>` head key, which every commit
  // prunes to the ids its live lines still use. The manifest grows
  // with distinct schemas, not files. Readers ([[scanFiles]],
  // [[graft.sources.GraftResolve]], [[bloomTokens]]) pin a file group
  // whose lines share one recorded id; groups without a record
  // (manifests written before the record, COPY INTO, streaming file
  // commits) are inferred as before.

  private[graft] val SchemaRecordPrefix = "graft.dataschema."
  private val SchemaIdTag = "schema"
  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Content id of a row-schema JSON: 16 hex chars of its SHA-256. */
  private def schemaIdFor(json: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes(StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString

  /** The schema id a manifest file line carries, if any. */
  private def schemaIdOf(line: String): Option[String] = {
    val i = line.indexOf('\t')
    if (i < 0) None
    else line.substring(i + 1).split(';').iterator.map(_.split(','))
      .collectFirst { case Array(SchemaIdTag, id) => id }
  }

  private def withSchemaId(line: String, id: Option[String]): String =
    id.fold(line) { s =>
      line + (if (line.indexOf('\t') < 0) '\t' else ';') + s"$SchemaIdTag,$s"
    }

  /** The schema recorded for ALL of `lines`, looked up in `meta` (the
    * head meta of the manifest they come from) — None when a line has
    * no id, the ids differ, or the dictionary lacks the id.
    */
  private def recordedSchemaOf(meta: Map[String, String],
                               lines: Seq[String]): Option[StructType] =
    lines.map(schemaIdOf).distinct match {
      case Seq(Some(id)) =>
        meta.get(SchemaRecordPrefix + id).map(j => schemaFromJson(dec(j)))
      case _ => None
    }

  /** Manifest file line → relative path (stats suffix stripped). */
  private def pathOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** One column's skipping stats as carried in a manifest line. `tag`
    * "x" = no comparable min/max (ignore `min`/`max`); `nulls`/`rows`
    * absent on pre-null-count manifests. `knownAllNull` marks a column
    * proven all-null WITHOUT counts — the hive default-partition dir
    * (every row's partition value is null, row count unknown).
    */
  private[ops] final case class ColStats(tag: String, min: String,
      max: String, nulls: Option[Long] = None, rows: Option[Long] = None,
      knownAllNull: Boolean = false) {
    def allNull: Boolean = knownAllNull ||
      (nulls.isDefined && rows.isDefined && nulls == rows && rows.get > 0)
  }

  /** Manifest file line → per-column stats, empty if none. */
  private def statsOf(line: String): Map[String, ColStats] = {
    val i = line.indexOf('\t')
    if (i < 0) Map.empty
    else line.substring(i + 1).split(';').toSeq.flatMap { t =>
      t.split(',') match {
        case Array(n, tag, mn, mx) =>
          Some(dec(n) -> ColStats(tag, dec(mn), dec(mx)))
        case Array(n, tag, mn, mx, nu, ro) =>
          val nulls = scala.util.Try(nu.toLong).toOption
          val rows = scala.util.Try(ro.toLong).toOption
          Some(dec(n) -> ColStats(tag, dec(mn), dec(mx), nulls, rows))
        case _ => None
      }
    }.toMap
  }

  /** Pseudo-stats for a partitioned file's PARTITION columns, parsed
    * from the hive `k=v` segments of its manifest path: min = max =
    * the partition value, tagged string for the `stringCols` the read
    * resolves as strings, else numeric when the value parses as a
    * number and string otherwise. Partition values never appear in
    * parquet footers, so without this a partition-column predicate
    * could never skip a file; with it [[readWhere]] prunes whole
    * partitions from the MANIFEST alone — zero footer or data I/O for
    * partitions the predicate cannot match. Tag/type mismatches
    * (casts in the predicate) fall through [[mayMatch]]'s conservative
    * keep — a missed skip, never a wrong prune. The hive null marker
    * gets no stats (conservative keep).
    */
  private def partitionStats(rel: String,
                             stringCols: Set[String] = Set.empty): Map[String, ColStats] =
    rel.split('/').drop(2).dropRight(1).filter(_.contains('='))
      .flatMap { seg =>
        val i = seg.indexOf('=')
        val k = seg.substring(0, i)
        val v = unescapePartition(seg.substring(i + 1))
        if (v == "__HIVE_DEFAULT_PARTITION__")
          // the null-partition dir: EVERY row's partition value is null
          // — `IS NOT NULL` and any comparison prune it from the path
          Some(k -> ColStats("x", "", "", knownAllNull = true))
        else {
          val tag =
            if (!stringCols(k) && scala.util.Try(BigDecimal(v)).isSuccess) "n"
            else "s"
          // a non-null partition value means ZERO nulls in this file's
          // partition column — `IS NULL` prunes it from the path alone
          Some(k -> ColStats(tag, v, v, nulls = Some(0L)))
        }
      }.toMap

  /** Hive percent-escaping of partition-dir values (`%3A` → `:`), the
    * inverse of what the parquet writer applies. NOT URLDecoder: hive
    * leaves `+` literal. Multi-byte escapes decode as UTF-8.
    */
  private[graft] def unescapePartition(s: String): String =
    if (!s.contains('%')) s
    else {
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
            s.substring(i + 1, i + 3).forall(h =>
              h.isDigit || ('a' to 'f').contains(h.toLower))) {
          bytes += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
          i += 3
        } else {
          bytes ++= c.toString.getBytes(StandardCharsets.UTF_8)
          i += 1
        }
      }
      new String(bytes.toArray, StandardCharsets.UTF_8)
    }

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Compare strings the way parquet compares binary statistics:
    * unsigned UTF-8 byte order. Java's `compareTo` (UTF-16 code units)
    * disagrees for code points above the BMP (surrogates sort below
    * U+E000..U+FFFF), which would mis-prune.
    */
  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  // ---- file-level bloom filters -----------------------------------
  // Equality skipping for HIGH-CARDINALITY columns, where min/max
  // windows cannot prune: an id scattered uniformly across every file
  // intersects every [min,max], so a point lookup scans the table.
  // A small per-file bloom answers "definitely absent" for = / IN,
  // the Delta/Iceberg bloom-index story reduced to the manifest line.

  /** Carried meta key holding the bloom configuration as URL-encoded
    * `col1,col2:bits:hashes`. Set by [[setBloomFilters]]; every later
    * data commit (append/overwrite/DML rewrite/compaction/streaming/
    * COPY INTO — they all share [[statsLines]]) computes one bloom per
    * configured column per NEW file. Files written before the config
    * (or under an older one) simply lack the token — conservative
    * keep, never a wrong prune; OPTIMIZE/compact regenerates.
    */
  private[graft] val BloomMetaKey = "graft.bloom"
  private val BloomStatPrefix = "bloom:"
  private val BloomTag = "b"

  private def bloomConfigOf(meta: Map[String, String])
      : Option[(Seq[String], Int, Int)] =
    meta.get(BloomMetaKey).map(dec).filter(_.nonEmpty).flatMap { s =>
      s.split(':') match {
        case Array(cols, bits, k) => scala.util.Try(
          (cols.split(',').toSeq.filter(_.nonEmpty), bits.toInt, k.toInt))
          .toOption.filter(_._1.nonEmpty)
        case _ => None
      }
    }

  /** Declare bloom filters on `cols` (integral or string data columns).
    * Metadata-only commit; takes effect for files written AFTER it.
    * `bits` is the filter size per file per column (8192 bits = 1 KiB
    * in the manifest before base64; at ~10 bits/distinct-value that
    * holds ~800 distinct values per file under 1% false positives —
    * size it to files' expected distinct counts, the classic
    * m ≈ 1.44·n·log2(1/fp)).
    */
  def setBloomFilters(spark: SparkSession, path: String, cols: Seq[String],
                      bits: Int = 8192, hashes: Int = 6): Long = {
    require(cols.nonEmpty, "setBloomFilters needs at least one column")
    require(bits >= 64 && bits <= (1 << 24) && bits % 64 == 0,
      s"bits must be in [64, 2^24] and a multiple of 64, got $bits")
    require(hashes >= 1 && hashes <= 16, s"hashes must be in [1,16], got $hashes")
    val s = snapshot(spark, path)
    val schema = tableSchema(s)
    import org.apache.spark.sql.types._
    cols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(
        sys.error(s"setBloomFilters: no column '$c' in $path"))
      require(Seq[DataType](ByteType, ShortType, IntegerType, LongType,
          StringType).contains(f.dataType),
        s"bloom filters support integral and string columns; '$c' is " +
          f.dataType.simpleString)
    }
    val parts = s.partitionCols.getOrElse(Nil)
    require(cols.intersect(parts).isEmpty,
      s"bloom on partition columns is pointless — partition-value " +
        s"pseudo-stats already prune them exactly: ${cols.intersect(parts)}")
    metaCommit(s, "setbloom",
      Map(BloomMetaKey -> enc(s"${cols.mkString(",")}:$bits:$hashes")))
  }

  /** The [[BloomMetaKey]] entry for declaring blooms ATOMICALLY with a
    * data commit's `meta` (the commit computes the per-file tokens for
    * its own files in the same claim): an index builder that declares
    * blooms this way pays ONE commit where the declare-then-ANALYZE
    * sequence pays three plus a full re-read of the just-written data.
    * Same validation bounds as [[setBloomFilters]]; column existence/
    * type is the caller's contract (the frame being committed is in
    * hand).
    */
  private[graft] def bloomDeclarationMeta(cols: Seq[String],
                                          bits: Int = 8192,
                                          hashes: Int = 6)
      : Map[String, String] = {
    require(cols.nonEmpty, "bloom declaration needs at least one column")
    require(bits >= 64 && bits <= (1 << 24) && bits % 64 == 0,
      s"bits must be in [64, 2^24] and a multiple of 64, got $bits")
    require(hashes >= 1 && hashes <= 16,
      s"hashes must be in [1,16], got $hashes")
    Map(BloomMetaKey -> enc(s"${cols.mkString(",")}:$bits:$hashes"))
  }

  /** The table's bloom configuration — (columns, bits, hashes) — if
    * declared. */
  def bloomFilterConfig(spark: SparkSession,
                        path: String): Option[(Seq[String], Int, Int)] =
    bloomConfigOf(snapshot(spark, path, orEmpty = true).meta)

  /** Remove the bloom configuration (tombstoned empty, like a dropped
    * constraint). Existing per-file tokens stay in the manifest and
    * keep pruning — they are still TRUE statements about their files.
    */
  def dropBloomFilters(spark: SparkSession, path: String): Long =
    metaCommit(snapshot(spark, path, orEmpty = true), "setbloom",
      Map(BloomMetaKey -> ""))

  /** The double-hashing position columns: pos_i = (h1 + i·h2) mod m
    * with h1 = xxhash64(v) mod m and h2 = xxhash64(v, 1) mod (m−1) + 1
    * (step nonzero, and bounded so i·h2 stays far from 2^63 under ANSI
    * arithmetic). The PROBE side replays the identical Catalyst
    * expressions driver-side, so write and probe can never drift.
    */
  private def bloomPositions(v: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column,
                             bits: Int): org.apache.spark.sql.Column =
    pmod(pmod(xxhash64(v), lit(bits.toLong)) +
      i * (pmod(xxhash64(v, lit(1)), lit((bits - 1).toLong)) + lit(1L)),
      lit(bits.toLong))

  private def bloomProbePositions(s: String, bits: Int, k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.unsafe.types.UTF8String
    val lit0 = Literal.create(UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)
    val x1 = XxHash64(Seq(lit0), 42L).eval(null).asInstanceOf[Long]
    val x2 = XxHash64(Seq(lit0, Literal(1)), 42L).eval(null).asInstanceOf[Long]
    def pm(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }
    val h1 = pm(x1, bits)
    val h2 = pm(x2, bits - 1) + 1
    (0 until k).map(i => pm(h1 + i * h2, bits).toInt)
  }

  /** Per-file bloom tokens for `cols` over freshly written `relFiles`:
    * one distributed pass per column (cheap: the files were just
    * written and are few), collecting ≤ `bits` set positions per file
    * — bounded regardless of row count. Token format rides the
    * existing 4-field stats grammar: `bloom:<col>, b, <base64 bits>,
    * <k:bits>` — older parsers see an extra pseudo-column whose name
    * can never collide with a real attribute.
    */
  private def bloomTokens(s: Snapshot, relFiles: Seq[String],
                          cols: Seq[String], bits: Int, k: Int,
                          rowSchema: Option[StructType]): Map[String, String] =
    if (relFiles.isEmpty) Map.empty
    else try {
      val (fs, p) = (s.fs, s.root)
      val qualOf = relFiles.map { r =>
        fs.makeQualified(new Path(p, r)).toUri.getPath -> r
      }.toMap
      val reader = s.spark.read
      val df = rowSchema.fold(reader)(reader.schema).parquet(
        relFiles.map(r => fs.makeQualified(new Path(p, r)).toString): _*)
      val present = cols.filter(df.columns.contains)
      val perFile = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.ArrayBuffer[String]]
      present.foreach { c =>
        val rows = df
          .select(input_file_name().as("__f"), col(c).cast("string").as("__v"))
          .filter(col("__v").isNotNull)
          // generator first (explode must be top-level), arithmetic after
          .select(col("__f"), col("__v"),
            explode(sequence(lit(0L), lit((k - 1).toLong))).as("__i"))
          .select(col("__f"),
            bloomPositions(col("__v"), col("__i"), bits).as("__p"))
          .groupBy(col("__f")).agg(collect_set(col("__p")).as("__ps"))
          .collect()
        rows.foreach { r =>
          // input_file_name is a URI string; canonicalize to a decoded
          // filesystem path before matching the manifest-relative name
          val fp = scala.util.Try(
            new Path(new java.net.URI(r.getString(0))).toUri.getPath)
            .getOrElse(r.getString(0))
          qualOf.get(fp).foreach { rel =>
            val bs = new java.util.BitSet(bits)
            r.getSeq[Long](1).foreach(x => bs.set(x.toInt))
            val b64 = java.util.Base64.getEncoder.encodeToString(bs.toByteArray)
            perFile.getOrElseUpdate(rel,
              scala.collection.mutable.ArrayBuffer.empty[String]) +=
              Seq(enc(BloomStatPrefix + c), BloomTag, enc(b64),
                enc(s"$k:$bits")).mkString(",")
          }
        }
      }
      perFile.view.mapValues(_.mkString(";")).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Could a file whose stats carry bloom tokens contain a row matching
    * `conjunct`? Only = and IN probe; everything else — and any file
    * without a token for the column — keeps the file. An absent bit is
    * PROOF of absence (every write since the config computed the
    * token), so skipping is exact; false positives only cost a read.
    */
  private def bloomMayMatch(stats: Map[String, ColStats],
                            conjunct: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    if (!stats.keysIterator.exists(_.startsWith(BloomStatPrefix))) return true
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // literal → the exact string CAST(col AS STRING) yields at write
    def render(e: Expression): Option[String] = e match {
      case Literal(v, dt) if v != null =>
        import org.apache.spark.sql.types._
        dt match {
          case ByteType | ShortType | IntegerType | LongType | StringType =>
            Some(v.toString)
          case _ => None
        }
      case _ => None
    }
    def maybeHas(attr: Expression, lits: Seq[Expression]): Boolean =
      (for {
        n <- nameOf(attr)
        cs <- stats.get(BloomStatPrefix + n) if cs.tag == BloomTag
        r <- scala.util.Try {
          val bs = java.util.BitSet.valueOf(
            java.util.Base64.getDecoder.decode(cs.min))
          val Array(k, bits) = cs.max.split(':').map(_.toInt)
          lits.exists { l =>
            render(l) match {
              case None => true // un-renderable literal: keep
              case Some(s) =>
                bloomProbePositions(s, bits, k).forall(bs.get)
            }
          }
        }.toOption
      } yield r).getOrElse(true)

    conjunct match {
      case EqualTo(a, l: Literal) if nameOf(a).isDefined => maybeHas(a, Seq(l))
      case EqualTo(l: Literal, a) if nameOf(a).isDefined => maybeHas(a, Seq(l))
      case In(a, vs) if nameOf(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
        maybeHas(a, vs)
      case _ => true
    }
  }

  /** Stats-bearing manifest lines for freshly written files: footer
    * min/max plus (when snapshot `s` declares them) per-column bloom
    * tokens — the single formatting path every data commit shares.
    * `pendingMeta`: the meta of the commit IN FLIGHT — a bloom config
    * declared there (see [[bloomDeclarationMeta]]) applies to this
    * commit's own files, overriding the snapshot's carried config.
    * `rowSchema`: the files' recorded schema, pinning the bloom scan.
    */
  private def statsLines(s: Snapshot, relFiles: Seq[String],
                         pendingMeta: Map[String, String] = Map.empty,
                         precomputed: Option[Map[String, String]] = None,
                         rowSchema: Option[StructType] = None)
      : Seq[String] = {
    val stats = precomputed.getOrElse(footerStats(s.fs, s.root, relFiles))
    val blooms = bloomConfigOf(s.meta ++ pendingMeta)
      .map { case (cols, bits, k) =>
        bloomTokens(s, relFiles, cols, bits, k, rowSchema) }
      .getOrElse(Map.empty[String, String])
    relFiles.map { f =>
      val toks = Seq(stats.get(f), blooms.get(f)).flatten
      if (toks.isEmpty) f else s"$f\t${toks.mkString(";")}"
    }
  }

  /** Read min/max per column from the parquet footers of `relFiles`
    * (merged across row groups). Columns typed beyond the supported
    * comparable set — or whose chunks lack stats — are simply absent:
    * pruning treats absence as "may match", so stats are only ever an
    * optimization, never a correctness input.
    */
  private def footerStats(fs: FileSystem, p: Path,
                          relFiles: Seq[String]): Map[String, String] =
    footerInfo(fs, p, relFiles).collect {
      case (rel, f) if f.stats.nonEmpty => rel -> f.stats
    }

  /** What one footer read yields: the stats string (possibly empty),
    * the file's exact row count, and the Spark row schema JSON the
    * writer stored in the footer (None for non-Spark writers).
    */
  private final case class FooterInfo(stats: String, rows: Long,
                                      rowSchema: Option[String])

  /** ONE footer read per file: its [[FooterInfo]]. The commit path
    * previously paid one SERIAL footer pass for zero-row filtering and
    * a second for stats, so a commit's driver-side time scaled with 2×
    * its file count; this fuses them and runs the reads on a small
    * thread pool (guide §6 — commit cost must be O(data), not
    * O(files × passes)).
    * Unreadable footers are simply absent from the map (callers treat
    * a missing entry as "no stats, conservatively non-empty").
    */
  private def footerInfo(fs: FileSystem, p: Path, relFiles: Seq[String])
      : Map[String, FooterInfo] = {
    val conf = fs.getConf
    def readOne(rel: String): Option[(String, FooterInfo)] = {
      val parsed =
        try {
          val file = new Path(p, rel)
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(file, conf)
          // options from the filesystem's conf: `open(in)` alone builds
          // a fresh `Configuration` and parses the default XML per file
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
            org.apache.parquet.HadoopReadOptions.builder(conf, file).build())
          try {
            // (tag, mn, mx) per column, merged across this file's blocks;
            // a column drops out the moment one chunk lacks usable stats
            var acc = Map.empty[String, (String, BigDecimal, BigDecimal, String, String)]
            var dropped = Set.empty[String]
            // null counts tracked independently of min/max (an all-null
            // or type-unsupported column can still carry them) — but
            // only for TOP-LEVEL columns (dot-free path): a nested or
            // repeated column's numNulls counts values, not records,
            // and comparing it to the file's row count would mis-prune
            var nullAcc = Map.empty[String, Long]
            var nullDropped = Set.empty[String]
            var totalRows = 0L
            r.getFooter.getBlocks.forEach { block =>
              totalRows += block.getRowCount
              block.getColumns.forEach { cc =>
                val name = cc.getPath.toDotString
                val st = cc.getStatistics
                if (!name.contains('.') && !nullDropped.contains(name)) {
                  if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
                    nullAcc += name ->
                      (nullAcc.getOrElse(name, 0L) + st.getNumNulls)
                  else { nullDropped += name; nullAcc -= name }
                }
                if (!dropped.contains(name)) {
                  // timestamp stats are only comparable when the file's
                  // unit matches Catalyst's internal micros — a MILLIS/
                  // NANOS file compared against a micros literal would
                  // mis-prune (wrong RESULTS, not just a missed skip)
                  val tsUnitSafe = cc.getPrimitiveType.getLogicalTypeAnnotation match {
                    case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                      t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
                    case _ => true
                  }
                  // decimal stats are UNSCALED ints (12.34 stored as 1234)
                  // — comparing them against a scaled literal mis-prunes,
                  // so decimal columns get no stats at all
                  val notDecimal = !cc.getPrimitiveType.getLogicalTypeAnnotation
                    .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
                  val parsed: Option[(String, String, String)] =
                    if (st == null || !st.hasNonNullValue) None
                    else (st.genericGetMin, st.genericGetMax) match {
                      case (mn: java.lang.Number, mx: java.lang.Number)
                          if tsUnitSafe && notDecimal &&
                            !(mn.toString + mx.toString)
                              .exists(c => c == 'N' || c == 'I') =>
                        Some(("n", mn.toString, mx.toString))
                      case (mn: org.apache.parquet.io.api.Binary,
                            mx: org.apache.parquet.io.api.Binary)
                          if cc.getPrimitiveType.getLogicalTypeAnnotation ==
                            org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
                        Some(("s", mn.toStringUsingUTF8, mx.toStringUsingUTF8))
                      case _ => None
                    }
                  parsed match {
                    case None => dropped += name; acc -= name
                    case Some((tag, mn, mx)) =>
                      val merged = acc.get(name) match {
                        case Some((t, amn, amx, smn, smx)) if t == tag && tag == "n" =>
                          val bmn = BigDecimal(mn); val bmx = BigDecimal(mx)
                          (t, amn.min(bmn), amx.max(bmx),
                            if (bmn < amn) mn else smn, if (bmx > amx) mx else smx)
                        case Some((t, _, _, smn, smx)) if t == tag && tag == "s" =>
                          // parquet orders binary stats by UNSIGNED UTF-8
                          // bytes; Java String compareTo (UTF-16) disagrees
                          // above the BMP — merge in parquet's order
                          (t, BigDecimal(0), BigDecimal(0),
                            if (utf8Cmp(mn, smn) < 0) mn else smn,
                            if (utf8Cmp(mx, smx) > 0) mx else smx)
                        case Some(_) => dropped += name; acc -= name; null
                        case None =>
                          if (tag == "n")
                            (tag, BigDecimal(mn), BigDecimal(mx), mn, mx)
                          else (tag, BigDecimal(0), BigDecimal(0), mn, mx)
                      }
                      if (merged != null) acc += name -> merged
                  }
                }
              }
            }
            val statsStr = (acc.keySet ++ nullAcc.keySet).toSeq.sorted.map { n =>
              val mm = acc.get(n)
              val nu = nullAcc.get(n)
              (mm, nu) match {
                case (Some((tag, _, _, smn, smx)), Some(c)) =>
                  Seq(enc(n), tag, enc(smn), enc(smx),
                    c.toString, totalRows.toString).mkString(",")
                case (Some((tag, _, _, smn, smx)), None) =>
                  Seq(enc(n), tag, enc(smn), enc(smx)).mkString(",")
                case (None, Some(c)) =>
                  // null-count-only entry (all-null or uncomparable
                  // type): tag "x", empty min/max tokens
                  Seq(enc(n), "x", "", "",
                    c.toString, totalRows.toString).mkString(",")
                case _ => ""
              }
            }.filter(_.nonEmpty).mkString(";")
            Some(FooterInfo(statsStr, totalRows, Option(r.getFooter
              .getFileMetaData.getKeyValueMetaData.get(SparkRowSchemaKey))))
          } finally r.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      parsed.map(rel -> _)
    }
    if (relFiles.lengthCompare(2) < 0) relFiles.flatMap(readOne).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, relFiles.size))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.traverse(relFiles)(rel =>
            scala.concurrent.Future(readOne(rel))),
          scala.concurrent.duration.Duration.Inf).flatten.toMap
      } finally pool.shutdown()
    }
  }

  /** Could a file with these stats contain a row matching `conjunct`?
    * Conservative: unknown shapes, missing columns, or un-comparable
    * literals keep the file. Handles =, <, <=, >, >=, IN over one
    * column and one literal side (either order), plus IS NULL (skips
    * files with zero nulls in the column) and IS NOT NULL / any
    * comparison (skips all-null files).
    */
  private def mayMatch(stats: Map[String, ColStats],
                       conjunct: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // literal → comparable under the column's stats tag
    def litVal(e: Expression, tag: String): Option[Either[BigDecimal, String]] = e match {
      case Literal(v, dt) =>
        import org.apache.spark.sql.types._
        (dt, tag) match {
          case (_: NumericType, "n") =>
            scala.util.Try(scala.util.Left(BigDecimal(v.toString))).toOption
          case (DateType | TimestampType | TimestampNTZType, "n") =>
            // internal representations: days / micros — plain integers
            scala.util.Try(scala.util.Left(BigDecimal(v.toString))).toOption
          case (StringType, "s") =>
            // a null literal can never equal/compare true, but stats
            // can't prove that — decline to prune (row filter handles it)
            Option(v).map(x => scala.util.Right(x.toString))
          case _ => None
        }
      case _ => None
    }
    def cmp(tag: String, a: String, v: Either[BigDecimal, String]): Int = v match {
      case scala.util.Left(n) => BigDecimal(a).compare(n)
      // parquet's binary stats order: unsigned UTF-8 bytes (see merge
      // note in footerStats) — NOT Java String compareTo
      case scala.util.Right(s) => utf8Cmp(a, s)
    }
    def test(attr: Expression, lit: Expression,
             keep: (Int, Int) => Boolean): Boolean =
      (for {
        n <- nameOf(attr)
        cs <- stats.get(n)
        r <-
          // every value null → no comparison can be TRUE, skip the
          // file regardless of the literal (even an un-comparable one)
          if (cs.allNull) Some(false)
          else for {
            v <- litVal(lit, cs.tag)
            r2 <- scala.util.Try(
              keep(cmp(cs.tag, cs.min, v), cmp(cs.tag, cs.max, v))).toOption
          } yield r2
      } yield r).getOrElse(true)
    // prefix predicates (c LIKE 'p%' / startsWith): every matching
    // string lies in [p, nextAfterPrefix(p)) under unsigned UTF-8
    // order, so a file whose [min,max] window misses that range is
    // skipped. nextAfterPrefix increments the last non-0xFF byte (an
    // all-0xFF prefix has no upper bound — lower test only).
    def prefixUpper(p: String): Option[Array[Byte]] = {
      val b = p.getBytes(StandardCharsets.UTF_8)
      var i = b.length - 1
      while (i >= 0 && b(i) == 0xFF.toByte) i -= 1
      if (i < 0) None
      else {
        val c = java.util.Arrays.copyOf(b, i + 1)
        c(i) = (c(i) + 1).toByte
        Some(c)
      }
    }
    def testPrefix(attr: Expression, p: String): Boolean =
      (for { n <- nameOf(attr); cs <- stats.get(n) } yield {
        if (cs.allNull) false
        else if (cs.tag != "s") true // non-string stats: conservative keep
        else utf8Cmp(cs.max, p) >= 0 && (prefixUpper(p) match {
          case None => true
          case Some(u) => java.util.Arrays.compareUnsigned(
            cs.min.getBytes(StandardCharsets.UTF_8), u) < 0
        })
      }).getOrElse(true)
    // a LIKE whose pattern is a plain prefix (trailing %, no other
    // wildcards/escapes) prunes like startsWith; anything else keeps
    def likePrefix(pattern: String): Option[String] =
      if (pattern.nonEmpty && pattern.endsWith("%") &&
          !pattern.dropRight(1).exists(c => c == '%' || c == '_' || c == '\\'))
        Some(pattern.dropRight(1))
      else None

    // nulls known to be zero → `c IS NULL` cannot match
    def mayHaveNull(attr: Expression): Boolean =
      (for { n <- nameOf(attr); cs <- stats.get(n); nu <- cs.nulls }
        yield nu > 0).getOrElse(true)
    // all values null → `c IS NOT NULL` cannot match
    def mayHaveValue(attr: Expression): Boolean =
      nameOf(attr).flatMap(stats.get).forall(!_.allNull)

    conjunct match {
      case IsNull(a) if nameOf(a).isDefined => mayHaveNull(a)
      case IsNotNull(a) if nameOf(a).isDefined => mayHaveValue(a)
      case EqualTo(a, l) if nameOf(a).isDefined => test(a, l, (mn, mx) => mn <= 0 && mx >= 0)
      case EqualTo(l, a) if nameOf(a).isDefined => test(a, l, (mn, mx) => mn <= 0 && mx >= 0)
      case GreaterThan(a, l) if nameOf(a).isDefined => test(a, l, (_, mx) => mx > 0)
      case GreaterThan(l, a) if nameOf(a).isDefined => test(a, l, (mn, _) => mn < 0)
      case GreaterThanOrEqual(a, l) if nameOf(a).isDefined => test(a, l, (_, mx) => mx >= 0)
      case GreaterThanOrEqual(l, a) if nameOf(a).isDefined => test(a, l, (mn, _) => mn <= 0)
      case LessThan(a, l) if nameOf(a).isDefined => test(a, l, (mn, _) => mn < 0)
      case LessThan(l, a) if nameOf(a).isDefined => test(a, l, (_, mx) => mx > 0)
      case LessThanOrEqual(a, l) if nameOf(a).isDefined => test(a, l, (mn, _) => mn <= 0)
      case LessThanOrEqual(l, a) if nameOf(a).isDefined => test(a, l, (_, mx) => mx >= 0)
      case In(a, vs) if nameOf(a).isDefined =>
        vs.exists(v => test(a, v, (mn, mx) => mn <= 0 && mx >= 0))
      // null-safe equality: `<=> null` matches only nulls; `<=> v`
      // matches exactly like `= v` (nulls never equal a value)
      case EqualNullSafe(a, Literal(null, _)) if nameOf(a).isDefined =>
        mayHaveNull(a)
      case EqualNullSafe(Literal(null, _), a) if nameOf(a).isDefined =>
        mayHaveNull(a)
      case EqualNullSafe(a, l: Literal) if nameOf(a).isDefined =>
        test(a, l, (mn, mx) => mn <= 0 && mx >= 0)
      case EqualNullSafe(l: Literal, a) if nameOf(a).isDefined =>
        test(a, l, (mn, mx) => mn <= 0 && mx >= 0)
      // `!= v` can only prune a file whose every non-null value IS v
      // (min = max = v): value rows fail the inequality and null rows
      // evaluate it to NULL — neither matches
      case Not(EqualTo(a, l)) if nameOf(a).isDefined =>
        test(a, l, (mn, mx) => !(mn == 0 && mx == 0))
      case Not(EqualTo(l, a)) if nameOf(a).isDefined =>
        test(a, l, (mn, mx) => !(mn == 0 && mx == 0))
      case StartsWith(a, Literal(p, org.apache.spark.sql.types.StringType))
          if nameOf(a).isDefined && p != null =>
        testPrefix(a, p.toString)
      case Like(a, Literal(p, org.apache.spark.sql.types.StringType), esc)
          if nameOf(a).isDefined && p != null && esc == '\\' =>
        likePrefix(p.toString).forall(testPrefix(a, _))
      // boolean combinators: mayMatchLines only splits TOP-LEVEL
      // ANDs, so a disjunctive predicate (`day = 1 OR day = 2`, or the
      // per-partition prune `(a=1 AND b=2) OR (a=3 AND b=4)`) arrives
      // here whole — a file may match an OR iff SOME branch may match,
      // an AND iff EVERY leg may (each recursion stays a conservative
      // upper bound, so composition is too)
      case Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
      case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
      case _ => true
    }
  }

  /** The manifest `lines` that may hold a row matching `predicate`
    * (all of them when None) — the one file-pruning filter every
    * predicate-scoped read, rewrite and conflict scope shares.
    * Conservative: a line is dropped only when its footer stats,
    * partition-path pseudo-stats or bloom tokens PROVE that some
    * top-level AND conjunct of the predicate cannot match (bloom tokens
    * exist only for data columns, so they never prune a partition-column
    * predicate); `orKeep` keeps a pruned line anyway. `predicate` is
    * resolved by analyzing a filter over the snapshot relation: a
    * Spark 4 Column is a ColumnNode tree, not a Catalyst expression,
    * and analysis both resolves it and types the literals into their
    * internal representations (dates → days, timestamps → micros),
    * which is what [[mayMatch]] compares stats against. A predicate
    * with no Filter left after analysis (e.g. `lit(true)`) prunes
    * nothing.
    */
  private def mayMatchLines(s: Snapshot, lines: Seq[String],
                            predicate: Option[org.apache.spark.sql.Column],
                            mergeSchema: Boolean,
                            schema: Option[StructType],
                            orKeep: Map[String, ColStats] => Boolean =
                              _ => false): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // analysis leaves `id = CAST(5 AS BIGINT)` for a bigint column; fold
    // such subexpressions into the literals mayMatch and bloomMayMatch
    // read. One that fails to evaluate stays, and keeps its files
    def fold(e: Expression): Expression = e.transformUp {
      case x if x.foldable && !x.isInstanceOf[Literal] =>
        scala.util.Try(Literal.create(x.eval(), x.dataType)).getOrElse(x)
    }
    // the conjuncts, and the columns the scan resolves as strings: a
    // string partition value that looks numeric (`day=01`) must
    // compare as a string
    val (cs, stringCols) = predicate.filter(_ => lines.nonEmpty).flatMap(pred =>
      scanFiles(s, lines, mergeSchema, schema)
        .where(pred).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            (split(f.condition).map(fold), f.child.output.collect {
              case a if a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] => a.name
            }.toSet)
        }).getOrElse((Seq.empty, Set.empty[String]))
    lines.filter { l =>
      val st = statsOf(l) ++ partitionStats(pathOf(l), stringCols)
      cs.forall(c => mayMatch(st, c) && bloomMayMatch(st, c)) || orKeep(st)
    }
  }

  /** Predicate-pruned snapshot read: drops every file whose manifest
    * stats prove the predicate cannot match, scans the rest, and
    * re-applies the full predicate (stats pruning is file-granular;
    * row filtering still happens — results are EXACTLY
    * `read(...).where(predicate)`). Top-level AND conjuncts prune
    * independently; anything stats can't reason about is ignored for
    * pruning and enforced by the row filter.
    */
  def readWhere(spark: SparkSession, path: String,
                predicate: org.apache.spark.sql.Column,
                mergeSchema: Boolean = false,
                schema: Option[StructType] = None): DataFrame =
    readSnapshot(snapshot(spark, path), mergeSchema, schema, Some(predicate))

  /** Snapshot read of the newest committed version. `mergeSchema` unions
    * the schemas of all referenced files — required once appends have
    * widened the table (see [[readVersion]]).
    */
  def read(spark: SparkSession, path: String,
           mergeSchema: Boolean = false,
           schema: Option[StructType] = None): DataFrame =
    readSnapshot(snapshot(spark, path), mergeSchema, schema)

  /** Time travel: snapshot read of an exact committed version.
    *
    * Schema evolution: data files are immutable, so a snapshot whose
    * appends added columns holds files with DIFFERENT schemas.
    * `mergeSchema = true` resolves the union schema across every file in
    * the snapshot (old files read the added columns as null) — the
    * mergeSchema=false default keeps single-footer schema resolution
    * (first listed file wins), which is only correct for homogeneous
    * snapshots.
    *
    * `schema` pins the read schema explicitly — in particular it pins
    * PARTITION column types, which are otherwise re-INFERRED from the
    * `key=value` directory strings (a string partition column holding
    * "07" infers as int 7 and would no longer equal "07"). Callers that
    * compare or merge against a frame with known types should pin.
    */
  def readVersion(spark: SparkSession, path: String, v: Long,
                  mergeSchema: Boolean = false,
                  schema: Option[StructType] = None): DataFrame =
    readSnapshot(snapshot(spark, path, Some(v)), mergeSchema, schema)

  /** Every file of snapshot `s`, scanned as one frame; with `where`,
    * [[readWhere]] of it: the files whose stats may match, filtered.
    * Callers that hold a snapshot read through this, so the rows come
    * from the version whose meta they already parsed.
    */
  private[graft] def readSnapshot(s: Snapshot, mergeSchema: Boolean = false,
                                  schema: Option[StructType] = None,
                                  where: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val kept = where.fold(s.lines)(p => mayMatchLines(s, s.lines, Some(p),
      mergeSchema, schema.orElse(s.declaredSchema)))
    val df = scanSnapshot(s, kept, mergeSchema, schema,
      s"version ${s.v} of ${s.path}")
    if (kept.isEmpty) df else where.fold(df)(df.where)
  }

  /** The declared schema of snapshot `s`, else its files' union schema. */
  private def tableSchema(s: Snapshot): StructType =
    s.declaredSchema.getOrElse(readSnapshot(s, mergeSchema = true).schema)

  /** `lines` of snapshot `s` scanned as one frame. An explicit caller
    * pin wins; otherwise the schema the manifest itself declares
    * (create/evolveSchema) pins the read — files written before an
    * evolution surface the added columns as null. With no line selected
    * the frame is empty with the snapshot's schema: Catalyst folds
    * Filter(false) to an empty relation, so nothing is read. An empty
    * snapshot has no parquet footer to infer from — a pinned or
    * declared schema reads it as an empty frame, otherwise the read
    * fails naming `what`.
    */
  private def scanSnapshot(s: Snapshot, lines: Seq[String],
                           mergeSchema: Boolean, schema: Option[StructType],
                           what: => String): DataFrame = {
    val pinned = schema.orElse(s.declaredSchema)
    if (lines.nonEmpty) scanFiles(s, lines, mergeSchema, pinned)
    else if (s.lines.nonEmpty)
      scanFiles(s, s.lines, mergeSchema, pinned).where(lit(false))
    else pinned match {
      case Some(sc) => s.spark.createDataFrame(
        s.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None => sys.error(s"$what is an empty snapshot with no files — " +
        "pass an explicit schema to read it as an empty frame")
    }
  }

  /** Absolute data-file paths of version `v`'s snapshot — the
    * file-list surface external readers (the `graft` DataSource V2
    * provider, [[graft.sources.GraftTableProvider]]) build on.
    */
  def snapshotFiles(spark: SparkSession, path: String, v: Long): Seq[String] =
    snapshot(spark, path, Some(v)).files

  // ----------------------------------------------- metadata-only aggregates
  //
  // COUNT(*) / COUNT(col) / MIN / MAX answered from the manifest's
  // file statistics ALONE — O(manifest lines) driver work, zero data
  // or footer I/O. At 100 TB this is the difference between a
  // row-count taking milliseconds and a full-lake scan; it is how
  // Delta/Iceberg serve `SELECT COUNT(*)`. Every method returns None
  // the moment the manifest cannot PROVE the answer (pre-null-count
  // files, a column without usable stats) — callers fall back to a
  // scan; the metadata path never guesses.

  /** Exact snapshot row count (head, or `version` when >= 0) from
    * per-file row counts, or None if any live file's manifest line
    * lacks one.
    */
  def metaRowCount(spark: SparkSession, path: String,
                   version: Long = -1L): Option[Long] =
    metaRowCountOfLines(metaSnapshot(spark, path, version).lines)

  /** The snapshot a metadata aggregate answers from: the head, or
    * `version` when >= 0.
    */
  private def metaSnapshot(spark: SparkSession, path: String,
                           version: Long): Snapshot = {
    val s = snapshotAt(spark, path, at(version), orEmpty = true)
    require(s.version.nonEmpty, s"no committed versions at $path")
    s
  }

  private[graft] def metaRowCountOfLines(lines: Seq[String]): Option[Long] = {
    val per = lines.map(l => statsOf(l).values.flatMap(_.rows).headOption)
    if (per.forall(_.isDefined)) Some(per.iterator.flatten.sum) else None
  }

  /** Exact head-snapshot COUNT(column) — non-null values — from
    * per-file row and null counts (partition columns via their path
    * pseudo-stats: a concrete partition value is zero nulls, the hive
    * null dir is all nulls). None unless every live file proves its
    * contribution.
    */
  def metaColumnCount(spark: SparkSession, path: String,
                      column: String, version: Long = -1L): Option[Long] =
    metaColumnCountOfLines(metaSnapshot(spark, path, version).lines, column)

  private[graft] def metaColumnCountOfLines(lines: Seq[String],
                                            column: String): Option[Long] = {
    val per = lines.map { l =>
      val st = statsOf(l)
      val cs = st.get(column).orElse(partitionStats(pathOf(l)).get(column))
      for {
        rows <- st.values.flatMap(_.rows).headOption
        nonNull <- cs.flatMap(c =>
          if (c.knownAllNull) Some(0L) else c.nulls.map(rows - _))
      } yield nonNull
    }
    if (per.forall(_.isDefined)) Some(per.iterator.flatten.sum) else None
  }

  /** Exact snapshot (MIN, MAX) of a column, rendered as the stats
    * strings, or None when the manifest can't prove them.
    *
    * `stringOrdered` declares the COLUMN's comparison semantics and
    * MUST be true iff the column is string-typed — the manifest alone
    * cannot know (a string partition value "2024" parses as a number
    * and would be tagged numeric, silently ordering "10" < "5" under
    * a numeric compare). With `stringOrdered = true` only partition
    * PATH values are accepted (exact by construction; data `s` stats
    * may be writer-truncated bounds) and extremes use unsigned UTF-8
    * byte order, regardless of the per-value tag guess. With the
    * numeric default, only `n`-tagged stats are accepted
    * (ints/longs/floats/doubles, dates as epoch days, micros
    * timestamps — parquet numeric chunk statistics are exact) and
    * extremes compare numerically. Provably all-null files contribute
    * nothing; an all-null or statless column returns None.
    */
  def metaMinMax(spark: SparkSession, path: String,
                 column: String, version: Long = -1L,
                 stringOrdered: Boolean = false)
      : Option[(String, String)] =
    metaMinMaxOfLines(metaSnapshot(spark, path, version).lines, column,
      stringOrdered)

  private[graft] def metaMinMaxOfLines(lines: Seq[String], column: String,
                                       stringOrdered: Boolean)
      : Option[(String, String)] = {
    // per live file: None = provably no values (all-null; skip),
    // Some((min, max)) otherwise — bail the moment a file can't prove
    // exact extremes under the declared ordering
    val contrib = lines.map { l =>
      val pstats = partitionStats(pathOf(l))
      val fromPath = pstats.get(column)
      fromPath.orElse(statsOf(l).get(column)) match {
        case Some(c) if c.allNull => Some(None)
        case Some(c) if stringOrdered && fromPath.isDefined =>
          Some(Some((c.min, c.max)))
        case Some(c) if !stringOrdered && c.tag == "n" =>
          Some(Some((c.min, c.max)))
        case _ => None
      }
    }
    if (contrib.exists(_.isEmpty)) return None
    val vals = contrib.flatten.flatten
    if (vals.isEmpty) return None
    val cmp: (String, String) => Int =
      if (stringOrdered) utf8Cmp
      else (a, b) => BigDecimal(a).compare(BigDecimal(b))
    Some((vals.map(_._1).reduce((a, b) => if (cmp(a, b) <= 0) a else b),
      vals.map(_._2).reduce((a, b) => if (cmp(a, b) >= 0) a else b)))
  }

  /** The snapshot's manifest lines grouped by partition directory,
    * with each group's partition values parsed from its `k=v` path
    * segments (`None` = the hive null partition). The backing for
    * PARTITION-GROUPED metadata aggregates: declines (None) when the
    * table declares no partition columns, or any live file's path does
    * not carry exactly the declared columns (mixed or legacy layouts)
    * — the scan path owns those.
    */
  private[graft] def metaPartitionLines(s: Snapshot)
      : Option[Seq[(Map[String, Option[String]], Seq[String])]] = {
    val partCols = s.partitionCols.getOrElse(Nil)
    if (partCols.isEmpty) return None
    val grouped = s.lines.groupBy(l => partitionDirOf(pathOf(l))).toSeq
    val parsed = grouped.map { case (dir, ls) =>
      val segs = dir.split('/').filter(_.contains('=')).map { seg =>
        val i = seg.indexOf('=')
        val raw = seg.substring(i + 1)
        seg.substring(0, i) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") None
           else Some(unescapePartition(raw)))
      }.toMap
      if (segs.keySet == partCols.toSet) Some((segs, ls)) else None
    }
    if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
  }

  /** Absolute paths of a commit's row-level change-data parquet files
    * (the `cdf=<uuid>` payload) — the file-list surface the streaming
    * change feed ([[graft.sources.GraftCdfMicroBatchStream]]) scans.
    */
  private[graft] def changeDataFiles(spark: SparkSession, path: String,
                                     uuid: String): Seq[String] = {
    val (fs, p) = fsFor(spark, path)
    fs.listStatus(new Path(p, s"$ChangesDir/$uuid")).toSeq
      .map(_.getPath)
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(_.toString).sorted
  }

  /** Scan explicit manifest file lines as one DataFrame.
    *
    * Partition discovery walks each file's parents collecting
    * key=value dirs and requires every file to resolve the SAME
    * non-partition base — but a snapshot built by append/replace
    * holds files from several immutable commit dirs
    * (data/<uuidA>/day=10, data/<uuidB>/day=40), whose bases differ.
    * So: scan per commit dir (each is internally consistent:
    * key=value parents under one uuid base) and union the scans.
    * The union is N = live-commit-dirs branches — bounded by commits
    * since the last overwrite, vacuum resets it — and filters/pruning
    * push into every branch.
    *
    * Each branch's schema is `schema` (the caller's or the declared
    * one) when given, else the schema recorded for the branch's lines
    * in the meta of `s` — the snapshot the lines come from. Only a
    * branch with neither leaves Spark to infer its schema from a
    * footer, which costs a job.
    */
  private def scanFiles(s: Snapshot, lines: Seq[String],
                        mergeSchema: Boolean,
                        schema: Option[StructType]): DataFrame = {
    def scan(group: Seq[String]): DataFrame = {
      val r = s.spark.read.option("mergeSchema", mergeSchema.toString)
        .option("basePath", s.root.toString)
      schema.orElse(recordedSchemaOf(s.meta, group)).fold(r)(r.schema)
        .parquet(group.map(l => new Path(s.root, pathOf(l)).toString): _*)
    }
    val out = lines.groupBy(pathOf(_).split('/').take(2).mkString("/")).toSeq
      .sortBy(_._1).map(g => scan(g._2))
      // mergeSchema also widens ACROSS commit dirs (append may have
      // added columns); without it a heterogeneous union fails loudly
      .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
    // the file source surfaces hive-partition columns LAST regardless
    // of the pinned schema's order — project back to the declared order
    // so pinned reads are column-order-stable (and empty-snapshot reads,
    // built straight from the schema, agree with non-empty ones)
    schema.fold(out)(sc =>
      out.select(sc.fieldNames.toIndexedSeq.map(col): _*))
  }

  /** Manifest-relative data files added and removed between two
    * committed versions: `(added, removed)` where `added` is in
    * `toV`'s snapshot but not `fromV`'s and `removed` the reverse.
    * Pure log arithmetic — no data I/O; cost is two manifest reads
    * regardless of table size. Data files are immutable and
    * content-addressed by commit uuid, so path set-difference IS the
    * change set (a file is never rewritten in place).
    */
  def changedFiles(spark: SparkSession, path: String,
                   fromV: Long, toV: Long): (Seq[String], Seq[String]) = {
    val (fs, p) = fsFor(spark, path)
    val from = readManifest(fs, p, fromV)._2.map(pathOf).toSet
    val to = readManifest(fs, p, toV)._2.map(pathOf).toSet
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /** Incremental read: exactly the rows in files ADDED between `fromV`
    * (exclusive) and `toV` (inclusive; defaults to the head). This is
    * the consume-the-delta primitive for incremental pipelines — at
    * 100 TB the difference between re-scanning the lake and scanning
    * one day's commits. I/O is proportional to the appended data, not
    * the table; a consumer that remembers the last version it processed
    * gets at-least-once incremental processing with no full rescans.
    *
    * For append-only tables this is complete CDC. Commits that also
    * remove files (overwrite / replacePartitions / compact) surface
    * their rewritten rows as additions — pair with [[readChanges]] when
    * the removed side matters. `fromV = 0` reads the full head snapshot
    * (every live file is "added since before version 1").
    */
  def readAppended(spark: SparkSession, path: String, fromV: Long,
                   toV: Long = -1L,
                   mergeSchema: Boolean = false,
                   schema: Option[StructType] = None): DataFrame = {
    val s = snapshot(spark, path, at(toV))
    val base =
      if (fromV <= 0) Set.empty[String]
      else readManifest(s.fs, s.root, fromV)._2.map(pathOf).toSet
    // no new files: an empty frame with the snapshot's schema
    scanSnapshot(s, s.lines.filterNot(l => base(pathOf(l))), mergeSchema,
      schema, s"version ${s.v} of $path")
  }

  /** Change-data-capture frame over the commits in `(fromV, toV]`, one
    * tagged row set PER COMMIT, stamped [[CommitVersionCol]] /
    * [[CommitTimestampCol]] — Delta's `table_changes`. Per commit:
    *
    *  - DML commits (MERGE / UPDATE / DELETE) carry ROW-LEVEL change
    *    data (`cdf=<uuid>` meta, see [[ChangeDataMetaKey]]): exactly
    *    the changed rows, tagged insert / update_preimage /
    *    update_postimage / delete. Rows the rewrite merely CARRIED
    *    (copy-on-write copies whole files) do NOT appear — an
    *    incremental consumer downstream of row-level DML stays
    *    exactly-once with no spurious re-ingest.
    *  - Layout commits (OPTIMIZE / compact) are `cdf=0`: data-identical
    *    by construction, zero change rows.
    *  - Everything else (append, overwrite, restore, replace,
    *    pre-CDF history) falls back to file-granular capture: rows of
    *    files added since the previous version tagged "insert", rows
    *    of removed files "delete" — the old contract, still correct,
    *    just coarser.
    *
    * I/O is proportional to the CHANGED rows/files only, never a
    * snapshot rescan. `fromV` must be 0 or a retained version (the
    * fallback diffs against it — vacuumed history fails loudly rather
    * than silently replaying a snapshot).
    */
  def readChanges(spark: SparkSession, path: String, fromV: Long,
                  toV: Long = -1L,
                  mergeSchema: Boolean = false,
                  schema: Option[StructType] = None): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"$path is not a TxTable (no $LogDir manifests)")
    val hi = if (toV < 0) vs.last else toV
    // every manifest is read at most once, even a fallback's baseline
    val snaps = scala.collection.mutable.Map.empty[Long, Snapshot]
    def snap(v: Long) = snaps.getOrElseUpdate(v, snapshot(spark, path, Some(v)))
    // every version in (fromV, hi] must be retained — a vacuumed gap
    // would silently skip its changes (fromV itself is only needed by
    // the file-granular fallback, checked lazily below: a row-level
    // DML commit carries its own change data and doesn't need it)
    require(fromV == 0 || fromV + 1 >= vs.head,
      s"changes in ($fromV, ${vs.head - 1}] of $path were vacuumed — " +
      "incremental change reads cannot resume from it")
    val range = vs.filter(v => v > fromV && v <= hi)
    def stamped(df: DataFrame, s: Snapshot): DataFrame =
      df.withColumn(CommitVersionCol, lit(s.v)).withColumn(CommitTimestampCol,
        lit(new java.sql.Timestamp(commitTimestampOf(s))))
    val frames = range.flatMap { v =>
      val cur = snap(v)
      cur.meta.get(ChangeDataMetaKey) match {
        case Some("0") => None // row-change-free commit
        case Some(uuid) =>
          Some(stamped(Sources.pinnedParquet(spark,
            new Path(cur.root, s"$ChangesDir/$uuid").toString), cur))
        case None =>
          // v-1 vacuumed (v is the earliest retained version): under a
          // full-history read (fromV=0) the cumulative snapshot IS the
          // insert set — exact. A mid-history consumer has no baseline
          // to diff against: fail loudly, never double-ingest.
          val prev =
            if (v - 1 <= 0) cur.copy(lines = Nil)
            else if (!vs.contains(v - 1)) {
              if (fromV == 0) cur.copy(lines = Nil)
              else sys.error(
                s"version ${v - 1} of $path was vacuumed — file-granular " +
                s"change capture for v$v has no baseline to diff against")
            }
            else snap(v - 1)
          val prevPaths = prev.lines.map(pathOf).toSet
          val curPaths = cur.lines.map(pathOf).toSet
          val added = cur.lines.filterNot(l => prevPaths(pathOf(l)))
          val removed = prev.lines.filterNot(l => curPaths(pathOf(l)))
            .sortBy(pathOf)
          val pinned = schema.orElse(cur.declaredSchema)
          // each side's schema record lives in its own manifest's head
          def tagged(side: Snapshot, lines: Seq[String],
                     tag: String): Option[DataFrame] =
            Option.when(lines.nonEmpty)(scanFiles(side, lines, mergeSchema,
              pinned).withColumn(ChangeTypeCol, lit(tag)))
          (tagged(cur, added, "insert") ++ tagged(prev, removed, "delete"))
            .reduceOption(_.unionByName(_,
              allowMissingColumns = mergeSchema))
            .map(stamped(_, cur))
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = mergeSchema))
      .getOrElse(stamped(readSnapshot(snap(hi), mergeSchema, schema)
        .withColumn(ChangeTypeCol, lit("insert")), snap(hi)).where(lit(false)))
  }

  /** Row-level DELETE, copy-on-write: rewrite ONLY the files whose
    * manifest stats say they may hold matching rows; every other file
    * carries over untouched — same bytes, same manifest line, stats
    * included. SQL semantics: rows where the predicate is TRUE are
    * removed; FALSE and NULL rows survive. Commits one atomic
    * "replace" version; readers pinned to earlier versions still see
    * the deleted rows until [[vacuum]] (that is the time-travel
    * contract, and what makes this GDPR-complete only after a vacuum).
    *
    * At 100 TB this is the difference between a delete rewriting the
    * lake and rewriting the handful of files a needle predicate can
    * touch — the same pruning as [[readWhere]], applied to the WRITE
    * side. A predicate stats can't reason about degrades to a full
    * rewrite, never to a wrong result. Returns the committed version,
    * or None when no file could match (no commit at all).
    *
    * Concurrency: the rewrite is analyzed against the head snapshot at
    * call time; files appended by writers racing this delete are kept
    * verbatim (their rows are NOT filtered) — same last-writer
    * semantics as [[overwrite]].
    *
    * `changeFeed = false` skips the row-level change capture (one
    * bounded job saved); [[readChanges]] then falls back to
    * file-granular capture for this commit — honest coarseness, never
    * a false "no changes" claim. Same switch on [[update]], [[merge]],
    * [[applyChanges]].
    *
    * `meta`/`guard` — carried-meta updates and [[append]]-style
    * sequence preconditions riding IN the delete commit itself: an
    * engine component whose carried stats must stay consistent with
    * the row set (the BM25 index's N/Σ|d|) folds the stats transition
    * into the delete so readers never observe rows and stats from
    * different states. When pruning finds no candidate file, nothing
    * commits and `meta` is NOT applied (the caller's stats are still
    * exact, since no row changed).
    */
  def delete(spark: SparkSession, path: String,
             predicate: org.apache.spark.sql.Column,
             partitionCols: Seq[String] = Nil,
             mergeSchema: Boolean = false,
             schema: Option[StructType] = None,
             changeFeed: Boolean = true,
             meta: Map[String, String] = Map.empty,
             guard: Map[String, Long] = Map.empty): Option[Long] = {
    val hit = coalesce(predicate, lit(false))
    val s = snapshot(spark, path)
    val files = filesMatching(s, Some(predicate), mergeSchema, schema)
    if (files.isEmpty) None
    else Some(rewriteFiles(s, files, partitionCols, mergeSchema,
      schema, meta, guard, Option.when(changeFeed)(
        _.where(hit).withColumn(ChangeTypeCol, lit("delete"))))(
      // keep rows where the predicate is FALSE or NULL (SQL DELETE)
      _.where(not(hit))))
  }

  /** Row-level UPDATE, copy-on-write: in files that may hold matching
    * rows (stats-pruned like [[delete]]), each `set` column becomes
    * `CASE WHEN predicate THEN expr ELSE old END`; untouched files
    * carry over verbatim. NULL-predicate rows are not updated (SQL
    * semantics). Returns the committed version, or None when no file
    * could match.
    */
  def update(spark: SparkSession, path: String,
             predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             partitionCols: Seq[String] = Nil,
             mergeSchema: Boolean = false,
             schema: Option[StructType] = None,
             changeFeed: Boolean = true): Option[Long] = {
    require(set.nonEmpty, "update needs at least one SET column")
    // SET keys validated UP FRONT against the table schema — the
    // per-column projection below silently keeps the old value for a
    // key that matches no column, so a typo'd SET would otherwise
    // no-op (or, when pruning removes every file, skip the rewrite's
    // own check entirely) and the caller would believe the row changed
    val s = snapshot(spark, path)
    val tableCols = schema.orElse(s.declaredSchema).map(_.fieldNames.toSeq)
      .getOrElse(readSnapshot(s, mergeSchema).columns.toSeq)
    val unknownSet = set.keySet -- tableCols
    require(unknownSet.isEmpty,
      s"SET columns not in the table: ${unknownSet.mkString(", ")}")
    // the post-image projection: `set` applied unconditionally (callers
    // gate on the predicate) — one simultaneous select so every SET
    // expression reads the PRE-update row (SQL UPDATE semantics; a
    // sequential fold would let SET a = b, b = a read the updated a)
    def applySet(rows: DataFrame): DataFrame =
      rows.select(rows.columns.map { name =>
        set.get(name).map(_.as(name)).getOrElse(col(name))
      }.toIndexedSeq: _*)
    val hit = coalesce(predicate, lit(false))
    val files = filesMatching(s, Some(predicate), mergeSchema, schema)
    if (files.isEmpty) None
    else Some(rewriteFiles(s, files, partitionCols, mergeSchema,
      schema, changes = Option.when(changeFeed) { rows =>
        val matched = rows.where(hit)
        matched.withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(applySet(matched)
            .withColumn(ChangeTypeCol, lit("update_postimage")))
      }) { rows =>
      val unknown = set.keySet -- rows.columns
      require(unknown.isEmpty,
        s"SET columns not in the table: ${unknown.mkString(", ")}")
      rows.select(rows.columns.map { name =>
        set.get(name).fold(col(name))(e =>
          when(hit, e).otherwise(col(name)).as(name))
      }.toIndexedSeq: _*)
    })
  }

  /** Keyed MERGE (upsert), copy-on-write: each row of `updates`
    * replaces the existing rows with an equal key tuple and is inserted
    * otherwise — `WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *`,
    * the Delta MERGE fast path, run by [[keyedRewrite]] (see there for
    * the scale shape). A replaced row's post-image is the whole update
    * row: under `mergeSchema` the update's extra columns land, and a
    * replaced row's target-only columns become null. A key that several
    * existing rows hold replaces each of them (one image pair per
    * existing row, as in [[mergeInto]]).
    *
    * Null keys never match (SQL equality): null-key update rows insert,
    * null-key existing rows survive. `nullSafeKeys = true` matches with
    * `<=>` instead, so existing null-key rows ARE replaced by null-key
    * update rows — what an aggregate-view maintainer needs (a null group
    * is a group).
    *
    * Duplicate update keys are rejected: they would land several rows
    * per key in a table whose contract is one row per key. A caller
    * whose updates are key-unique by construction (a groupBy's output,
    * a topOnePerGroup winner set) passes `checkUniqueKeys = false` and
    * skips the grouped probe's exchange, which matters on
    * merge-per-microbatch hot paths. An empty update set rewrites
    * nothing; a non-empty `meta` or `guard` still commits, metadata
    * only, so an incremental consumer's offset advances.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCols: Seq[String],
            partitionCols: Seq[String] = Nil,
            mergeSchema: Boolean = false,
            schema: Option[StructType] = None,
            meta: Map[String, String] = Map.empty,
            nullSafeKeys: Boolean = false,
            guard: Map[String, Long] = Map.empty,
            changeFeed: Boolean = true,
            checkUniqueKeys: Boolean = true): Long =
    keyedRewrite(spark, path, "merge", updates, keyCols,
      KeyedClauses(upsert = true), partitionCols, mergeSchema, schema,
      meta, guard, changeFeed, nullSafeKeys = nullSafeKeys,
      checkUniqueKeys = checkUniqueKeys)

  /** Source-column reference for [[mergeInto]] clause expressions: the
    * joined row exposes target columns under their own names and
    * source columns as `src_<name>` — `TxTable.src("x")` is sugar for
    * `col("src_x")`.
    */
  def src(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(s"src_$name")

  /** Conditional multi-clause MERGE — Delta's full
    * `WHEN MATCHED [AND cond] THEN UPDATE SET … / DELETE,
    * WHEN NOT MATCHED [AND cond] THEN INSERT` shape, against the
    * copy-on-write log. Clause semantics (per matched target row,
    * DELETE clause evaluated first, Delta's default clause order):
    *
    *  - matched ∧ `deleteWhen` → row removed;
    *  - else matched ∧ `updateWhen` → `updateSet` applied (one
    *    simultaneous projection; expressions read the PRE-update row
    *    and may reference source columns via [[src]]);
    *  - else → row carried unchanged.
    *  - source rows matching NO target key, passing `insertWhen`
    *    (evaluated over the source's own columns) → inserted. Inserts
    *    align BY NAME, so the source schema must match the table's
    *    (modulo `mergeSchema` widening) when `insertUnmatched` is on;
    *    a clause-only merge over a differently-shaped source sets
    *    `insertUnmatched = false`.
    *  - target rows whose key matches NO source row, passing
    *    `deleteBySourceWhen` (evaluated over the TARGET row alone —
    *    there is no source row to reference) → removed; else passing
    *    `updateBySourceWhen` → `updateBySourceSet` applied (values
    *    also target-only). These are Delta's `WHEN NOT MATCHED BY
    *    SOURCE THEN DELETE / UPDATE SET` — the replicate-a-snapshot
    *    and mark-stale clauses (`Some(lit(true))` hits every key
    *    absent from the source). NOTE the scale cost: a by-source
    *    clause makes EVERY file a rewrite candidate (any file may hold
    *    unmatched rows), so source-key-bounds pruning is disabled for
    *    the statement — exactly Delta's behavior, and why by-source
    *    merges belong in replication jobs, not hot upsert paths.
    *
    * Conditions evaluate over the target row joined with its matching
    * source row (source columns prefixed `src_` — a target column named
    * `src_*` or `__m` is refused, since it would make clause expressions
    * ambiguous). NULL conditions are false (SQL WHERE semantics);
    * null keys never match (plain equality), so null-key source rows
    * can only INSERT. Each source key should match at most one clause
    * application per target row; duplicate source keys are rejected
    * (Delta's multiple-matches error) because "which source row
    * updates the target" would be nondeterministic. Runs on
    * [[keyedRewrite]] (see there for the scale shape).
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keyCols: Seq[String],
                updateWhen: Option[org.apache.spark.sql.Column] = None,
                updateSet: Map[String, org.apache.spark.sql.Column] = Map.empty,
                deleteWhen: Option[org.apache.spark.sql.Column] = None,
                insertWhen: Option[org.apache.spark.sql.Column] = None,
                insertUnmatched: Boolean = true,
                deleteBySourceWhen: Option[org.apache.spark.sql.Column] = None,
                updateBySourceWhen: Option[org.apache.spark.sql.Column] = None,
                updateBySourceSet: Map[String, org.apache.spark.sql.Column] =
                  Map.empty,
                partitionCols: Seq[String] = Nil,
                mergeSchema: Boolean = false,
                schema: Option[StructType] = None,
                meta: Map[String, String] = Map.empty,
                guard: Map[String, Long] = Map.empty,
                changeFeed: Boolean = true): Long = {
    require(updateWhen.isEmpty || updateSet.nonEmpty,
      "updateWhen needs a non-empty updateSet")
    require(updateBySourceWhen.isEmpty || updateBySourceSet.nonEmpty,
      "updateBySourceWhen needs a non-empty updateBySourceSet")
    // Delta's `WHEN MATCHED THEN UPDATE` with no AND-condition is an
    // UNCONDITIONAL update — a SET without its condition means
    // lit(true), never a silently ignored clause
    def orTrue(when: Option[Column], set: Map[String, Column]) =
      if (when.isEmpty && set.nonEmpty) Some(lit(true)) else when
    val c = KeyedClauses(updateWhen = orTrue(updateWhen, updateSet),
      updateSet = updateSet, deleteWhen = deleteWhen,
      insertWhen = insertWhen, insertUnmatched = insertUnmatched,
      deleteBySourceWhen = deleteBySourceWhen,
      updateBySourceWhen = orTrue(updateBySourceWhen, updateBySourceSet),
      updateBySourceSet = updateBySourceSet)
    require(c.updateWhen.nonEmpty || deleteWhen.nonEmpty || insertUnmatched ||
        c.bySource,
      "mergeInto with no clauses would be a no-op — give it one")
    keyedRewrite(spark, path, "mergeInto", source, keyCols, c,
      partitionCols, mergeSchema, schema, meta, guard, changeFeed)
  }

  /** Apply a keyed CHANGE SET — upserts plus deletes — as ONE atomic
    * commit: rows of `upserts` replace existing rows with equal key
    * tuples (insert otherwise, exactly [[merge]]: duplicate upsert keys
    * are rejected), and existing rows whose keys appear in `deleteKeys` are
    * removed — all in the same copy-on-write replace version, so a
    * crash can never land the upserts without the deletes. This is the
    * APPLY side of the change feed: a follower that reduced
    * [[readChanges]] output to final per-key actions materializes them
    * here with one commit per consumed increment
    * ([[graft.streaming.TxFollower.processChanges]]).
    *
    * The change set goes to [[keyedRewrite]] as one source: the
    * upserts, plus the delete keys no upsert names, flagged as deletes
    * (a flagged row deletes its match and never inserts). So a key that
    * is both upserted and deleted is upserted, in the data and in the
    * commit's own change feed — the feed never claims a delete for a
    * key the data kept, or a downstream replica diverges. The data
    * keeps the upserts' column types, however wide the delete keys'
    * are. Null keys never match under the default SQL equality
    * (null-key upserts insert, null-key deletes are no-ops);
    * `nullSafeKeys = true` makes a null key a real key, as in [[merge]].
    * An empty change set commits metadata only (offset advance),
    * honoring `guard` — same contract as [[merge]]'s empty-update path.
    */
  def applyChanges(spark: SparkSession, path: String, upserts: DataFrame,
                   deleteKeys: DataFrame, keyCols: Seq[String],
                   partitionCols: Seq[String] = Nil,
                   mergeSchema: Boolean = false,
                   schema: Option[StructType] = None,
                   meta: Map[String, String] = Map.empty,
                   guard: Map[String, Long] = Map.empty,
                   changeFeed: Boolean = true,
                   nullSafeKeys: Boolean = false): Long = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val upsertKeys = upserts.select(keyCols.map(col): _*)
      .toDF(keyCols.map(k => s"__u_$k"): _*)
    val dk = deleteKeys.select(keyCols.map(col): _*).distinct()
    val deletes = dk.join(upsertKeys, keyCols.map(k =>
        if (nullSafeKeys) dk(k) <=> col(s"__u_$k")
        else dk(k) === col(s"__u_$k")).reduce(_ && _), "left_anti")
    // under SQL equality a null delete key matches nothing; dropping it
    // keeps it from posing as a duplicate of a null-key upsert
    val matchable =
      if (nullSafeKeys) deletes
      else deletes.where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val flag = graft.util.Cols.fresh(upserts, "__del")
    keyedRewrite(spark, path, "applyChanges",
      upserts.unionByName(matchable.withColumn(flag, lit(true)),
        allowMissingColumns = true),
      keyCols, KeyedClauses(upsert = true, insertWhen = Some(col(flag).isNull)),
      partitionCols, mergeSchema, schema, meta, guard, changeFeed,
      dataCols = Some(upserts), nullSafeKeys = nullSafeKeys)
  }

  /** The clauses of one [[keyedRewrite]], as [[mergeInto]] names them;
    * a SET's condition is already defaulted to `lit(true)`. `upsert` is
    * the shape of [[merge]] and [[applyChanges]]: a matched row becomes
    * its source row when that row passes `insertWhen`, and is deleted
    * otherwise; the other clauses are unused.
    */
  private final case class KeyedClauses(
      upsert: Boolean = false,
      updateWhen: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      insertUnmatched: Boolean = true,
      deleteBySourceWhen: Option[Column] = None,
      updateBySourceWhen: Option[Column] = None,
      updateBySourceSet: Map[String, Column] = Map.empty) {
    def bySource: Boolean =
      deleteBySourceWhen.nonEmpty || updateBySourceWhen.nonEmpty
  }

  /** The one keyed-rewrite pipeline behind [[merge]], [[mergeInto]] and
    * [[applyChanges]]: join the head snapshot's candidate files with
    * `source` on `keyCols`, apply `c` to every joined row, and commit
    * the result as one atomic replace version.
    *
    * Scale shape: `source` is pinned once, and released after the commit,
    * so a nondeterministic plan is evaluated once. One aggregate over it —
    * grouped by key under `checkUniqueKeys` — yields the duplicate-key
    * check, emptiness, the key bounds and the null-key flags. Only files
    * whose key stats intersect those bounds are rewritten (stats and
    * partition pruning, as in [[delete]]); under `nullSafeKeys` a null
    * source key also keeps every file whose null counts do not prove zero
    * null keys, and a by-source clause keeps every file. Untouched files
    * carry over verbatim. The candidate files are FULL OUTER JOINed to the
    * source once (`===`, or `<=>` under `nullSafeKeys`), and every joined
    * row is classified once (delete / update / carry / insert, Delta's
    * MERGE shape). Both writes are single projections of that join: the new
    * files, and the row-level change feed (delete / update_preimage /
    * update_postimage / insert, one explode over each row's images). With
    * the feed on, the join is persisted for the two writes, so each reads
    * it exactly once. One atomic replace commit lands both.
    *
    * `dataCols` gives the source's data columns and their types when
    * the source carries more ([[applyChanges]]' delete flag and delete
    * keys); the new files and the feed take their shape from it. `op`
    * names the caller in error messages.
    */
  private def keyedRewrite(spark: SparkSession, path: String, op: String,
                           source: DataFrame, keyCols: Seq[String],
                           c: KeyedClauses,
                           partitionCols: Seq[String],
                           mergeSchema: Boolean,
                           schema: Option[StructType],
                           meta: Map[String, String],
                           guard: Map[String, Long],
                           changeFeed: Boolean,
                           dataCols: Option[DataFrame] = None,
                           nullSafeKeys: Boolean = false,
                           checkUniqueKeys: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{array, max, min}
    import org.apache.spark.sql.types.StructField
    require(keyCols.nonEmpty, s"$op needs at least one key column")
    val s = snapshot(spark, path)
    val pinned = schema.orElse(s.declaredSchema)
    val layout = layoutOrDeclared(s.meta, partitionCols)
    val s0 = GraftShim.pin(source)
    try {
      val data = dataCols.getOrElse(s0)
      // the probe: one aggregate yields the key bounds, the null-key flags
      // and emptiness (a null max count) — over the source GROUPED by key
      // under checkUniqueKeys, where the max count is the duplicate-key
      // check too; the offending key is looked up only on the failure path
      val cnt = graft.util.Cols.fresh(s0, "__cnt")
      val keys = keyCols.map(col)
      val counted =
        if (checkUniqueKeys) s0.groupBy(keys: _*).agg(count(lit(1)).as(cnt))
        else s0.select(keys :+ lit(1L).as(cnt): _*)
      val probeAggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k)))) ++
        keyCols.map(k => max(col(k).isNull.cast("int"))) :+ max(col(cnt))
      val probe = counted.agg(probeAggs.head, probeAggs.tail: _*).head()
      val sourceEmpty = probe.isNullAt(probeAggs.size - 1)
      require(sourceEmpty || probe.getLong(probeAggs.size - 1) == 1,
        s"$op source has duplicate key " +
        s"${counted.where(col(cnt) > 1).limit(1).collect().headOption}" +
        " — aggregate it first so one row per key remains (Delta's" +
        " multiple-matches error)")
      // a commit of the inserts alone, in the data columns' shape; it
      // removes no file, so every head file survives, racing ones too
      def insertOnly() = {
        val kept =
          if (!c.insertUnmatched) s0.where(lit(false))
          else c.insertWhen.fold(s0)(s0.where(_))
        val inserts = kept.select(data.schema.fields.toIndexedSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
        commit(s, inserts, "replace", (base, _) => base, layout,
          meta ++ (if (changeFeed) writeChangeData(s,
            inserts.withColumn(ChangeTypeCol, lit("insert")))
          else Map.empty[String, String]), ReadSet(guard = guard))
      }
      // nothing to rewrite, but meta (e.g. a consumer offset) must still
      // land durably: a metadata-only commit — silently dropping it would
      // stall incremental consumers on empty increments. A guard must be
      // evaluated through the claim loop too, never skipped: a guard-only
      // caller is asking "did a concurrent committer beat me"
      def metaOnly(): Long =
        if (meta.isEmpty && guard.isEmpty) s.v
        else metaCommit(s, "append", meta + (ChangeDataMetaKey -> "0"),
          ReadSet(guard = guard))
      if (s.lines.isEmpty) return insertOnly()
      // an empty source is NOT a no-op under a by-source clause: every
      // target row is then unmatched and subject to the by-source clauses
      if (sourceEmpty && !c.bySource) return metaOnly()

      // SET keys validated against the TARGET's columns up front:
      // afterClauses projects over existing.columns and silently skips a
      // key that matches no target column, so a typo'd SET (through the
      // SQL surface too) would commit a version that changed nothing and
      // report success. Checked after the bootstrap path — an empty table
      // has no target schema to validate against, and its commit never
      // runs the clauses.
      val setKeys = c.updateSet.keySet ++ c.updateBySourceSet.keySet
      if (setKeys.nonEmpty) {
        val targetCols = pinned.map(_.fieldNames.toSeq)
          .getOrElse(readSnapshot(s, mergeSchema).columns.toSeq)
        val unknownSet = setKeys -- targetCols
        require(unknownSet.isEmpty,
          s"$op SET columns not in the target: " + unknownSet.mkString(", "))
      }

      // key-bounds pruning; a null bound (all-null keys) constrains
      // nothing. Under null-safe matching a null source key may match in
      // any file whose null-count stats do not PROVE zero null keys
      // (pre-null-count manifests have no counts and stay candidates). A
      // by-source clause disables pruning: any file may hold
      // source-unmatched rows, so every file is a candidate. The null-key
      // flags are null when the source is empty
      val bounds = keyCols.zipWithIndex.flatMap { case (k, i) =>
        if (c.bySource || probe.isNullAt(2 * i) || probe.isNullAt(2 * i + 1))
          None
        else Some(col(k).between(lit(probe.get(2 * i)),
          lit(probe.get(2 * i + 1))))
      }.reduceOption(_ && _)
      val anyNullKey = nullSafeKeys && keyCols.indices.map(2 * keyCols.size + _)
        .exists(i => !probe.isNullAt(i) && probe.getInt(i) == 1)
      val candidates = mayMatchLines(s, s.lines, bounds,
        mergeSchema, pinned, orKeep = st => anyNullKey &&
          keyCols.exists(k => st.get(k).flatMap(_.nulls).forall(_ > 0)))
      // no candidate file can hold a match: every passing source row is an
      // insert and nothing is rewritten; with inserts off the statement is
      // a no-op (meta/guard still honored)
      if (candidates.isEmpty)
        return if (c.insertUnmatched) insertOnly() else metaOnly()
      // drop exactly the rewritten files (see [[rewriteFiles]]), so a
      // racing append between analysis and claim is never lost
      val candidatePaths = candidates.map(pathOf).toSet
      val existing = scanFiles(s, candidates, mergeSchema, pinned)
      // the joined frame: target columns by name, source columns under a
      // prefix, plus a match marker (null-safe "did a source row join
      // here"). mergeInto's clause expressions name source columns
      // src_<name>, so there a target column that looks like one (or the
      // marker) would make them silently ambiguous — refuse loudly. The
      // upsert shape has no clause expressions and takes fresh names, so
      // any target column name works
      val (pre, mark) =
        if (c.upsert) {
          val taken = (existing.columns ++ s0.columns).toSet
          val pre = Iterator.from(0).map(i => s"__s${i}_")
            .find(pr => s0.columns.forall(n => !taken(pr + n))).get
          (pre, graft.util.Cols.fresh(taken, "__m"))
        } else {
          val clash = existing.columns.filter(n =>
            n == "__m" || n.startsWith("src_"))
          require(clash.isEmpty,
            s"mergeInto cannot run against target columns named " +
            s"${clash.mkString(", ")} — the src_ prefix and __m are " +
            "reserved for clause-expression scoping")
          ("src_", "__m")
        }
      // ONE full outer join classifies every row once: target rows carry
      // a target marker, source rows the match marker and their insert
      // flag (insertWhen over the source's own columns). Both writes are
      // single projections of it; with the change feed on, two writes
      // read it, so it is persisted and the second pays a cache read
      val tMark = graft.util.Cols.fresh(existing, "__t")
      val iFlag = graft.util.Cols.fresh(existing.columns ++ s0.columns, "__i")
      val tgt = existing.withColumn(tMark, lit(true))
      val srcFlagged = s0.withColumn(iFlag,
        if (!c.insertUnmatched) lit(false)
        else coalesce(c.insertWhen.getOrElse(lit(true)), lit(false)))
        .toDF(s0.columns.map(pre + _) :+ iFlag: _*)
        .withColumn(mark, lit(true))
      val joined = tgt.join(srcFlagged, keyCols.map(k =>
          if (nullSafeKeys) tgt(k) <=> col(pre + k)
          else tgt(k) === col(pre + k)).reduce(_ && _),
        "full_outer")
      def holds(cond: Option[Column]): Column =
        coalesce(cond.getOrElse(lit(false)), lit(false))
      val isTarget = col(tMark).isNotNull
      val matched = isTarget && coalesce(col(mark), lit(false))
      // an upsert replaces a matched row by its source row, or deletes it
      // when the source row is not kept
      val delCond = matched &&
        (if (c.upsert) !col(iFlag) else holds(c.deleteWhen))
      // by-source clauses: target rows with NO source match; conditions
      // and SET values see the target row alone (source columns are all
      // null here). Delete evaluated first, mirroring the matched side.
      val bySrcDel = isTarget && !matched && holds(c.deleteBySourceWhen)
      val updCond = matched && !delCond &&
        (if (c.upsert) lit(true) else holds(c.updateWhen))
      val bySrcUpdCond = isTarget && !matched && !bySrcDel &&
        holds(c.updateBySourceWhen)
      val removed = delCond || bySrcDel
      val updated = updCond || bySrcUpdCond
      val inserted = !isTarget && col(iFlag)
      // a target column after the clauses: matched-update and
      // by-source-update branches are mutually exclusive (matched vs
      // not); CaseWhen evaluates only the taken branch, so a matched SET
      // referencing src_ columns is never evaluated over a source-absent
      // row
      def afterClauses(name: String): Column = {
        val branches =
          c.updateSet.get(name).filter(_ => c.updateWhen.isDefined)
            .map(e => (updCond, e)).toSeq ++
          c.updateBySourceSet.get(name).filter(_ => c.updateBySourceWhen.isDefined)
            .map(e => (bySrcUpdCond, e))
        branches match {
          case Seq() => col(name)
          case (c1, e1) +: rest =>
            rest.foldLeft(when(c1, e1)) { case (acc, (c2, e2)) =>
              acc.when(c2, e2)
            }.otherwise(col(name))
        }
      }
      // Output shapes come from unionByName over unexecuted frames of the
      // target, clause-applied and source sides: the same column order,
      // widened types and errors as unioning the branches themselves.
      // Each output column is then taken from its side by name (matched
      // as unionByName matches) and cast to the shape's type
      val tgtCols = existing.columns.toIndexedSeq
      def union(a: DataFrame, b: DataFrame): DataFrame =
        a.unionByName(b, allowMissingColumns = mergeSchema)
      def withInserts(df: DataFrame, srcSide: DataFrame): DataFrame =
        if (c.insertUnmatched) union(df, srcSide) else df
      val post =
        if (c.upsert) existing
        else joined.select(tgtCols.map(n => afterClauses(n).as(n)): _*)
      val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
      type Side = StructField => Column
      def side(names: Seq[String], expr: String => Column): Side = f =>
        names.find(n => if (caseSensitive) n == f.name
          else n.equalsIgnoreCase(f.name))
          .map(expr).getOrElse(lit(null)).cast(f.dataType)
      val preImage = side(tgtCols, col)
      val srcImage = side(data.columns.toSeq, n => col(pre + n))
      val postImage: Side =
        if (c.upsert) f => when(updated, srcImage(f)).otherwise(preImage(f))
        else side(tgtCols, afterClauses)
      val newData = {
        val shape = withInserts(post, data).schema
        joined.where((isTarget && !removed) || inserted)
          .select(shape.fields.toIndexedSeq.map(f =>
            (if (c.insertUnmatched) when(isTarget, postImage(f))
              .otherwise(srcImage(f))
            else postImage(f)).as(f.name)): _*)
      }
      // the change feed: one explode over each row's conditional images
      // (delete, update pre + post, insert) in the feed's union shape
      val changes = if (!changeFeed) None else Some {
        def tagged(df: DataFrame) = df.withColumn(ChangeTypeCol, lit(""))
        val shape =
          withInserts(union(tagged(existing), tagged(post)), tagged(data)).schema
        def image(cond: Column, img: Side, tag: String) =
          when(cond, struct(shape.fields.toIndexedSeq.map(f =>
            (if (f.name == ChangeTypeCol) lit(tag) else img(f))
              .as(f.name)): _*))
        val images = Seq(image(removed, preImage, "delete"),
          image(updated, preImage, "update_preimage"),
          image(updated, postImage, "update_postimage")) ++
          (if (c.insertUnmatched) Seq(image(inserted, srcImage, "insert"))
          else Nil)
        joined.select(explode(array(images: _*)).as("image"))
          .where(col("image").isNotNull).select("image.*")
      }
      // persisted only now, so a shape error above leaves nothing cached;
      // both writes still read the cache, which Spark substitutes into a
      // plan when it executes
      if (changeFeed)
        joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try commit(s, newData, "replace", allBut(candidatePaths),
        layout, meta ++ changes.fold(Map.empty[String, String])(
          writeChangeData(s, _)),
        ReadSet(files = Some(candidatePaths), guard = guard))
      finally if (changeFeed) joined.unpersist(blocking = false)
    } finally GraftShim.unpin(s0)
  }

  /** `ANALYZE TABLE`: refresh the head manifest's per-file statistics
    * WITHOUT touching any data file — recompute footer min/max (and,
    * under a declared bloom config, the bloom tokens) for every live
    * file whose manifest line is missing them, and commit the
    * enriched lines as one metadata-only "analyze" version. The two
    * backfill cases this closes:
    *
    *  - legacy/statless manifests (pre-stats history, stripped lines):
    *    metadata-only aggregates and skipping start working without a
    *    rewrite;
    *  - files written BEFORE a bloom declaration: they were
    *    conservatively kept on every point probe — after ANALYZE they
    *    prune like post-config files.
    *
    * Concurrency: every refreshed file is in the commit's read set, so
    * a racing DML that removed one aborts this commit
    * instead of letting it resurrect dead rows. Already-complete
    * tables are a no-op (head version returned, no commit). Cost: one
    * footer read per incomplete file + (blooms only) one bounded scan
    * of those files.
    */
  def analyze(spark: SparkSession, path: String): Long = {
    val s = snapshot(spark, path)
    val bloomCfg = bloomConfigOf(s.meta)
    def complete(l: String): Boolean = {
      val st = statsOf(l)
      val hasStats = st.exists(_._2.rows.isDefined)
      val hasBlooms = bloomCfg.forall { case (cols, _, _) =>
        cols.forall(c => st.contains(BloomStatPrefix + c))
      }
      hasStats && hasBlooms
    }
    val todo = s.lines.filterNot(complete)
    if (todo.isEmpty) return s.v
    val refreshed = statsLines(s, todo.map(pathOf))
    // a FAILED recompute (a transient footer read error makes
    // footerStats yield nothing, so the refreshed line is a bare
    // path) must never replace a line that already carries partial
    // stats — that would regress existing skipping and metadata-only
    // aggregates for the file until a rewrite. Keep the original.
    val origByPath = todo.map(l => pathOf(l) -> l).toMap
    val kept = refreshed.map { l =>
      val orig = origByPath(pathOf(l))
      if (!l.contains('\t') && orig.contains('\t')) orig
      else withSchemaId(l, schemaIdOf(orig))
    }
    if (kept.sorted == todo.sorted) return s.v // nothing computable
    val todoPaths = todo.map(pathOf).toSet
    commitLines(s, "analyze", kept, allBut(todoPaths),
      read = ReadSet(files = Some(todoPaths)))
  }

  /** Carried meta key declaring the table's standing CLUSTERING intent
    * (Delta liquid clustering reduced to carried meta + the z-order
    * rewrite): once set, [[optimize]] with no explicit columns — and
    * the SQL bare `OPTIMIZE graft.`t`` — re-clusters on the declared
    * columns instead of erroring / merely bin-packing.
    */
  private[graft] val ClusterMetaKey = "graft.cluster"

  /** The declared clustering columns (empty when none). */
  def clusteringColumns(spark: SparkSession, path: String): Seq[String] =
    clusteringOf(snapshot(spark, path, orEmpty = true).meta)

  private def clusteringOf(meta: Map[String, String]): Seq[String] =
    meta.get(ClusterMetaKey).toSeq.map(dec)
      .flatMap(_.split(',').toSeq).filter(_.nonEmpty)

  /** Declare clustering columns (metadata-only commit; carried
    * forward). Data columns only — partition columns are already
    * path-separated and clustering them is a no-op the declaration
    * would dress up as progress.
    */
  def setClusteringColumns(spark: SparkSession, path: String,
                           cols: Seq[String]): Long = {
    require(cols.nonEmpty, "setClusteringColumns needs at least one column")
    val s = snapshot(spark, path)
    val schema = tableSchema(s)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"setClusteringColumns: no column '$c' in $path"))
    val parts = s.partitionCols.getOrElse(Nil)
    require(cols.intersect(parts).isEmpty,
      s"clustering on partition columns is redundant: ${cols.intersect(parts)}")
    metaCommit(s, "cluster", Map(ClusterMetaKey -> enc(cols.mkString(","))))
  }

  /** Remove the clustering declaration (tombstoned empty). */
  def dropClusteringColumns(spark: SparkSession, path: String): Long =
    metaCommit(snapshot(spark, path, orEmpty = true), "cluster",
      Map(ClusterMetaKey -> ""))

  /** Rewrite the head snapshot Z-order-clustered on `zorderCols`
    * (Delta's `OPTIMIZE ... ZORDER BY`, as a log commit): rows with
    * nearby values across ALL the given columns land in the same files,
    * so the manifest's per-file min/max stats prune multi-column
    * predicates that a single-column sort cannot serve (see
    * [[ZOrder]]). Data-identical — only layout changes; time travel to
    * pre-optimize versions still works, and a concurrent APPEND during
    * the rewrite is kept (only the files this rewrite read are
    * replaced; a concurrent DML that removed one of them aborts the
    * optimize with the standard conflict error instead of resurrecting
    * its rows). File count targets `targetBytes` per file.
    */
  /** `where` SCOPES the rewrite (Delta's `OPTIMIZE … WHERE`): only
    * files whose stats/partition path may match the predicate are
    * re-clustered; everything else carries verbatim. The predicate is
    * a FILE-SELECTION hint, never a row filter — whole candidate files
    * are rewritten with all their rows, so even an over-approximate
    * selection stays data-identical. At 100 TB this is the difference
    * between optimizing one day's partition and re-clustering the
    * lake. A scope matching no file is a no-op (returns the head
    * version, no commit).
    */
  def optimize(spark: SparkSession, path: String, zorderCols: Seq[String],
               targetBytes: Long = 128L * 1024 * 1024,
               bitsPerCol: Int = 8,
               partitionCols: Seq[String] = Nil,
               mergeSchema: Boolean = false,
               where: Option[org.apache.spark.sql.Column] = None): Long = {
    // explicit columns win; otherwise the table's declared clustering
    // intent (CLUSTER BY) is the standing default
    val s = snapshot(spark, path)
    val zc = if (zorderCols.nonEmpty) zorderCols else clusteringOf(s.meta)
    require(zc.nonEmpty, "optimize needs z-order columns — pass them " +
      "explicitly or declare them with setClusteringColumns/CLUSTER BY")
    val (files, bytes) = scopedFiles(s, where, mergeSchema)
    if (files.isEmpty) return s.v
    rewriteClustered(s, files, bytes, zc, targetBytes, bitsPerCol,
      partitionCols, mergeSchema)
  }

  /** The clustered-rewrite core shared by [[optimize]] (whole/WHERE
    * scope) and [[optimizeIfFragmented]]'s fragment-only scope:
    * rewrite exactly `relFiles` (totalling `bytes`) into
    * ceil(bytes/targetBytes) files clustered on `zc` — or bin-packed
    * with no clustering when `zc` is empty (the [[compact]] layout,
    * for tables whose serve path has no range key to restore).
    * `partitionCols` is the layout to keep, the declared one when empty.
    */
  private def rewriteClustered(s: Snapshot, relFiles: Seq[String],
                               bytes: Long, zc: Seq[String],
                               targetBytes: Long, bitsPerCol: Int,
                               partitionCols: Seq[String],
                               mergeSchema: Boolean): Long = {
    val numFiles =
      math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val layout = layoutOrDeclared(s.meta, partitionCols)
    // data-identical by construction: the commit declares zero change
    // rows, so change-feed readers skip it instead of seeing the whole
    // scope churn as delete+insert
    rewriteFiles(s, relFiles, layout, mergeSchema, None,
      meta = Map(ChangeDataMetaKey -> "0")) { snapshot =>
      // ONE clustering column = a plain range cluster: the 1-D
      // "z-order" is exactly a sort, it works for ANY orderable type
      // (bit interleaving needs numeric bounds — a string sort key
      // like an inverted index's token column would fail the cast),
      // and it reproduces byte-for-byte the range-sorted layout the
      // index builders (Bm25 tokenSorted, IVF idSorted) write — so
      // OPTIMIZE after fragmenting appends restores the BUILD layout,
      // not an approximation of it.
      if (zc.isEmpty) {
        if (layout.isEmpty) snapshot.repartition(numFiles)
        else snapshot.repartition(numFiles, layout.map(col): _*)
      } else if (zc.size == 1)
        snapshot.repartitionByRange(numFiles,
            (layout.map(col) :+ col(zc.head)): _*)
          .sortWithinPartitions((layout.map(col) :+ col(zc.head)): _*)
      else ZOrder.cluster(snapshot, zc, numFiles, bitsPerCol,
        leadCols = layout)
    }
  }

  /** OPTIMIZE only when the head snapshot is actually fragmented —
    * the POLICY half of the maintenance story the frag ladder prices
    * (`MAINT_FRAG_r14.json`: a 50-commit index serves 13–18× slower
    * than the single layout commit that fixes it). A `foreachBatch`
    * maintainer calls this after its append: when healthy it is one
    * manifest read (returns None — no commit, no data I/O); when
    * fragmented it runs [[optimize]] on `zorderCols` and returns the
    * new version.
    *
    * Fragmentation is the head's file count vs the count a HEALTHY
    * layout of the same bytes would have: optimize itself emits
    * `ceil(bytes / targetBytes)` files, so the trigger is
    * `files >= max(maxFiles, excessFactor * ceil(bytes/targetBytes))`
    * — an absolute threshold alone would re-run a FULL-table rewrite
    * on every micro-batch forever once the table outgrows
    * `maxFiles * targetBytes` (~8 GB at the 64-file/128 MB defaults):
    * freshly compacted it would STILL read >= maxFiles files. The
    * bytes side is manifest+FileStatus reads only, same cost class as
    * the file listing. File count is the right fragmentation measure
    * (one task setup + one footer read per file, plus manifest-prune
    * ranges that widen with every full-range fragment);
    * `excessFactor` is how many appends-worth of extra files to
    * tolerate between rewrites — amortization, not correctness.
    */
  /** The opt-in per-append maintenance policy an incremental index
    * appender threads through to [[optimizeIfFragmented]] — how a
    * `foreachBatch` maintainer keeps its table's file count bounded
    * WITHOUT the operator remembering to run OPTIMIZE (the measured
    * failure mode: 50 micro-batch appends degrade BM25/IVF serve
    * 18×/13×, `MAINT_FRAG_r14.json`). Each appender supplies its own
    * build-layout key (BM25 postings → token, IVF/SQ/PQ codes → the
    * id column), so the rewrite restores the exact layout the builder
    * writes; the policy only says WHEN. Replay-skipped batches never
    * trigger maintenance (no new fragment landed).
    */
  /** `retainVersions = Some(k)`: after each maintenance compaction
    * that actually committed, [[vacuum]] down to the newest `k`
    * manifests — the retention half of the lifecycle. Without it the
    * maintained trail's superseded fragments and pre-OPTIMIZE files
    * accumulate on disk forever (the log keeps every version
    * time-travelable); with it, disk is bounded at live-bytes +
    * `k` versions' worth of churn. Opt-in because it TRADES time
    * travel for disk: versions older than the newest `k` stop being
    * readable, so only set it when no reader pins old versions
    * (Delta's VACUUM retention contract). Vacuuming only after a
    * compaction (not every append) amortizes the file listing and is
    * when the reclaimable bytes actually appear.
    */
  case class Maintenance(maxFiles: Int = 64,
                         targetBytes: Long = 128L * 1024 * 1024,
                         excessFactor: Double = 2.0,
                         retainVersions: Option[Int] = None)

  /** Run `maintain`'s threshold check (and possibly one OPTIMIZE
    * commit, then the retention vacuum) for a table whose healthy
    * layout clusters on `layoutCols` — the one-line hook every
    * appender places after its landed append.
    *
    * A LOST MAINTENANCE RACE IS SUCCESS: when the compaction half
    * aborts with the standard conflict error (a concurrent committer
    * — another maintained appender's OPTIMIZE, a manual compaction, a
    * DML — moved the head first), the append this hook rides on has
    * ALREADY landed and the policy's goal (a bounded file count) was
    * just advanced by whoever won, so the conflict is swallowed
    * rather than failing a micro-batch whose data is durable. (The
    * failure mode this removes: two maintained appenders on one index
    * crossing the threshold in the same window — one compacts, the
    * other's replace aborts, and without the catch a checkpoint
    * retries a batch that needs no retry.) The EXPLICIT
    * [[optimizeIfFragmented]] API keeps the error: a caller invoking
    * maintenance by hand wants to know it lost.
    */
  private[graft] def maintainAfterAppend(spark: SparkSession, path: String,
                                         layoutCols: Seq[String],
                                         maintain: Option[Maintenance])
      : Unit =
    maintain.foreach { m =>
      val compacted =
        try optimizeIfFragmented(spark, path, layoutCols,
          maxFiles = m.maxFiles, targetBytes = m.targetBytes,
          excessFactor = m.excessFactor)
        catch {
          case _: java.util.ConcurrentModificationException => None
        }
      compacted.foreach(_ => m.retainVersions.foreach(k =>
        vacuum(spark, path, keepVersions = k)))
    }

  /** Rewrite scope selection: when the threshold trips, compact ONLY
    * the fragment files (those under `targetBytes / 2` — optimize's
    * own output lands near `targetBytes`, so a healthy file can never
    * re-qualify) whenever that suffices to bring the head back under
    * the threshold, and keep every already-healthy file byte- and
    * path-identical. The triggering micro-batch then pays O(trail),
    * not O(table) — at 100 TB the difference between a seconds-long
    * hiccup and an hours-long stream stall on whichever batch crosses
    * the line. Fragment-only output files cluster on `zorderCols` like
    * a full OPTIMIZE but cover the whole key range of their trail, so
    * healthy-but-overlapping files accumulate across partial passes;
    * the escalation below bounds that: when even a fragment-only pass
    * would leave `>= threshold` files (the overlap debt has piled up),
    * the FULL rewrite runs and restores the tight build layout. Every
    * maintenance pass therefore ends `< threshold` files, same serve
    * bound as before, while full rewrites amortize to once per
    * ~`healthy` partial passes instead of every threshold crossing.
    *
    * Empty `zorderCols` (after the declared-clustering fallback) is
    * the no-range-key table — a grain-less global sketch, a keyless
    * event log: maintenance bin-packs ([[compact]] semantics) instead
    * of erroring, because bounding the file count never needed a sort
    * key. An empty head returns None (nothing to maintain — reachable
    * when a maintained appender lands an empty batch on an empty
    * table).
    */
  def optimizeIfFragmented(spark: SparkSession, path: String,
                           zorderCols: Seq[String], maxFiles: Int = 64,
                           targetBytes: Long = 128L * 1024 * 1024,
                           partitionCols: Seq[String] = Nil,
                           mergeSchema: Boolean = false,
                           excessFactor: Double = 2.0): Option[Long] = {
    require(maxFiles > 0, "maxFiles must be positive")
    require(excessFactor >= 1.0,
      "excessFactor < 1 would re-optimize a freshly optimized table")
    val s = snapshot(spark, path)
    val sized = s.lines.map(pathOf)
      .map(f => (f, s.fs.getFileStatus(new Path(s.root, f)).getLen))
    if (sized.isEmpty) return None
    val bytes = sized.map(_._2).sum
    val healthy =
      math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val threshold =
      math.max(maxFiles.toLong, math.ceil(excessFactor * healthy).toLong)
    if (sized.size < threshold) return None
    val zc = if (zorderCols.nonEmpty) zorderCols else clusteringOf(s.meta)
    val frags = sized.filter(_._2 < targetBytes / 2)
    val fragBytes = frags.map(_._2).sum
    val projected = (sized.size - frags.size) +
      math.max(1, math.ceil(fragBytes.toDouble / targetBytes).toInt)
    if (frags.nonEmpty && projected < threshold)
      Some(rewriteClustered(s, frags.map(_._1), fragBytes,
        zc, targetBytes, bitsPerCol = 8, partitionCols, mergeSchema))
    else
      Some(rewriteClustered(s, sized.map(_._1), bytes,
        zc, targetBytes, bitsPerCol = 8, partitionCols, mergeSchema))
  }

  /** Commit pre-written data files as one streaming micro-batch append
    * — the driver half of the native `writeStream.format("graft")`
    * sink ([[graft.streaming.GraftStreamingWrite]]): executors have
    * already written `relFiles` (paths relative to the table root);
    * this claims them in one manifest carrying the
    * `txn.<app> = epochId` idempotence token. Returns None iff a
    * manifest already records `>= epochId` for this app — the replayed
    * epoch is already durable and the caller should discard its
    * re-written files. The check-then-commit race is closed by the
    * claim-loop `guard` (a concurrent same-app committer aborts), so
    * at most one attempt of an epoch ever lands.
    */
  private[graft] def commitStreamingFiles(spark: SparkSession, path: String,
                                          relFiles: Seq[String],
                                          txnApp: String,
                                          epochId: Long,
                                          partitionCols: Seq[String] = Nil)
      : Option[Long] = {
    val key = CarriedMetaPrefixes.head + txnApp
    def landed(s: Snapshot): Boolean = s.meta.get(key)
      .flatMap(v => scala.util.Try(v.toLong).toOption).exists(_ >= epochId)
    val s = snapshot(spark, path, orEmpty = true)
    if (landed(s)) None
    else {
      // same CHECK enforcement as batch commits; the micro-batch's
      // files belong to the stream's epoch dir, which the sink owns —
      // don't delete on failure, just refuse the commit (the thrown
      // error fails the batch and the checkpoint retries)
      enforceConstraints(s, relFiles)
      val newLines = statsLines(s, relFiles)
      val layoutMeta =
        if (partitionCols.isEmpty) Map.empty[String, String]
        else Map(PartitionsMetaKey -> enc(partitionCols.mkString(",")))
      try Some(commitLines(s, "append", newLines,
        (base, _) => base,
        meta = layoutMeta + (key -> epochId.toString),
        read = ReadSet(constraints = Some(s.constraints),
          guard = Map(key -> epochId))))
      catch {
        case cme: java.util.ConcurrentModificationException =>
          // a CME here is EITHER the claim-loop txn guard (a racing
          // same-app committer landed this epoch first — a replay,
          // discard ours) OR an unrelated conflict (the constraint
          // set changed under us). Only the first maps to None:
          // the caller deletes the epoch's data files on None, so
          // answering None to a constraint-set CME would
          // silently DROP the micro-batch. Re-check durability and
          // rethrow anything that isn't actually a replay — the
          // thrown error fails the batch and the checkpoint retries.
          if (landed(snapshot(spark, path, orEmpty = true))) None
          else throw cme
      }
    }
  }

  /** Bin-pack compaction: rewrite the head snapshot into
    * ceil(bytes/targetBytes) files with NO re-clustering — the cheap
    * small-file fix for streaming-ingested tables (every micro-batch
    * commit adds files; a thousand 100 KB files make every scan pay a
    * thousand task setups). Data-identical, one atomic "replace"
    * commit, racing appends kept — same contract as [[optimize]] minus
    * the z-order shuffle's sort.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Nil,
              mergeSchema: Boolean = false,
              where: Option[org.apache.spark.sql.Column] = None): Long = {
    val s = snapshot(spark, path)
    val (files, bytes) = scopedFiles(s, where, mergeSchema)
    if (files.isEmpty) return s.v
    // zc = Nil → rewriteClustered's bin-pack branch; when partitioned
    // it distributes BY the partition columns so each task holds whole
    // partitions — the per-dir writer then emits ~one file per
    // partition instead of (tasks × partitions) shards
    rewriteClustered(s, files, bytes, Nil, targetBytes, bitsPerCol = 8,
      partitionCols, mergeSchema)
  }

  /** Snapshot `s`'s manifest-relative files that may match `where`
    * (all of them when None), plus their total bytes — the
    * scope-selection half of [[compact]]/[[optimize]]'s `WHERE`
    * support. Pure driver metadata: stats + partition-path pruning,
    * one `getFileStatus` per kept file.
    */
  private def scopedFiles(s: Snapshot,
                          where: Option[org.apache.spark.sql.Column],
                          mergeSchema: Boolean): (Seq[String], Long) = {
    val kept = filesMatching(s, where, mergeSchema)
    (kept, bytesOf(s, kept))
  }

  private def bytesOf(s: Snapshot, relFiles: Seq[String]): Long =
    relFiles.map(f => s.fs.getFileStatus(new Path(s.root, f)).getLen).sum

  /** The head snapshot's manifest-relative files that may hold rows
    * matching `where` (all of them when None) — stats, partition-path
    * and bloom pruned, conservative. The manifest-only (no data I/O) way
    * for a rewrite to pick its files and for a partition-bounded writer
    * to learn its conflict scope. `schema` pins the read the predicate
    * is resolved against (the declared schema when None).
    */
  private[ops] def headFilesMatching(spark: SparkSession, path: String,
                                     where: Option[org.apache.spark.sql.Column],
                                     mergeSchema: Boolean = false,
                                     schema: Option[StructType] = None)
      : Seq[String] =
    filesMatching(snapshot(spark, path), where, mergeSchema, schema)

  private def filesMatching(s: Snapshot,
                            where: Option[org.apache.spark.sql.Column],
                            mergeSchema: Boolean = false,
                            schema: Option[StructType] = None): Seq[String] = {
    require(s.lines.nonEmpty || where.isDefined,
      s"nothing to rewrite: head of ${s.path} is empty")
    mayMatchLines(s, s.lines, where, mergeSchema,
      schema.orElse(s.declaredSchema)).map(pathOf)
  }

  /** ceil(live snapshot bytes / targetBytes) — the file count a layout
    * rewrite should produce. O(files) driver metadata calls.
    */
  def headFileCountFor(spark: SparkSession, path: String,
                       targetBytes: Long): Int = {
    val s = snapshot(spark, path)
    val liveBytes = bytesOf(s, s.lines.map(pathOf))
    math.max(1, math.ceil(liveBytes.toDouble / targetBytes).toInt)
  }

  /** Rewrite the head snapshot's FILES through `transform` as one
    * replace commit — the layout-maintenance primitive (compaction,
    * clustering) whose result is data-identical by construction.
    * Racing APPENDS are kept: only the files this rewrite read are
    * replaced, anything committed meanwhile survives the baseKeep. A
    * conflicting DML that removed one of the read files aborts with
    * the standard conflict error instead of resurrecting its rows.
    * `schema` pins the read (notably hive-partition column types,
    * which directory-string re-inference would otherwise silently
    * retype — a string day "07" re-landing as int 7).
    */
  def rewriteSnapshot(spark: SparkSession, path: String,
                      partitionCols: Seq[String] = Nil,
                      mergeSchema: Boolean = false,
                      schema: Option[StructType] = None)
                     (transform: DataFrame => DataFrame): Long = {
    val s = snapshot(spark, path)
    rewriteFiles(s, filesMatching(s, None), partitionCols, mergeSchema,
      schema)(transform)
  }

  /** The one copy-on-write core — [[delete]], [[update]], [[compact]],
    * [[optimize]] and [[rewriteSnapshot]] all run on it: rewrite EXACTLY
    * `relFiles` of snapshot `s` through `transform`, keep every other
    * file verbatim, and commit one atomic replace carrying `meta` and
    * `guard`. The read set is `relFiles`: racing APPENDS are kept, and a
    * conflicting commit that removed one of them aborts this one instead
    * of resurrecting its rows. `changes` derives the commit's row-level
    * change feed from the rows read (see [[ChangeDataMetaKey]]) — one
    * bounded job, written before the claim so the winning manifest
    * references it; None writes no feed. `partitionCols` is the layout
    * to keep, the declared one when empty. `schema` pins the read
    * (notably hive-partition column types, which directory-string
    * re-inference would otherwise silently retype — a string day "07"
    * re-landing as int 7).
    */
  private def rewriteFiles(s: Snapshot, relFiles: Seq[String],
                           partitionCols: Seq[String],
                           mergeSchema: Boolean,
                           schema: Option[StructType],
                           meta: Map[String, String] = Map.empty,
                           guard: Map[String, Long] = Map.empty,
                           changes: Option[DataFrame => DataFrame] = None)
                          (transform: DataFrame => DataFrame): Long = {
    val layout = layoutOrDeclared(s.meta, partitionCols)
    // a hive-partitioned file set MUST be rewritten with its layout, or
    // the flat rewrite breaks directory pruning and a later
    // replacePartitions would keep (and so duplicate) the old rows;
    // tables with a manifest-declared layout resolve it automatically
    require(layout.nonEmpty ||
      !relFiles.exists(f => partitionDirOf(f).nonEmpty),
      s"${s.path} is hive-partitioned — pass partitionCols so the rewrite " +
      "preserves the partition layout")
    val read = relFiles.toSet
    // the snapshot's lines for relFiles carry their schema ids
    val snapshot = scanFiles(s, s.lines.filter(l => read(pathOf(l))),
      mergeSchema, schema.orElse(s.declaredSchema))
    // build the rewrite plan FIRST: its eager validations (unknown SET
    // columns, …) must fail before any change file hits disk
    val rewritten = transform(snapshot)
    val feed = changes.fold(Map.empty[String, String])(f =>
      writeChangeData(s, f(snapshot)))
    // a rewrite that empties every file it read while OTHER files
    // survive needs no schema-carrier part: the snapshot keeps real
    // files (a racing delete of those survivors would leave a file-less
    // snapshot — the metadata-only-commit situation readVersion already
    // handles via a pinned/declared schema)
    commit(s, rewritten, "replace", allBut(read), layout,
      feed ++ meta, ReadSet(files = Some(read), guard = guard),
      allowZeroParts = s.lines.exists(l => !read(pathOf(l))))
  }

  /** Roll the table back (or forward) to EXACTLY the snapshot of
    * committed version `v`, as a NEW commit — Delta's RESTORE. History
    * is preserved: readers pinned to intermediate versions are
    * unaffected, the restore itself shows up in the log and is undoable
    * by another restore. No data is copied or rewritten — the new
    * manifest re-lists `v`'s files (stats included), O(manifest) driver
    * I/O; data files are immutable and vacuum retains everything a kept
    * manifest references, so if `v`'s manifest survives its files do
    * too. Carried `txn.*` offsets re-emit through the restore commit
    * unchanged (a restore is not a consumed increment).
    */
  def restore(spark: SparkSession, path: String, v: Long): Long = {
    val vs = versions(spark, path)
    require(vs.contains(v),
      s"version $v of $path does not exist or was vacuumed " +
      s"(retained: ${vs.headOption.getOrElse(-1L)}..${vs.lastOption.getOrElse(-1L)})")
    val target = snapshot(spark, path, Some(v))
    // v's schema records travel with its lines (the head may have
    // pruned them since)
    commitLines(snapshot(spark, path, Some(vs.last)), "restore",
      target.lines, (_, _) => Seq.empty,
      target.meta.filter(_._1.startsWith(SchemaRecordPrefix)))
  }

  /** Multiset row-level diff between two committed snapshots — the
    * "what changed between Monday's and Tuesday's table" answer when
    * no change feed was captured and the versions aren't
    * CDF-connected (readChanges replays HOW a table changed, commit
    * by commit; diff states WHAT differs, end to end — overwrites
    * included). Emits every version-`toV` row absent from `fromV` as
    * `_change_type = 'insert'` and every `fromV` row absent from
    * `toV` as `'delete'`, with MULTISET multiplicity (a row going
    * 3 copies → 1 emits 2 deletes) — SQL's `EXCEPT ALL` both ways.
    *
    * Plan (100 TB-shaped): one group-count per side over the whole
    * row packed as a struct (null field values group and join as
    * values — a null never silently drops a row), ONE null-safe
    * full-outer join of the two COUNT frames (each side shuffles its
    * distinct row-values once; output is bounded by the change
    * volume), then a bounded `sequence` explode of |Δcount|. Refuses
    * snapshots whose schemas differ — diff needs one row shape;
    * read with mergeSchema or evolve first.
    *
    * Map-typed columns are not groupable/joinable in Spark (map
    * equality is undefined — key order is unobservable), so any
    * column whose type CONTAINS a map is compared through its
    * canonical JSON render (`to_json` into the group key, `from_json`
    * back out — the [[graft.ops.AsofJoin]] normalization): two map
    * values are "the same row" iff they serialize identically, which
    * is also the only equality an independent engine can mirror.
    * TOP-LEVEL map columns are key-sorted before serializing
    * (`map_entries` → `array_sort` → `map_from_entries`), so two
    * logically equal maps whose keys arrived in different build
    * order — different upstream shuffles between the two versions —
    * do NOT surface as a phantom delete+insert pair. Maps NESTED
    * inside structs/arrays keep the serialize-identically caveat
    * (canonicalizing arbitrary nesting would need a recursive
    * rewrite; the render is still deterministic per build order).
    */
  def diff(spark: SparkSession, path: String, fromV: Long,
           toV: Long): DataFrame = {
    val a = readVersion(spark, path, fromV)
    val b = readVersion(spark, path, toV)
    val shape = (df: DataFrame) =>
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(shape(a) == shape(b),
      s"versions $fromV and $toV of $path have different schemas " +
        s"(${a.schema.simpleString} vs ${b.schema.simpleString}) — " +
        "diff needs one row shape; read with mergeSchema or evolve first")
    val cols = a.columns.toSeq
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case arr: org.apache.spark.sql.types.ArrayType =>
        hasMap(arr.elementType)
      case _ => false
    }
    val mapCols = a.schema.fields.filter(f => hasMap(f.dataType))
      .map(_.name).toSet
    // key-order-canonical render for a top-level map: sort the entry
    // array before serializing so build order can't forge a change.
    // array_sort needs an ORDERABLE entry struct — a map whose value
    // type itself contains a map (map<string, map<string,int>>) has
    // none, and the sort would fail AT PLAN TIME; those fall back to
    // the plain render (deterministic per build order, the pre-
    // canonicalization contract)
    def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case st: StructType => st.fields.forall(f => orderable(f.dataType))
        case arr: org.apache.spark.sql.types.ArrayType =>
          orderable(arr.elementType)
        case _ => true
      }
    def mapRender(c: String): org.apache.spark.sql.Column =
      a.schema(c).dataType match {
        case m: org.apache.spark.sql.types.MapType
            if orderable(m.keyType) && orderable(m.valueType) =>
          to_json(org.apache.spark.sql.functions.map_from_entries(
            org.apache.spark.sql.functions.array_sort(
              org.apache.spark.sql.functions.map_entries(col(c)))))
        case _ => to_json(col(c))
      }
    def counted(df: DataFrame, cnt: String) =
      df.select(struct(cols.map(c =>
          if (mapCols(c)) mapRender(c).as(c) else col(c)): _*).as("__row"))
        .groupBy("__row").agg(count(lit(1)).as(cnt))
    val ka = counted(a, "__ca")
    val kb = counted(b, "__cb")
    val j = ka.join(kb, ka("__row") <=> kb("__row"), "full_outer")
      .select(coalesce(ka("__row"), kb("__row")).as("__row"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    j.filter(col("__ca") =!= col("__cb"))
      .select(col("__row"),
        when(col("__cb") > col("__ca"), lit("insert"))
          .otherwise(lit("delete")).as("_change_type"),
        explode(sequence(lit(1L),
          abs(col("__cb") - col("__ca")))).as("__i"))
      .select(cols.map(c =>
        if (mapCols(c))
          from_json(col(s"__row.`$c`"), a.schema(c).dataType).as(c)
        else col(s"__row.`$c`")) :+ col("_change_type"): _*)
  }

  /** Shallow-clone `srcPath` at `version` (default: head) into a NEW
    * table at `dstPath` — Delta's `CREATE TABLE … SHALLOW CLONE`,
    * reduced to the manifest. The clone's v1 manifest is the source
    * version's file list VERBATIM (stats suffixes included, so data
    * skipping works from the first query), its carried `graft.*` meta
    * (declared schema, partition layout, CHECK constraints) is the
    * source's as of that version, and the two tables then evolve fully
    * independently — DML, OPTIMIZE, even VACUUM on either side never
    * touches the other.
    *
    * Zero-copy mechanics: manifests reference table-RELATIVE paths, so
    * each referenced data file is materialized in the clone under the
    * same relative name as a HARD LINK (local FS — O(files) metadata
    * ops, no data bytes move; the same primitive the commit claim
    * uses). Vacuum safety is free: each table's vacuum only unlinks its
    * OWN directory's names, and the kernel frees the shared inode when
    * the last link goes — none of Delta's "vacuum on the source breaks
    * the clone" hazard. Filesystems without hard links (HDFS, object
    * stores) fall back to a byte copy per file (a real S3 deployment
    * would swap in server-side copy, which is metadata-fast).
    *
    * Deliberately NOT copied: `txn.*` streaming idempotence tokens (a
    * clone is a new table — suppressing its first micro-batch because
    * the SOURCE had seen that batch would lose data) and the source's
    * history (the clone starts at v1; its change feed reads as one
    * initial insert snapshot, exactly like a fresh table).
    */
  def cloneAt(spark: SparkSession, srcPath: String, dstPath: String,
              version: Long = -1L): Long = {
    val vs = versions(spark, srcPath)
    require(vs.nonEmpty, s"$srcPath is not a TxTable (no $LogDir manifests)")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v),
      s"version $v of $srcPath does not exist or was vacuumed " +
      s"(retained: ${vs.head}..${vs.last})")
    val dst = snapshot(spark, dstPath, orEmpty = true)
    require(dst.version.isEmpty,
      s"graft table $dstPath already exists — clone targets a fresh path")
    val src = snapshot(spark, srcPath, Some(v))
    val (sfs, sp, dfs, dp) = (src.fs, src.root, dst.fs, dst.root)
    require(sfs.makeQualified(sp) != dfs.makeQualified(dp),
      "cannot clone a table onto itself")
    src.lines.map(pathOf).distinct.foreach { rel =>
      val srcF = new Path(sp, rel)
      val dstF = new Path(dp, rel)
      dfs.mkdirs(dstF.getParent)
      // a leftover file from a crashed earlier clone attempt is
      // unreferenced (the clone commit below never landed) — replace it
      if (dfs.exists(dstF)) dfs.delete(dstF, false)
      linkOrCopy(spark, sfs, srcF, dfs, dstF)
    }
    commitLines(dst, "clone", src.lines, (_, _) => Seq.empty,
      src.meta.filter(_._1.startsWith("graft.")), ReadSet(version = Some(0L)))
  }

  /** Hard-link `src` to `dst` when both sides are the local FS (zero
    * data movement); byte-copy otherwise, or when the link fails
    * because the paths straddle devices/volumes.
    */
  private def linkOrCopy(spark: SparkSession, sfs: FileSystem, src: Path,
                         dfs: FileSystem, dst: Path): Unit = {
    if (sfs.getScheme == "file" && dfs.getScheme == "file") {
      val s = java.nio.file.Paths.get(sfs.makeQualified(src).toUri)
      val d = java.nio.file.Paths.get(dfs.makeQualified(dst).toUri)
      try { java.nio.file.Files.createLink(d, s); return }
      catch {
        case _: UnsupportedOperationException => ()
        case e: java.nio.file.FileSystemException
          if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] => ()
      }
    }
    org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst, false,
      spark.sparkContext.hadoopConfiguration)
  }

  /** Idempotent bulk file ingestion — Databricks' `COPY INTO`, reduced
    * to manifest membership. Every parquet file under `sourceDir`
    * matching `pattern` is loaded into the table EXACTLY ONCE across
    * any number of invocations: a source file's identity is the md5 of
    * its (qualified path, mtime, length), its in-table name is the
    * DETERMINISTIC `data/copyin_<identity>/<name>`, and "already
    * loaded" is simply "that name is in the head manifest" — no
    * side-car ledger to drift, survive-vacuum rules, or extra state.
    * A source file that is modified in place (new mtime/length) gets a
    * new identity and is loaded again as new data — append semantics,
    * matching COPY INTO's treat-changed-content-as-new-file behavior.
    *
    * Data movement is a hard link per new file on local FS (byte copy
    * where links don't exist) — ingestion cost is O(new files) metadata
    * ops, not a rewrite of the data. Footer min/max stats ride into the
    * manifest lines, so skipping works on copied-in files exactly as on
    * written ones; CHECK constraints are enforced on the new files
    * before the claim, like any data commit. A nonexistent target
    * bootstraps as v1 with the files' schema; an existing target
    * requires the incoming schema to match its read schema by
    * name→type (ingestion is not evolution — use [[evolveSchema]]).
    * Partitioned targets are refused: copied-in files carry no hive
    * path segments, and silently mixing layouts is the one thing the
    * resolver must never see.
    *
    * Concurrency: the append claim retries against the new head, and
    * `baseKeep` drops any base line a racing copyInto of the same
    * source already committed — the deterministic names make the
    * duplicate detectable at commit time, so two racers net exactly
    * one copy of each file. Returns (committed version — the head when
    * nothing was new, loaded relative paths, skipped-as-already-loaded
    * count).
    */
  def copyInto(spark: SparkSession, path: String, sourceDir: String,
               pattern: String = "*.parquet"): (Long, Seq[String], Int) = {
    val s = snapshot(spark, path, orEmpty = true)
    val (fs, p) = (s.fs, s.root)
    val sq = new Path(sourceDir)
    val sfs = FileSystem.get(sq.toUri, spark.sparkContext.hadoopConfiguration)
    val srcs = Option(sfs.globStatus(new Path(sq, pattern))).toSeq.flatten
      .filter(_.isFile).sortBy(_.getPath.toString)
    require(s.partitionCols.forall(_.isEmpty),
      s"COPY INTO a partitioned table is not supported ($path declares " +
      "partition columns; copied-in files carry no partition segments)")
    val existing = s.lines.map(pathOf).toSet
    val targets = srcs.map { st =>
      val id = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${sfs.makeQualified(st.getPath)}|${st.getModificationTime}|${st.getLen}"
          .getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      (st.getPath, s"data/copyin_$id/${st.getPath.getName}")
    }
    val (skipped, fresh) = targets.partition(t => existing.contains(t._2))
    if (fresh.isEmpty) return (s.v, Seq.empty, skipped.size)
    // schema gate BEFORE any linking: EVERY fresh file's footer schema
    // must equal, name→type (nullability aside), the table's read
    // schema — or, on a bootstrap, the first file's. Reading them as one
    // frame would infer from one footer and let a disagreeing file in
    def shape(st: StructType) =
      st.map(f => f.name -> f.dataType).toMap
    def render(m: Map[String, org.apache.spark.sql.types.DataType]) =
      m.toSeq.sortBy(_._1).mkString(", ")
    val incoming = fresh.map { case (src, _) =>
      val q = sfs.makeQualified(src).toString
      q -> shape(GraftParquetSchema.of(spark, q)
        .getOrElse(sys.error(s"COPY INTO: $q has no parquet footer")))
    }
    val (wantFrom, want) = s.version match {
      case Some(_) => (s"table $path reads", shape(readSnapshot(s).schema))
      case None => (s"${incoming.head._1} carries", incoming.head._2)
    }
    incoming.foreach { case (q, got) =>
      require(got == want,
        s"COPY INTO schema mismatch for $path: $wantFrom ${render(want)} " +
          s"but $q carries ${render(got)}")
    }
    fresh.foreach { case (src, rel) =>
      val dstF = new Path(p, rel)
      fs.mkdirs(dstF.getParent)
      // an existing target is this source file's identical content —
      // either a crashed earlier attempt or a racing loader; reuse it
      // (deleting it could yank a file a racer just committed)
      if (!fs.exists(dstF)) linkOrCopy(spark, sfs, src, fs, dstF)
    }
    val freshRels = fresh.map(_._2)
    // NO cleanup on failure, deliberately: the deterministic names are
    // SHARED across racing loaders of the same source, so "my" fresh
    // file may be exactly the file a racer just linked and committed —
    // deleting it would dangle the racer's manifest and break every
    // later read. Unreferenced files are invisible to readers, a retry
    // REUSES them via the exists-check above (the failure cost is
    // already paid), and vacuum's orphan grace collects genuine debris.
    enforceConstraints(s, freshRels)
    val v = commitLines(s, "copyinto", statsLines(s, freshRels),
      allBut(freshRels.toSet), read = ReadSet(constraints = Some(s.constraints)))
    (v, freshRels, skipped.size)
  }

  /** Overwrite-commit `df` as the next version (the whole snapshot
    * becomes exactly this write's files).
    */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
                partitionCols: Seq[String] = Nil,
                meta: Map[String, String] = Map.empty): Long =
    commit(snapshot(spark, path, orEmpty = true), df, "overwrite",
      (_, _) => Seq.empty, partitionCols, meta)

  /** Append-commit `df`: next version = head's files + this write's.
    * `guard` — see [[commitLines]]: per-key carried-meta preconditions
    * that abort the commit if a concurrent writer already advanced the
    * key, the primitive exactly-once incremental consumers build on.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             partitionCols: Seq[String] = Nil,
             meta: Map[String, String] = Map.empty,
             guard: Map[String, Long] = Map.empty): Long =
    commit(snapshot(spark, path, orEmpty = true), df, "append",
      (base, _) => base, partitionCols, meta, ReadSet(guard = guard))

  /** Replace-commit: next version = the head's files that survive
    * `keepExisting` + this write's files. The partition-bounded publish
    * primitive — Delta's `replaceWhere`, reduced to a file-list filter.
    * `keepExisting` receives manifest-relative paths
    * (`data/<uuid>/[part=val/]file`).
    */
  def replace(spark: SparkSession, path: String, df: DataFrame,
              partitionCols: Seq[String],
              keepExisting: String => Boolean): Long =
    commit(snapshot(spark, path, orEmpty = true), df, "replace",
      (base, _) => base.filter(l => keepExisting(pathOf(l))),
      partitionCols)

  /** Dynamic-partition-overwrite commit (Spark's
    * `partitionOverwriteMode=dynamic`, as a log commit): the next
    * version keeps every head file whose partition directory does NOT
    * appear among this write's partitions, and replaces the ones that
    * do. The publish step of [[Sinks.upsertPartitioned]] in tx mode —
    * untouched partitions keep their exact existing files (never
    * rewritten, never even read), replaced partitions swap atomically
    * with the manifest claim.
    *
    * `expectUnchanged`: the head files the caller read — every file of
    * the partitions it replaces. The commit then aborts
    * (ConcurrentModificationException) when the replace would drop a
    * file outside that set, such as a racing append into a replaced
    * partition (even one that had no files when it was read), or when
    * one of the read files is gone. None is a blind replace.
    */
  def replacePartitions(spark: SparkSession, path: String, df: DataFrame,
                        partitionCols: Seq[String],
                        expectUnchanged: Option[Set[String]] = None): Long =
    commit(snapshot(spark, path, orEmpty = true), df, "replace",
      (base, newFiles) => {
        val replaced = newFiles.map(f => partitionDirOf(pathOf(f))).toSet
        base.filterNot(f => replaced.contains(partitionDirOf(pathOf(f))))
      }, partitionCols, read = ReadSet(files = expectUnchanged))

  /** `data/<uuid>/day=10/part-x.parquet` → `day=10` (nested partitions
    * keep all `key=value` segments; unpartitioned files → ""). Writer
    * dir names are hive-escaped on BOTH sides, so string equality is
    * value equality.
    */
  private def partitionDirOf(rel: String): String =
    rel.split('/').drop(2).dropRight(1).mkString("/")

  /** What a commit read of the table, checked against the snapshot each
    * claim attempt builds on (the operation's own snapshot first, the
    * log's new head after a lost claim) — Delta's optimistic-concurrency
    * check, reduced to the facts a commit here can depend on:
    *
    *  - `files`: the head files the commit read. Every file the commit
    *    removes from the head (`base` minus `baseKeep(base, new)`) must
    *    be one of them, and each must still be live. So a concurrent
    *    commit that removed a file this one rewrote, or added a file
    *    this one would drop, aborts it; racing appends it keeps do not.
    *    None is a blind write (overwrite, `replace`, restore, clone, a
    *    metadata-only commit): nothing is checked.
    *  - `version`: the head version the commit is pinned to; any other
    *    head aborts it. `Some(0)` means the table must not exist yet
    *    (a create), and a lost race says "already exists".
    *  - `constraints`: the CHECK-constraint set the commit's data was
    *    validated against; a different set at the head aborts it.
    *  - `guard`: carried-meta preconditions — the head must not carry a
    *    key at a value >= its guard's (a concurrent committer of the
    *    same logical transaction won; see [[commitLines]]).
    */
  private final case class ReadSet(
      files: Option[Set[String]] = None,
      version: Option[Long] = None,
      constraints: Option[Map[String, String]] = None,
      guard: Map[String, Long] = Map.empty)

  /** Throws when snapshot `s`, which a claim would build on, breaks
    * `read`; `kept` is what the commit keeps of its lines. The exception
    * names what moved.
    */
  private def checkReadSet(read: ReadSet, s: Snapshot,
                           kept: Seq[String]): Unit = {
    def conflict(what: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"conflicting commit on ${s.path}: $what (retry the operation)")
    read.version.foreach { v0 =>
      if (v0 == 0L && s.version.isDefined)
        throw new IllegalArgumentException(
          s"graft table ${s.path} already exists (concurrent create)")
      if (s.v != v0)
        conflict(s"head advanced past $v0 while this operation was " +
          "pinned to it")
    }
    read.files.foreach { files =>
      val live = s.lines.map(pathOf).toSet
      val moved = (live -- kept.map(pathOf) -- files) ++ (files -- live)
      if (moved.nonEmpty)
        conflict("files this commit read changed concurrently: " +
          moved.take(3).mkString(", "))
    }
    read.constraints.foreach { cons =>
      if (s.constraints != cons)
        conflict("CHECK constraints changed concurrently (this write was " +
          "validated against the old set)")
    }
    read.guard.foreach { case (k, v) =>
      s.meta.get(k).flatMap(x => scala.util.Try(x.toLong).toOption)
        .filter(_ >= v).foreach { cur =>
          throw new java.util.ConcurrentModificationException(
            s"transaction guard on ${s.path}: $k already at $cur >= $v " +
            "— a concurrent committer applied this increment first")
        }
    }
  }

  /** baseKeep of a rewrite that replaces exactly `files`: every other
    * head file survives, including files racing commits add.
    */
  private def allBut(files: Set[String])
      : (Seq[String], Seq[String]) => Seq[String] =
    (base, _) => base.filterNot(l => files(pathOf(l)))

  /** Write `df` into a fresh immutable data dir and commit a manifest of
    * `baseKeep(snapshot's files, this write's files) ++ the new files`
    * under the next version — through [[commitLines]]' claim loop, whose
    * read-set rule decides every conflict (see [[ReadSet]]). `s` is the
    * operation's snapshot and `read` what the caller read of it; the
    * CHECK-constraint set this commit counts its rows against joins it.
    * `allowZeroParts`: see below.
    */
  private def commit(s: Snapshot, df: DataFrame, action: String,
                     baseKeep: (Seq[String], Seq[String]) => Seq[String],
                     partitionCols: Seq[String] = Nil,
                     meta: Map[String, String] = Map.empty,
                     read: ReadSet = ReadSet(),
                     allowZeroParts: Boolean = false): Long = {
    val (fs, p) = (s.fs, s.root)
    val dataDir = s"data/${java.util.UUID.randomUUID()}"
    // CHECK constraints are counted inside the write job, over the
    // snapshot's constraint set; a violating commit cleans up and
    // throws, invisible to readers. The set rides in the read set, so a
    // concurrent ADD/DROP CONSTRAINT aborts this commit instead of
    // letting unvalidated data slip past the new rules
    val activeConstraints = s.constraints
    def write(frame: DataFrame): Unit = sizedWrite(s.spark) {
      val w = frame.write
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(new Path(p, dataDir).toString)
    }
    val cons = activeConstraints.toSeq.sortBy(_._1)
    if (cons.isEmpty) write(df)
    else rejectViolations(s.path, cons,
      violationCounts(df, cons, s.declaredSchema)(write))(
      fs.delete(new Path(p, dataDir), true))
    val allParts = {
      val it = fs.listFiles(new Path(p, dataDir), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val prefix = fs.makeQualified(new Path(p, dataDir)).toString
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          buf += s"$dataDir/${f.toString.stripPrefix(prefix).stripPrefix("/")}"
      }
      buf.toSeq.sorted
    }
    // Zero-row part files are NOT registered: a filter/rewrite task
    // that produced nothing writes an empty part whose footer carries
    // no column stats, so it would conservatively "may-match" every
    // predicate — defeating pruning-based no-op detection (a DELETE of
    // an absent key must return None, and whether Spark's task layout
    // emits an empty part is run-dependent, which made that contract
    // FLAKY). The files stay on disk unreferenced (vacuum's orphan
    // grace collects them). A commit whose every part is empty keeps
    // ONE as the snapshot's schema carrier — an intentionally-empty
    // overwrite must still be readable without a declared schema —
    // unless the caller proves the snapshot retains other files
    // (`allowZeroParts`: a rewrite that deleted every candidate row
    // while non-candidate files survive registers nothing).
    // ONE footer pass serves both the zero-row filter and the stats
    // lines below (a missing entry means an unreadable footer — kept,
    // conservatively non-empty, stats-less)
    val info = footerInfo(fs, p, allParts)
    val newFiles = {
      val nonEmpty = allParts.filter(rel =>
        info.get(rel).map(_.rows).getOrElse(-1L) != 0L)
      if (nonEmpty.nonEmpty) nonEmpty
      else if (allowZeroParts) Seq.empty
      else allParts.take(1)
    }
    // the dir's schema record: the row schema every new footer carries
    // (none when one lacks it or they disagree), then the string
    // partition columns, which no footer holds. Inference from the
    // paths re-types a string's values (`07` reads as the number 7) and
    // can split one column's type across commit dirs (`01` a number,
    // `x` a string); it reads other partition types' values unchanged
    val rowSchema =
      newFiles.map(info.get(_).flatMap(_.rowSchema)).distinct match {
        case Seq(Some(json)) => Some(json)
        case _ => None
      }
    val partFields = partitionCols.flatMap(c => df.schema.find(_.name == c))
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType))
    val record = rowSchema.map(json => if (partFields.isEmpty) json
      else StructType(schemaFromJson(json).fields ++ partFields).json)
    val schemaId = record.map(schemaIdFor)
    val recordMeta = schemaId.zip(record)
      .map { case (id, json) => SchemaRecordPrefix + id -> enc(json) }.toMap
    // footer min/max (+ declared blooms — including one declared by
    // THIS commit's meta) per new file ride in the manifest line;
    // failures degrade to stats-less lines
    val newLines = statsLines(s, newFiles, meta,
      precomputed = Some(info.collect {
        case (rel, f) if f.stats.nonEmpty => rel -> f.stats }),
      rowSchema = rowSchema.map(schemaFromJson))
      .map(withSchemaId(_, schemaId))
    // declare the layout in the manifest: partitioned commits state
    // their columns; overwrites own the WHOLE layout, so they also
    // clear a stale declaration when the new snapshot is flat. A flat
    // append into a partitioned table deliberately leaves the carried
    // declaration alone — the resolver's mixed-layout check owns that
    // failure mode.
    val layoutMeta =
      if (partitionCols.nonEmpty || action == "overwrite")
        Map(PartitionsMetaKey -> enc(partitionCols.mkString(",")))
      else Map.empty[String, String]
    commitLines(s, action, newLines, baseKeep,
      layoutMeta ++ recordMeta ++ meta,
      read.copy(constraints = Some(activeConstraints)))
  }

  /** Metadata-only commit updating carried `graft.*` meta keys — the
    * internal primitive behind config/stats refreshes. Bloom filters,
    * clustering and constraints have bespoke public wrappers with
    * their own validation; engine components maintaining their OWN
    * carried state (the BM25 index's corpus stats) use this directly.
    * `guard` — the [[append]] transaction guard: the commit aborts if
    * a concurrent committer already advanced a guarded key.
    */
  private[graft] def setCarriedMeta(spark: SparkSession, path: String,
                                    meta: Map[String, String],
                                    guard: Map[String, Long] = Map.empty): Long = {
    require(meta.nonEmpty, "setCarriedMeta needs at least one key")
    require(meta.keys.forall(_.startsWith("graft.")),
      s"carried meta keys must be graft.-prefixed (carry-forward " +
        s"contract): ${meta.keys.filterNot(_.startsWith("graft."))}")
    metaCommit(snapshot(spark, path), "setmeta", meta, ReadSet(guard = guard))
  }

  /** A metadata-only commit on snapshot `s`: its files unchanged, `meta`
    * recorded, `read` checked.
    */
  private def metaCommit(s: Snapshot, action: String,
                         meta: Map[String, String],
                         read: ReadSet = ReadSet()): Long =
    commitLines(s, action, Seq.empty, (base, _) => base, meta, read)

  /** The claim loop of [[commit]], usable on its own for commits whose
    * lines are already in hand — and for METADATA-ONLY commits
    * (`newLines` empty, baseKeep identity): the snapshot's file set is
    * unchanged but the head manifest records new meta — how an
    * incremental consumer durably advances its offset over an empty
    * increment without writing a zero-row data file.
    *
    * The first attempt builds on the operation's snapshot `s0` and
    * claims its version + 1 straight away; claims are serialized by the
    * slot, so a won claim proves `s0` was still the head. Every attempt
    * first checks `read` against the snapshot it builds on (see
    * [[ReadSet]]): the files the commit removes must be files it read,
    * and each of those must still be live; a pinned version must still
    * be the head; the validated constraint set must still be the head's;
    * and no guarded key may have reached its guard. A failed check
    * aborts with ConcurrentModificationException (IllegalArgumentException
    * "already exists" for a create) — a conflicting commit won. Only a
    * lost claim reads the log again: the next attempt rebuilds on the
    * NEW head and rechecks `read`, so an append or replace rebuilt there
    * includes the winner's files. The guard is what makes "check
    * processedVersion, then commit" safe under concurrent same-app
    * writers: the check alone is check-then-act; the guard closes the
    * window because claims are serialized by the slot.
    */
  private def commitLines(s0: Snapshot, action: String,
                          newLines: Seq[String],
                          baseKeep: (Seq[String], Seq[String]) => Seq[String],
                          meta: Map[String, String] = Map.empty,
                          read: ReadSet = ReadSet()): Long = {
    require(meta.forall { case (k, v) =>
      k.nonEmpty && !k.contains('=') &&
        !(k + v).exists(c => c == ' ' || c == '\n')
    }, "metadata keys must be nonempty and '='-free; keys and values " +
       "must not contain spaces or newlines (they live in the head line)")
    s0.fs.mkdirs(new Path(s0.root, LogDir))
    var s = s0
    var committed = -1L
    while (committed < 0) {
      val kept = baseKeep(s.lines, newLines)
      checkReadSet(read, s, kept)
      val next = s.v + 1
      val nonce = java.util.UUID.randomUUID().toString
      // carried keys survive manifest pruning: re-emit the snapshot's
      // txn.*/graft.* tokens, this commit's own meta winning on
      // conflict; the ts stamp is per-commit and never carried
      val lines = kept ++ newLines
      // ... except schema records no live line uses any more
      val liveIds = lines.flatMap(schemaIdOf).toSet
      val carried = (s.meta
        .filter(kv => CarriedMetaPrefixes.exists(kv._1.startsWith)) ++ meta)
        .filter { case (k, _) => !k.startsWith(SchemaRecordPrefix) ||
          liveIds(k.stripPrefix(SchemaRecordPrefix)) }
      val stamped = carried +
        (TimestampMetaKey -> System.currentTimeMillis().toString)
      val allTokens = stamped.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      val headLine = (action +: allTokens :+ nonce).mkString(" ")
      val body = (headLine +: lines).mkString("", "\n", "\n")
      val slot = new Path(new Path(s.root, LogDir), manifestName(next))
      if (claimSlot(s.fs, slot, body, nonce)) committed = next
      // lost the race: only now read the log again — an append/replace
      // rebuilt on the NEW head includes the winner's files
      else s = snapshot(s.spark, s.path, orEmpty = true)
    }
    committed
  }

  /** Atomically publish `body` as `slot`; true iff THIS commit owns the
    * slot. The manifest is first written complete to a dot-tmp name
    * (readers never see a torn manifest), then claimed:
    *  - local FS: `Files.createLink(slot, tmp)` — a hard link is
    *    O_EXCL-atomic at the kernel level, so of N concurrent committers
    *    exactly one creates the slot name and the rest get
    *    FileAlreadyExistsException. No check-then-act window at all.
    *  - other FS: `rename(tmp, slot)` — atomic-and-fails-on-existing on
    *    HDFS. Because some filesystems' rename silently REPLACES an
    *    existing destination, the slot is read back and must carry this
    *    commit's nonce; a foreign nonce means the claim was lost and the
    *    caller retries against the new head.
    *
    * STORAGE CONTRACT: multi-writer safety on the rename path requires
    * a filesystem whose rename is atomic AND fails on an existing
    * destination (HDFS, ABFS, GCS-with-precondition). On a store whose
    * rename clobbers, the nonce read-back only narrows the window — a
    * winner that validated its nonce can still be overwritten by a
    * later racer before anyone notices — it cannot close it. That is
    * the same boundary Delta draws (S3 proper needs a coordinating
    * LogStore / conditional PUT); deploy single-writer there, or swap
    * this claim for a conditional PUT.
    */
  private def claimSlot(fs: FileSystem, slot: Path, body: String,
                        nonce: String): Boolean = {
    val tmp = new Path(slot.getParent, s".tmp_$nonce.manifest")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    try {
      if (fs.getScheme == "file") {
        val slotNio = java.nio.file.Paths.get(fs.makeQualified(slot).toUri)
        val tmpNio = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
        try { java.nio.file.Files.createLink(slotNio, tmpNio); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else if (!fs.exists(slot) && fs.rename(tmp, slot)) {
        val in = fs.open(slot)
        val head = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
                   finally in.close()
        head.split("\n").headOption.exists(_.endsWith(nonce))
      } else false
    } finally if (fs.exists(tmp)) fs.delete(tmp, false)
  }

  /** Head-snapshot facts for `DESCRIBE DETAIL`: (version, file count,
    * total data bytes, partition columns, schema). O(files) driver
    * metadata calls, no data I/O; schema from the manifest declaration
    * when present, else the first footer.
    */
  def detail(spark: SparkSession, path: String)
      : (Long, Long, Long, Seq[String], StructType) = {
    val s = snapshot(spark, path)
    val parts = s.partitionCols.getOrElse(
      s.lines.headOption.map(l => partitionDirOf(pathOf(l)).split('/')
        .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq)
        .getOrElse(Nil))
    (s.v, s.lines.size.toLong, bytesOf(s, s.lines.map(pathOf)), parts,
      tableSchema(s))
  }

  /** Drop all but the newest `keepVersions` manifests and delete every
    * data file none of the kept snapshots references. Callers must
    * ensure no reader is pinned to a dropped version (same contract as
    * Delta's VACUUM retention). Returns the table-relative paths
    * removed (data/change dirs and manifests). `dryRun = true` reports
    * what WOULD be removed without touching anything — the
    * look-before-you-leap check a retention policy wants before an
    * irreversible prune.
    */
  /** `orphanGraceMs`: a data dir referenced by NO manifest at all is
    * either debris from a failed commit or an IN-FLIGHT commit that has
    * written its files but not yet claimed a slot (commit writes data
    * first) — deleting it would let the writer claim a manifest whose
    * files are gone. Such dirs are only removed once older than the
    * grace period (Delta's uncommitted-file retention, same reasoning);
    * dirs referenced by the DROPPED manifests were durably committed
    * and are reclaimed immediately.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             orphanGraceMs: Long = 24L * 3600 * 1000,
             dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the head version")
    val (fs, p) = fsFor(spark, path)
    val vs = versions(spark, path)
    if (vs.isEmpty) return Seq.empty
    val removed = Seq.newBuilder[String]
    def remove(rel: String, target: Path, recursive: Boolean): Unit = {
      removed += rel
      if (!dryRun) { fs.delete(target, recursive); () }
    }
    // drop may be empty — orphan-dir cleanup below still runs (vacuum's
    // job includes reclaiming failed-commit debris past the grace). Each
    // manifest is read once, for its files and its change-data dir
    val (drop, keep) = vs.map(v => v -> readManifest(fs, p, v))
      .splitAt(math.max(0, vs.size - keepVersions))
    def filesOf(ms: Seq[(Long, (String, Seq[String]))]): Set[String] =
      ms.flatMap(_._2._2.map(pathOf)).toSet
    val live = filesOf(keep)
    val dropped = filesOf(drop)
    val dataRoot = new Path(p, "data")
    val now = System.currentTimeMillis()
    // delete whole commit dirs whose files are all dead (files of one
    // commit are only ever referenced together)
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { d =>
      val rel = s"data/${d.getPath.getName}"
      val anyLive = live.exists(_.startsWith(rel + "/"))
      val wasCommitted = dropped.exists(_.startsWith(rel + "/"))
      if (!anyLive && (wasCommitted ||
          now - d.getModificationTime > orphanGraceMs))
        remove(rel, d.getPath, recursive = true)
    }
    // change-data dirs follow the same lifecycle: referenced by a kept
    // manifest → live; referenced only by dropped manifests → reclaim
    // now; referenced by nothing (a DML that lost its commit race) →
    // reclaim past the grace period
    def cdfOf(ms: Seq[(Long, (String, Seq[String]))]): Set[String] =
      ms.flatMap(m => parseMeta(m._2._1).get(ChangeDataMetaKey))
        .filter(_ != "0").toSet
    val liveCdf = cdfOf(keep)
    val droppedCdf = cdfOf(drop)
    val changesRoot = new Path(p, ChangesDir)
    if (fs.exists(changesRoot)) fs.listStatus(changesRoot).foreach { d =>
      val name = d.getPath.getName
      if (!liveCdf.contains(name) && (droppedCdf.contains(name) ||
          now - d.getModificationTime > orphanGraceMs))
        remove(s"$ChangesDir/$name", d.getPath, recursive = true)
    }
    drop.foreach { case (v, _) =>
      remove(s"$LogDir/${manifestName(v)}",
        new Path(new Path(p, LogDir), manifestName(v)), recursive = false)
    }
    removed.result().sorted
  }
}
