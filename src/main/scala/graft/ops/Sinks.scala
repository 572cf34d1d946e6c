package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SaveMode}

/** Parquet sinks (SURVEY §2.1 S3/S4).
  *
  * The reference materializes every output table as exactly ONE parquet
  * file with a deterministic name: coalesce(1) → write to a tmp UUID dir →
  * boto3 copy to `<layer>/<name>/<name>.parquet` → delete tmp
  * (`aws-job-landing-to-bronze/aws-job-landing-to-bronze.py:85-106` and 4
  * near-identical clones). We implement the same observable contract once,
  * with the Hadoop FileSystem API (uniform over local FS, HDFS, S3A).
  *
  * Scale note: coalesce(1) is the *contract* of this sink (single-file
  * table), not a general pattern — it collapses the final stage to one
  * task, so it is applied only at the write boundary, after all wide
  * transforms have run at full parallelism. For genuinely large outputs
  * use [[writePartitioned]] instead.
  */
object Sinks {

  /** Write `df` as `<layerDir>/<name>/<name>.parquet` (one file). */
  def writeSingleFile(df: DataFrame, layerDir: String, name: String): Path = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // Unique tmp dir per invocation (the reference used a uuid4 —
    // L2B:86): concurrent writes of the same table must not race.
    val nonce = java.util.UUID.randomUUID().toString
    val tmp = new Path(layerDir, s"tmp_output_${name}_$nonce")
    val destDir = new Path(layerDir, name)
    val dest = new Path(destDir, s"$name.parquet")
    val fs = FileSystem.get(tmp.toUri, conf)

    try {
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val found = Option(fs.globStatus(new Path(tmp, "part-*.parquet")))
        .getOrElse(Array.empty)
      val part = found match {
        case Array(one) => one.getPath
        case Array() =>
          // a ZERO-partition frame (e.g. from an empty source) writes no
          // part file at all; force one so the contract file exists
          df.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          Option(fs.globStatus(new Path(tmp, "part-*.parquet")))
            .getOrElse(Array.empty) match {
            case Array(one) => one.getPath
            case other => sys.error(s"expected 1 part file in $tmp, got ${other.length}")
          }
        case parts => sys.error(s"expected 1 part file in $tmp, got ${parts.length}")
      }
      fs.mkdirs(destDir)
      if (fs.exists(dest)) fs.delete(dest, false)
      if (!fs.rename(part, dest)) sys.error(s"rename $part -> $dest failed")
      // ChecksumFileSystem (local FS) renames the .crc sidecar along with
      // the part file; the contract is ONE file, so drop it.
      val crc = new Path(destDir, s".${dest.getName}.crc")
      if (fs.exists(crc)) fs.delete(crc, false)
      dest
    } finally fs.delete(tmp, true) // no junk dirs on ANY failure path
  }

  /** Swap a freshly-written tmp dir into `dest`: rename aside, rename in,
    * delete old. NOT fully atomic — plain filesystems have no atomic
    * directory swap, so a reader racing the two renames can see a
    * missing path for an instant, and a crash between them leaves the
    * data under `.<tmp>_old` in dest's parent. The aside name is
    * DOT-prefixed deliberately: for partition-leaf swaps it lands inside
    * the table root (e.g. `<table>/.day=10_old`), where an undotted name
    * would be picked up by Spark partition discovery as a bogus
    * partition value; dotted paths are invisible to the FileIndex.
    * Crash recovery: if `dest` is missing and `.<x>_old` exists, rename
    * the aside back to `dest`. On S3A, rename is a copy, widening the
    * window. For stronger guarantees use the tx mode of the callers
    * ([[TxTable]] manifests). Cleans tmp on failure.
    */
  private[ops] def swapInto(fs: FileSystem, tmp: Path, dest: Path): Unit =
    try {
      if (fs.exists(dest)) {
        val old = new Path(dest.getParent, s".${tmp.getName.stripPrefix(".")}_old")
        if (!fs.rename(dest, old)) sys.error(s"swap: rename $dest -> $old failed")
        if (!fs.rename(tmp, dest)) {
          // roll the old data back into place before the finally block
          // deletes tmp — otherwise the table would be left ABSENT with
          // its data stranded at <tmp>_old
          if (!fs.rename(old, dest))
            sys.error(s"swap: rename $tmp -> $dest failed AND rollback " +
              s"$old -> $dest failed; data is at $old")
          sys.error(s"swap: rename $tmp -> $dest failed (old data restored)")
        }
        fs.delete(old, true)
      } else if (!fs.rename(tmp, dest))
        sys.error(s"swap: rename $tmp -> $dest failed")
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)

  /** The scale path: plain multi-file parquet, optionally hive-layout
    * partitioned via partitionBy columns. Keeps full write parallelism.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Key-based upsert (merge) into a parquet table: rows in `updates`
    * replace existing rows with the same key (null-safely — a null key
    * REPLACES a null key, it does not duplicate); new keys append.
    * Plain parquet has no transaction log, so this is the classic
    * read–merge–rewrite: one null-safe left_anti join + union, written
    * to a tmp dir and swapped in (see [[swapInto]] for the exact —
    * non-atomic — guarantees). At 100 TB you bound the rewrite by
    * partitioning the table on a key prefix and merging only affected
    * partitions; the merge itself is this same plan.
    *
    * `tx = true` keeps the identical merge plan but publishes through a
    * [[TxTable]] manifest commit instead of [[swapInto]]: readers racing
    * the upsert always resolve a complete committed snapshot (old or
    * new), never a missing path. The table must then be read via
    * [[TxTable.read]] and must be a TxTable (or not exist yet).
    */
  def upsert(spark: org.apache.spark.sql.SparkSession, path: String,
             updates: DataFrame, keyCols: Seq[String],
             tx: Boolean = false): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val exists = if (tx) TxTable.exists(spark, path) else fs.exists(p)
    if (tx && !exists && fs.exists(p)) sys.error(
      s"tx upsert into $path: path exists but is not a TxTable " +
        "(no _txlog); migrate it with TxTable.overwrite first")
    // one-row-per-key is the upsert contract in EVERY mode: the tx
    // merge path rejects duplicate update keys (TxTable.merge), so the
    // non-tx anti-join+union and the tx bootstrap overwrite must too —
    // otherwise the same call silently lands several rows per key on
    // one flag value and throws on the other. One cheap agg on the
    // small (delta) side.
    def requireKeyUnique(df: DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, count, lit}
      val dup = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
        .limit(1).collect()
      require(dup.isEmpty,
        s"upsert updates have duplicate key ${dup.headOption}" +
        " — aggregate the updates first so one row per key remains")
    }
    if (tx) {
      // TxTable.merge IS this operation, race-safely: the rewrite is
      // stats-bounded, racing appends survive its baseKeep, and a
      // conflicting DML aborts. A read-merge-overwrite here would
      // silently drop files a concurrent writer commits between the
      // head read and the claim (overwrite's baseKeep keeps nothing).
      if (!exists) { requireKeyUnique(updates); TxTable.overwrite(spark, path, updates) }
      else TxTable.merge(spark, path, updates, keyCols, nullSafeKeys = true)
      return
    }
    // updates feeds the dup check, the anti-join probe and the union —
    // materialize once (broadcast anti-join sides get no ReuseExchange)
    val up = if (exists) GraftShim.pin(updates) else updates
    val tmp = new Path(p.getParent,
      s".upsert_${p.getName}_${java.util.UUID.randomUUID()}")
    try {
      requireKeyUnique(up)
      val merged =
        if (!exists) up
        else {
          val keys = up.select(keyCols.map(
            org.apache.spark.sql.functions.col): _*).dropDuplicates()
          val existing = spark.read.parquet(path)
          // null-safe equality: a null key must MATCH a null key or the
          // anti-join keeps the old row and the union adds the new one
          val cond = keyCols.map(c => existing(c) <=> keys(c)).reduce(_ && _)
          existing.join(keys, cond, "left_anti").unionByName(up)
        }
      merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      swapInto(fs, tmp, p)
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (exists) GraftShim.unpin(up)
    }
  }

  /** Partition-bounded upsert into a hive-partitioned parquet table:
    * only the partitions that contain updated keys are read, merged
    * (same null-safe key semantics as [[upsert]]) and swapped; every
    * other partition directory is left untouched — byte-identical, not
    * rewritten. THIS is the shape that makes a daily merge into a
    * 100 TB table feasible: the rewrite is bounded by the updated
    * partitions, not the table.
    *
    * Requirements:
    *  - `partitionCols` must be a subset of `keyCols` (a key then can
    *    never move between partitions; otherwise a "moved" row would
    *    survive in its old partition AND appear in the new one).
    *  - The affected-partition list is collected to the driver to prune
    *    the read and is interpolated into one disjunctive filter —
    *    bounded by the number of DISTINCT PARTITIONS in `updates`
    *    (thousands at most for a daily batch), never by row count, and
    *    HARD-CAPPED at `maxAffectedPartitions`: the collect is limited
    *    to cap+1 rows (driver memory stays bounded no matter what) and
    *    exceeding the cap fails loudly instead of degenerating into a
    *    full-table rewrite behind a partition-merge API.
    *
    * Swap granularity is per partition directory ([[swapInto]]'s
    * non-atomicity applies per partition, not to the whole table).
    *
    * `tx = true` publishes through [[TxTable.replacePartitions]]
    * instead: ONE atomic manifest commit replaces exactly the affected
    * partitions' files while untouched partitions keep their existing
    * files unrewritten — the partition-bounded rewrite is retained AND
    * the whole merge becomes a single all-or-nothing snapshot flip.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        updates: DataFrame, keyCols: Seq[String],
                        partitionCols: Seq[String],
                        tx: Boolean = false,
                        maxAffectedPartitions: Int = 10000): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(partitionCols.nonEmpty,
      "upsertPartitioned needs partition columns; use upsert() for unpartitioned tables")
    require(partitionCols.forall(keyCols.contains),
      s"partition columns $partitionCols must be a subset of key columns $keyCols")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val exists = if (tx) TxTable.exists(spark, path) else fs.exists(p)
    if (tx && !exists && fs.exists(p)) sys.error(
      s"tx upsert into $path: path exists but is not a TxTable " +
        "(no _txlog); migrate it with TxTable.overwrite first")
    // same one-row-per-key contract as upsert(): neither the
    // anti-join+union below nor replacePartitions rejects duplicate
    // update keys, so enforce here — on the pinned frame for the
    // merge paths, on the raw frame for the bootstrap
    def requireKeyUnique(df: DataFrame): Unit = {
      import org.apache.spark.sql.functions.count
      val dup = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
        .limit(1).collect()
      require(dup.isEmpty,
        s"upsert updates have duplicate key ${dup.headOption}" +
        " — aggregate the updates first so one row per key remains")
    }
    if (!exists) {
      requireKeyUnique(updates)
      if (tx) TxTable.overwrite(spark, path, updates, partitionCols)
      else writePartitioned(updates, path, partitionCols)
      return
    }

    // updates feeds the dup check, the partition listing, the
    // anti-join probe and the union — materialize once
    val up = GraftShim.pin(updates)
    try {
      requireKeyUnique(up)
      // capped collect: the limit bounds what can ever reach the driver,
      // and exceeding it fails LOUDLY — an upsert touching more than
      // `maxAffectedPartitions` partitions is a full-table rewrite in
      // disguise and should go through overwrite/writePartitioned, not
      // grow an unbounded disjunctive filter and driver array
      val affected = up.select(partitionCols.map(col): _*).distinct()
        .limit(maxAffectedPartitions + 1).collect()
      if (affected.isEmpty) return
      require(affected.length <= maxAffectedPartitions,
        s"upsert touches more than $maxAffectedPartitions distinct " +
          s"partitions of $path — that is a table-scale rewrite; use " +
          "overwrite/writePartitioned, or raise maxAffectedPartitions " +
          "deliberately")
      // one disjunct per affected partition; <=> matches null partition
      // values (hive's __HIVE_DEFAULT_PARTITION__)
      val prune = affected.map { r =>
        partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
      val keys = up.select(keyCols.map(col): _*).dropDuplicates()
      // Pin the read schema to the update's: partition-column types are
      // otherwise re-inferred from the key=value directory STRINGS, so a
      // string day "07" comes back as int 7, the <=> prune matches
      // nothing, and the partition swap would drop every pre-existing
      // non-updated key. With an explicit schema the directory strings
      // parse as the update's types — prune and anti-join compare
      // like-for-like. (Also skips the footer-sampling schema inference
      // pass entirely.)
      // tx conflict scope, listed BEFORE the snapshot read: the files
      // this merge reads in the affected partitions are its read set — the
      // partition replace may drop only those, so a racing append into an
      // affected partition (even one that had no files yet) aborts the
      // claim instead of being silently dropped. The known set comes from
      // the MANIFEST pruned by the same partition predicate, NOT from
      // DataFrame.inputFiles: inputFiles surfaces the relation's whole
      // FileIndex (the .filter below never reaches it), which would widen
      // the conflict scope to the entire table and spuriously abort every
      // partition-disjoint concurrent merge. Listing known FIRST makes the
      // race window safe in the conservative direction — a commit landing
      // between this listing and the read fails the claim-time check
      // (abort + retry), never a silent drop. The prune resolves against
      // the same pinned schema as the read, so a string partition stays
      // a string there too.
      val knownRelTx =
        if (tx) TxTable.headFilesMatching(spark, path, Some(prune),
          schema = Some(up.schema)).toSet
        else Set.empty[String]
      val existing =
        (if (tx) TxTable.read(spark, path, schema = Some(up.schema))
         else spark.read.option("basePath", path).schema(up.schema).parquet(path))
          .filter(prune)
      val cond = keyCols.map(c => existing(c) <=> keys(c)).reduce(_ && _)
      val merged = existing.join(keys, cond, "left_anti").unionByName(up)

      if (tx) {
        TxTable.replacePartitions(spark, path, merged, partitionCols,
          expectUnchanged = Some(knownRelTx))
        return
      }
      val tmp = new Path(p.getParent,
        s".upsert_${p.getName}_${java.util.UUID.randomUUID()}")
      try {
        merged.write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCols: _*).parquet(tmp.toString)
        // swap exactly the partition dirs the merge produced (merged holds
        // only affected-partition rows, so this IS the affected set, with
        // directory names already hive-escaped by the writer)
        def leafDirs(base: Path, depth: Int): Seq[Path] =
          if (depth == 0) Seq(base)
          else fs.listStatus(base).toSeq
            .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_")
              && !s.getPath.getName.startsWith("."))
            .flatMap(d => leafDirs(d.getPath, depth - 1))
        // listStatus returns scheme-qualified paths (file:/…); qualify the
        // tmp prefix the same way or stripPrefix silently no-ops and the
        // "relative" path is the absolute source itself
        val tmpQ = fs.makeQualified(tmp).toString
        leafDirs(tmp, partitionCols.length).foreach { src =>
          val rel = src.toString.stripPrefix(tmpQ).stripPrefix("/")
          require(rel.nonEmpty && !rel.contains(":"),
            s"failed to relativize $src against $tmpQ")
          val dest = new Path(p, rel)
          fs.mkdirs(dest.getParent) // first write of a NEW nested partition
          swapInto(fs, src, dest)
        }
      } finally fs.delete(tmp, true)
    } finally GraftShim.unpin(up)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files (measured from the CURRENT compressed
    * footprint, so the estimate already reflects encoding+compression).
    * The lake-maintenance chore every long-lived 100 TB table needs —
    * streaming ingests and per-partition writers accrete thousands of
    * small files whose open/footer costs dominate scans. Returns the
    * file count written (for partitioned tables: total across
    * partitions). Swap guarantees: see [[swapInto]].
    *
    * Hive-partitioned tables MUST pass their `partitionCols`, or the
    * rewrite flattens the `col=value/` directory layout into plain data
    * columns and silently breaks layout-based pruning/appends.
    *
    * `tx = true` compacts a [[TxTable]]: reads the head snapshot and
    * commits the rewrite as a new overwrite version — readers pinned to
    * the old version keep their (small-file) snapshot until vacuum, and
    * no reader ever sees the table mid-swap. Compaction is exactly the
    * maintenance operation that runs while readers are live, so this is
    * the mode a shared table should use.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Nil,
              tx: Boolean = false,
              schema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    def repartitioned(df0: DataFrame, nFiles: Int): DataFrame =
      // partitioned tables co-locate rows by partition value, or every
      // task writes a sliver into every partition dir (nFiles × values
      // files — worse than before compaction)
      if (partitionCols.isEmpty) df0.repartition(nFiles)
      else df0.repartition(nFiles,
        partitionCols.map(org.apache.spark.sql.functions.col): _*)
    if (tx) {
      // race-safe layout rewrite: racing appends survive, conflicting
      // DML aborts, and `schema` pins hive-partition column types
      // against directory-string re-inference (string day "07" would
      // otherwise re-land retyped as int 7)
      val nFiles = TxTable.headFileCountFor(spark, path, targetBytes)
      val v = TxTable.rewriteSnapshot(spark, path, partitionCols,
        schema = schema)(repartitioned(_, nFiles))
      return TxTable.readVersion(spark, path, v).inputFiles.length
    }
    val df0 = schema match {
      case Some(sch) =>
        spark.read.option("basePath", path).schema(sch).parquet(path)
      case None => spark.read.parquet(path)
    }
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val repart = repartitioned(df0, nFiles)
    val tmp = new Path(p.getParent,
      s".compact_${p.getName}_${java.util.UUID.randomUUID()}")
    try {
      val w = repart.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
      swapInto(fs, tmp, p)
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)
    // recursive listing, not a fixed-depth glob: partitioned tables nest
    // one directory level PER partition column
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-") &&
          f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Bucketed catalog table: rows hash-partitioned into `numBuckets` by
    * `bucketCols` at write time, sorted within buckets. Joins and
    * aggregations between tables bucketed the same way need NO shuffle —
    * at 100 TB, pre-bucketing the big fact tables on their join key
    * turns every downstream equi-join into a zip of co-located buckets
    * (verify: the join plan has no Exchange under either side).
    * Requires a catalog (`saveAsTable`) — bucket metadata lives there.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
