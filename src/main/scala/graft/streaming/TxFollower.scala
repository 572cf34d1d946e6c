package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.TxTable

/** Exactly-once incremental table→table pipeline over the tx-log
  * format: follow an append-only source TxTable and materialize
  * `transform(delta)` into a destination TxTable, one commit per
  * consumed source-version range — the incremental-materialized-view
  * primitive (Delta's stream-from-table, reduced to the log).
  *
  * The consumed source version rides in the DESTINATION's manifest as
  * carried meta (`txn.src.<app>`), in the same atomic claim as the
  * output files. Crash anywhere and restart: either the commit landed
  * (meta says so → skip) or it didn't (redo from the same version) —
  * no state outside the destination log, and vacuum can't lose it
  * (carried-meta contract, see [[TxTable]]). The Structured Streaming
  * checkpoint of [[follow]] holds only rate-source ticks; correctness
  * never depends on it. CONCURRENT runs of the same app (overlapping
  * schedules, a zombie driver beside its restarted replacement) are
  * safe too: each commit carries a transaction guard revalidated
  * inside the claim loop, so the losing run aborts with
  * ConcurrentModificationException instead of applying the increment
  * twice (Delta's ConcurrentTransactionException semantics).
  *
  * Scale shape: each increment reads ONLY the files appended since the
  * last consumed version ([[TxTable.readAppended]] — I/O proportional
  * to the delta) and writes one append commit. A 100 TB source table
  * with daily appends costs each follower one day's data per day, not
  * one lake scan. Source tables must be append-only (overwrite /
  * replace commits surface rewritten rows as new additions — same
  * contract as Delta's streaming source without ignoreChanges).
  */
object TxFollower {

  private def srcKey(app: String) = s"txn.src.$app"

  private def requireTokenSafe(app: String): Unit =
    TxTable.requireTokenSafe(app, "app")

  /** Highest source version `app` has materialized into `dst`, if any. */
  def processedVersion(spark: SparkSession, dst: String,
                       app: String): Option[Long] =
    TxTable.snapshotAt(spark, dst, None, orEmpty = true).meta
      .get(srcKey(app)).map(_.toLong)

  /** Process everything appended to `src` since the last increment:
    * one output commit covering (processed, head]. Returns the source
    * version consumed, or None if already caught up (no empty commits).
    */
  def processAvailable(spark: SparkSession, src: String, dst: String,
                       app: String,
                       transform: DataFrame => DataFrame = identity,
                       partitionCols: Seq[String] = Nil): Option[Long] = {
    requireTokenSafe(app)
    val srcVersions = TxTable.versions(spark, src)
    val head = srcVersions.lastOption.getOrElse(return None)
    val from = processedVersion(spark, dst, app).getOrElse(0L)
    if (head <= from) None
    else {
      checkRetention(srcVersions, from, src)
      val delta = TxTable.readAppended(spark, src, fromV = from, toV = head)
      // the guard re-checks the offset inside the commit's claim loop:
      // if a concurrent run of the SAME app (overlapping schedules, a
      // zombie driver beside its restarted replacement) committed this
      // increment first, abort instead of appending the delta twice —
      // the head check above alone is check-then-act
      TxTable.append(spark, dst, transform(delta), partitionCols,
        meta = Map(srcKey(app) -> head.toString),
        guard = Map(srcKey(app) -> head))
      Some(head)
    }
  }

  /** Exactly-once KEYED REPLICA of a source table that receives
    * row-level DML: consume the change feed ([[TxTable.readChanges]])
    * since the last increment and materialize the final per-key
    * outcome into `dst` with ONE atomic commit
    * ([[TxTable.applyChanges]]). Unlike [[processAvailable]] — which a
    * MERGE/UPDATE/DELETE on the source would poison (rewrite commits
    * resurface carried rows as additions) — this stays exactly-once
    * downstream of row-level DML: changed rows arrive tagged, carried
    * rows never appear.
    *
    * Reduction: per key, the LAST change across the consumed window
    * wins (preimages are not outcomes); a final insert/update_postimage
    * upserts, a final delete removes. Sources must keep one row per
    * key per commit (the keyed-table contract MERGE maintains); the
    * offset+guard story is identical to [[processAvailable]].
    */
  def processChanges(spark: SparkSession, src: String, dst: String,
                     app: String, keyCols: Seq[String]): Option[Long] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    require(keyCols.nonEmpty, "keyed replica needs key columns")
    requireTokenSafe(app)
    val srcVersions = TxTable.versions(spark, src)
    val head = srcVersions.lastOption.getOrElse(return None)
    val from = processedVersion(spark, dst, app).getOrElse(0L)
    if (head <= from) return None
    checkRetention(srcVersions, from, src)
    val changes = TxTable.readChanges(spark, src, fromV = from, toV = head)
    val metaCols = Seq(TxTable.ChangeTypeCol, TxTable.CommitVersionCol,
      TxTable.CommitTimestampCol)
    // File-granular fallback commits (overwrite/restore/changeFeed=false
    // DML) emit a 'delete' AND an 'insert' for a surviving key at the
    // SAME commit version. Within a version the row present in the
    // post-snapshot must win, so 'delete' deterministically loses ties.
    val finals = changes
      .where(col(TxTable.ChangeTypeCol) =!= "update_preimage")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(TxTable.CommitVersionCol).desc,
            (col(TxTable.ChangeTypeCol) === "delete").cast("int").asc)))
      .where(col("__rn") === 1).drop("__rn")
    val upserts = finals.where(col(TxTable.ChangeTypeCol) =!= "delete")
      .drop(metaCols: _*)
    val deleted = finals.where(col(TxTable.ChangeTypeCol) === "delete")
      .select(keyCols.map(col): _*)
    val meta = Map(srcKey(app) -> head.toString)
    val guard = Map(srcKey(app) -> head)
    if (!TxTable.exists(spark, dst))
      TxTable.append(spark, dst, upserts, meta = meta, guard = guard)
    else
      TxTable.applyChanges(spark, dst, upserts, deleted, keyCols,
        meta = meta, guard = guard)
    Some(head)
  }

  /** The destination offset survives anything (carried meta), but the
    * delta read needs the SOURCE manifest at the last-consumed version
    * — a source vacuum that pruned it makes incremental consumption
    * impossible. Fail with an actionable message instead of a
    * FileNotFoundException on every trigger; reprocessing from scratch
    * silently would double-count into aggregate views. (Same contract
    * as Delta: keep source retention longer than follower downtime.)
    */
  private def checkRetention(srcVersions: Seq[Long], from: Long,
                             src: String): Unit =
    if (from > 0 && !srcVersions.contains(from))
      throw new IllegalStateException(
        s"source $src vacuumed past the last consumed version $from " +
        s"(oldest retained: ${srcVersions.headOption.getOrElse(-1L)}); " +
        "incremental consumption cannot resume — restore retention or " +
        "rebuild the view from scratch")

  /** Incremental AGGREGATE materialized view: maintain
    * `src.groupBy(groupCols).agg(...)` in `dst` by folding each delta's
    * partial aggregates into the stored state — never re-aggregating
    * the source. `partial` turns a delta frame into per-key partial
    * rows (same schema as `dst`); `combine` re-aggregates a union of
    * partial rows with the same keys back to one row per key. The view
    * therefore stores mergeable PARTIAL state (sums, counts, min/max —
    * derive averages at read time as sum/count).
    *
    * Each increment reads only the appended source files, touches only
    * the stored groups whose keys appear in the delta (semi-join, and
    * [[TxTable.merge]] bounds the file rewrite by those keys' ranges),
    * and commits with the consumed source version in the same manifest
    * claim — exactly-once by the same argument as [[processAvailable]].
    * At 100 TB: a day's delta re-aggregates a day's keys, while the
    * batch equivalent re-scans the lake per refresh.
    */
  def processAggregate(spark: SparkSession, src: String, dst: String,
                       app: String, groupCols: Seq[String],
                       partial: DataFrame => DataFrame,
                       combine: DataFrame => DataFrame): Option[Long] = {
    require(groupCols.nonEmpty, "aggregate view needs group columns")
    requireTokenSafe(app)
    val srcVersions = TxTable.versions(spark, src)
    val head = srcVersions.lastOption.getOrElse(return None)
    val from = processedVersion(spark, dst, app).getOrElse(0L)
    if (head <= from) return None
    checkRetention(srcVersions, from, src)
    val delta = TxTable.readAppended(spark, src, fromV = from, toV = head)
    val p = partial(delta)
    val meta = Map(srcKey(app) -> head.toString)
    val guard = Map(srcKey(app) -> head)
    if (!TxTable.exists(spark, dst))
      TxTable.append(spark, dst, p, meta = meta, guard = guard)
    else {
      import org.apache.spark.sql.functions.col
      // ALL joins here are null-safe: a null group key is a real group
      // (groupBy semantics), and plain equality would re-insert a fresh
      // null-group row every increment instead of folding into it
      val dstDf = TxTable.read(spark, dst)
      val pKeys = p.select(groupCols.map(col): _*).distinct()
        .toDF(groupCols.map(k => s"__p_$k"): _*)
      val touched = dstDf.join(pKeys,
        groupCols.map(k => dstDf(k) <=> col(s"__p_$k")).reduce(_ && _),
        "left_semi")
      val combined = combine(touched.unionByName(p))
      // merge commits meta even when `combined` is empty (an empty
      // source increment): without the durable offset advance every
      // later trigger would re-read an ever-growing delta window. The
      // guard aborts if a concurrent same-app run folded this
      // increment first — folding partial state twice would corrupt
      // the view permanently, not just duplicate rows.
      // combined is a groupBy output — key-unique by construction, so
      // skip merge's duplicate probe (the grouped-agg exchange it
      // costs matters at one merge per trigger)
      TxTable.merge(spark, dst, combined, groupCols, meta = meta,
        nullSafeKeys = true, guard = guard, checkUniqueKeys = false)
    }
    Some(head)
  }

  /** Incremental aggregate view of a source that RECEIVES ROW-LEVEL
    * DML: maintain `groupBy(groupCols).agg(count(*), sum(c)...)` from
    * the CHANGE FEED with RETRACTIONS — insert / update_postimage
    * rows add, delete / update_preimage rows subtract — so the view
    * tracks the source under MERGE/UPDATE/DELETE without ever
    * re-aggregating it. (File-granular fallback commits are signed
    * the same way: a whole-file delete+insert is a valid retraction +
    * re-addition, so even overwrites fold exactly.) Counts, sums, and
    * anything derived from them (averages = sum/count at read time)
    * fold purely from the feed. MIN/MAX (`extremaCols`) are NOT
    * retractable — the removed row may have been the extremum — so
    * insert-only groups fold monotonically while retraction-touched
    * groups re-aggregate from the source snapshot PINNED at the
    * consumed offset (one semi-joined scan bounded to the dirty
    * groups, only on increments that actually retracted).
    *
    * View schema: groupCols ++ `n_rows` ++ per sum column `c`:
    * `sum_<c>` (NULL iff the group holds no non-null values — exact
    * SQL SUM semantics) and `nn_<c>` (its non-null count, the state
    * that makes that NULL decidable under retraction) ++ per extrema
    * column `min_<c>`/`max_<c>` (SQL semantics: nulls ignored, NULL
    * when the group holds no non-null values). Groups whose
    * row count reaches zero are DELETED (a group exists iff it has
    * rows). Exact for integral sums; floating-point sums accumulate
    * retraction round-off vs a from-scratch re-aggregate, so prefer
    * integral/decimal columns where bit-equality matters.
    *
    * Scale/exactly-once shape is [[processChanges]]'s: each increment
    * reads only the consumed window's change rows, touches only the
    * groups present in the delta (one [[TxTable.applyChanges]]
    * commit, key-bounded rewrite), and the offset+guard ride the same
    * manifest claim.
    */
  def processAggregateChanges(spark: SparkSession, src: String, dst: String,
                              app: String, groupCols: Seq[String],
                              sumCols: Seq[String] = Nil,
                              extremaCols: Seq[String] = Nil): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, least, greatest, lit, max, min, sum, when}
    require(groupCols.nonEmpty, "aggregate view needs group columns")
    requireTokenSafe(app)
    val srcVersions = TxTable.versions(spark, src)
    val head = srcVersions.lastOption.getOrElse(return None)
    val from = processedVersion(spark, dst, app).getOrElse(0L)
    if (head <= from) return None
    checkRetention(srcVersions, from, src)
    val changes = TxTable.readChanges(spark, src, fromV = from, toV = head)
    val isAdd = col(TxTable.ChangeTypeCol).isin("insert", "update_postimage")
    val w = when(isAdd, 1L).otherwise(-1L)
    val deltas = changes.withColumn("__w", w)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__w")).as("__dn"),
        (sumCols.flatMap(c => Seq(
          sum(col(c) * col("__w")).as(s"__ds_$c"),
          sum(when(col(c).isNotNull, col("__w")).otherwise(0L))
            .as(s"__dnn_$c"))) ++
        extremaCols.flatMap(c => Seq(
          min(when(isAdd, col(c))).as(s"__dmin_$c"),
          max(when(isAdd, col(c))).as(s"__dmax_$c"))) :+
        sum(when(isAdd, 0L).otherwise(1L)).as("__dret")): _*)
    // RETRACTIONS make extrema non-foldable (the removed row may have
    // BEEN the extremum), so retraction-touched groups re-aggregate
    // from the source — PINNED at the consumed offset `head`, never
    // the live head (a racing commit would leak future state into
    // this increment) — while insert-only groups fold monotonically.
    // Cost: one semi-joined scan bounded to the dirty groups, only on
    // increments that actually retracted.
    // the aliases are renamed away by the toDF below — one list, mins
    // then maxes, matching that positional rename
    val recomputeAggs = extremaCols.map(c => min(col(c))) ++
      extremaCols.map(c => max(col(c)))
    val recomputed =
      if (extremaCols.isEmpty) None
      else {
        val dirty0 = deltas.where(col("__dret") > 0)
          .select(groupCols.map(k => col(k).as(s"__d_$k")): _*)
        val srcAt = TxTable.readVersion(spark, src, head)
        Some(srcAt.join(dirty0,
            groupCols.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _),
            "left_semi")
          .groupBy(groupCols.map(col): _*)
          .agg(recomputeAggs.head, recomputeAggs.tail: _*)
          .toDF((groupCols.map(k => s"__r_$k") ++
            extremaCols.map(c => s"__rmin_$c") ++
            extremaCols.map(c => s"__rmax_$c")): _*))
      }
    // SQL-null-ignoring fold of two candidate extrema
    def nmin(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(least(a, b))
    def nmax(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(greatest(a, b))
    def project(n: org.apache.spark.sql.Column,
                sumOf: String => org.apache.spark.sql.Column,
                nnOf: String => org.apache.spark.sql.Column,
                minOf: String => org.apache.spark.sql.Column,
                maxOf: String => org.apache.spark.sql.Column,
                from: DataFrame) =
      from.select(groupCols.map(col) ++ Seq(n.as("n_rows")) ++
        sumCols.flatMap(c => Seq(
          when(nnOf(c) > 0, sumOf(c)).as(s"sum_$c"),
          nnOf(c).as(s"nn_$c"))) ++
        extremaCols.flatMap(c => Seq(
          minOf(c).as(s"min_$c"), maxOf(c).as(s"max_$c"))): _*)
    // one row per dirty group — small on normal increments, but a mass
    // delete can dirty every group: no forced broadcast, AQE decides
    def withRecompute(df: DataFrame): DataFrame = recomputed match {
      case None => df
      case Some(r) => df.join(r,
        groupCols.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _),
        "left")
    }
    // dirty groups take the recomputed extrema VERBATIM (the pinned
    // snapshot is the truth); clean groups fold old-state/delta minima
    def finalMin(old: String => org.apache.spark.sql.Column)(c: String) =
      when(col("__dret") > 0, col(s"__rmin_$c"))
        .otherwise(nmin(old(c), col(s"__dmin_$c")))
    def finalMax(old: String => org.apache.spark.sql.Column)(c: String) =
      when(col("__dret") > 0, col(s"__rmax_$c"))
        .otherwise(nmax(old(c), col(s"__dmax_$c")))
    val meta = Map(srcKey(app) -> head.toString)
    val guard = Map(srcKey(app) -> head)
    if (!TxTable.exists(spark, dst)) {
      TxTable.append(spark, dst,
        project(col("__dn"), c => coalesce(col(s"__ds_$c"), lit(0L)),
          c => col(s"__dnn_$c"),
          finalMin(_ => lit(null))(_), finalMax(_ => lit(null))(_),
          withRecompute(deltas).where(col("__dn") > 0)),
        meta = meta, guard = guard)
    } else {
      // null-safe key join: a null group key is a real group
      val s0 = TxTable.read(spark, dst)
      // the view's state columns are fixed at creation: asking for a
      // sum/extrema column the existing view never tracked has no
      // incremental answer (the history that built its state is gone),
      // and silently proceeding would die in an unresolved-column
      // AnalysisException deep in the fold — refuse loudly instead,
      // with the migration path spelled out
      val missingState = (Seq("n_rows") ++
        sumCols.flatMap(c => Seq(s"sum_$c", s"nn_$c")) ++
        extremaCols.flatMap(c => Seq(s"min_$c", s"max_$c")))
        .filterNot(s0.columns.contains)
      require(missingState.isEmpty,
        s"aggregate view $dst lacks state column(s) " +
          s"${missingState.mkString(", ")} — it was created with " +
          "different sumCols/extremaCols. Recreate the view (drop the " +
          "destination table and let the next increment rebuild it with " +
          "the new column set) or keep the original sumCols/extremaCols.")
      val state = s0.toDF(s0.columns.map(c => s"__s_$c"): _*)
      val joined = withRecompute(deltas).join(state,
        groupCols.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _),
        "left")
      val newN = coalesce(col("__s_n_rows"), lit(0L)) + col("__dn")
      val folded = project(newN,
        c => coalesce(col(s"__s_sum_$c"), lit(0L)) +
          coalesce(col(s"__ds_$c"), lit(0L)),
        c => coalesce(col(s"__s_nn_$c"), lit(0L)) + col(s"__dnn_$c"),
        finalMin(c => col(s"__s_min_$c"))(_),
        finalMax(c => col(s"__s_max_$c"))(_),
        joined)
      val upserts = folded.where(col("n_rows") > 0)
      val deletes = folded.where(col("n_rows") <= 0)
        .select(groupCols.map(col): _*)
      // nullSafeKeys: the fold above already treats a null group key
      // as a real group; the persisted apply must match, or the null
      // group would re-insert on every increment and never delete
      TxTable.applyChanges(spark, dst, upserts, deletes, groupCols,
        meta = meta, guard = guard, nullSafeKeys = true)
    }
    Some(head)
  }

  /** Continuous form: a Structured Streaming query whose every trigger
    * runs [[processAvailable]]. The rate source only provides the
    * heartbeat; offsets, idempotence, and restart safety all live in
    * the destination's manifest meta.
    */
  def follow(spark: SparkSession, src: String, dst: String, app: String,
             checkpoint: String,
             transform: DataFrame => DataFrame = identity,
             partitionCols: Seq[String] = Nil,
             ticksPerSecond: Int = 1): StreamingQuery =
    spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toString)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        processAvailable(spark, src, dst, app, transform, partitionCols)
        ()
      }
      .start()

  /** Continuous form of [[processChanges]]: a live keyed replica of a
    * table that RECEIVES ROW-LEVEL DML. Same heartbeat/offset story as
    * [[follow]] — the rate ticks only trigger; each trigger consumes
    * the change feed since the last consumed version and applies the
    * final per-key outcomes in one guarded commit.
    */
  def followChanges(spark: SparkSession, src: String, dst: String,
                    app: String, keyCols: Seq[String], checkpoint: String,
                    ticksPerSecond: Int = 1): StreamingQuery =
    spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toString)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        processChanges(spark, src, dst, app, keyCols)
        ()
      }
      .start()

  /** Continuous form of [[processAggregateChanges]]: a live
    * retraction-maintained count/sum view of a table receiving
    * row-level DML. Same heartbeat/offset story as [[follow]].
    */
  def followAggregateChanges(spark: SparkSession, src: String, dst: String,
                             app: String, groupCols: Seq[String],
                             sumCols: Seq[String], checkpoint: String,
                             ticksPerSecond: Int = 1,
                             extremaCols: Seq[String] = Nil): StreamingQuery =
    spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toString)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        processAggregateChanges(spark, src, dst, app, groupCols, sumCols,
          extremaCols)
        ()
      }
      .start()
}
