package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** Scale-safe running totals over a GLOBAL ordering.
  *
  * The naive Spark spelling — `sum(x).over(Window.orderBy(...))` with no
  * partitionBy — is correct and useless at scale: Catalyst plans an
  * all-to-one exchange and a single task walks the whole table (Spark
  * even warns "No Partition Defined for Window operation"). This is the
  * textbook 100 TB bottleneck, so the primitive here is the classic
  * two-pass distributed prefix sum instead:
  *
  *  1. range-repartition by the order columns (so partition i holds a
  *     contiguous slice of the global order), cache the slice;
  *  2. per-partition running sum — a window PARTITIONED by
  *     `spark_partition_id()`, so every partition scans in parallel;
  *  3. per-partition totals (tiny: one row per partition) come back to
  *     the driver, get prefix-summed there (numPartitions values), and
  *     rejoin as broadcast offsets.
  *
  * Cost: one range shuffle of the data + one window pass + a
  * numPartitions-row driver exchange — wall-clock scales with
  * data/partitions instead of data/1.
  *
  * The result value depends only on the TOTAL order, not on where the
  * range boundaries land, so outputs are stable across partitionings,
  * retries, and cluster sizes. The order columns must therefore be a
  * total order (include a unique tiebreaker like the row id) — with
  * duplicate sort keys the "running" value of equal rows would be
  * boundary-dependent, and this operator refuses to guess.
  */
object Prefix {

  /** `df` plus `outCol` = running sum of `valueCol` in the global
    * ascending order of `orderCols`. Longs stay exact (no float
    * accumulation questions); use a decimal/long value column where
    * bit-reproducibility matters.
    */
  def runningSum(df: DataFrame, orderCols: Seq[Column], valueCol: Column,
                 outCol: String = "running_sum",
                 partitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "runningSum needs at least one order column")
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    val pid = graft.util.Cols.fresh(df, "__pid")
    val local = graft.util.Cols.fresh(df, "__local")

    // partition i = contiguous slice of the global order; the local
    // window below keys on the REAL partition id, so its result is
    // exact whatever boundaries the range sampler picked.
    // the slice is PINNED: the range sampler is seeded per execution,
    // and this plan is executed twice (totals collect + final join) —
    // without pinning, the two runs could draw different boundaries and
    // the broadcast offsets would key on pids from a partitioning the
    // final pass no longer has
    val ranged = GraftShim.pin(df.repartitionByRange(n, orderCols: _*)
      .withColumn(pid, spark_partition_id()))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pid)).orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val localSummed = ranged.withColumn(local, sum(valueCol).over(w))
    // integral only: a float prefix sum's value would depend on where
    // the range boundaries landed (FP addition is not associative) —
    // the exactness guarantee above is the point of this operator
    require(localSummed.schema(local).dataType ==
        org.apache.spark.sql.types.LongType,
      s"runningSum requires an int/long value column, got " +
        s"${localSummed.schema(local).dataType.simpleString}")

    // exclusive prefix of the per-partition totals: numPartitions rows,
    // driver-side by design (the one place a collect is the RIGHT plan),
    // rejoined as a broadcast — a chained CASE WHEN would blow up
    // codegen once partition counts reach cluster scale
    val totals = localSummed.groupBy(col(pid))
      .agg(sum(valueCol).as(local)) // sum, not max(running): safe for negatives
      .collect().map(r => r.getAs[Number](0).intValue() ->
        (if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue()))
      .sortBy(_._1)
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _).init)
    val off = graft.util.Cols.fresh(df.columns :+ pid :+ local, "__off")
    val offDf = {
      import spark.implicits._
      offsets.toSeq.toDF(pid, off)
    }
    localSummed
      .join(broadcast(offDf), Seq(pid), "left")
      .withColumn(outCol, col(local) + coalesce(col(off), lit(0L)))
      .drop(pid, local, off)
  }

  /** Global 1-based row number over a total order — `row_number()
    * OVER (ORDER BY ...)` without the all-to-one exchange, as the
    * running count of the prefix sum. Same contract as [[runningSum]]:
    * the order must be total (unique tiebreaker included).
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
                      outCol: String = "row_number",
                      partitions: Int = 0): DataFrame =
    runningSum(df, orderCols, lit(1L), outCol, partitions)

  /** Per-GROUP 1-based row number for the few-huge-groups regime — the
    * case `row_number().over(Window.partitionBy(group))` handles WRONG
    * at scale: with a handful of giant groups (languages, sources,
    * splits) a group-partitioned window funnels each whole group
    * through one task. This ranges-partitions by (group, order) so a
    * big group SPANS partitions, ranks locally per (partition, group),
    * and stitches with driver-side offsets exactly like [[runningSum]].
    *
    * The driver exchange is one row per (partition, group-run): range
    * partitioning keeps every partition to a contiguous slice of
    * (group, order) space, so that's at most `partitions + G - 1` rows
    * for G distinct groups — bounded precisely in the regime this
    * operator is FOR. With millions of tiny groups use the plain
    * group-partitioned window instead (each task then holds many whole
    * groups and parallelism is free); `maxDriverRows` guards against
    * invoking the wrong tool, loudly.
    *
    * As with [[runningSum]], orderCols should complete a total order
    * within the group for the rank ASSIGNMENT to be deterministic;
    * selecting the VALUE at a given rank (median-style use) is
    * deterministic even under order ties, because equal values are
    * interchangeable.
    */
  def groupRowNumber(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                     outCol: String = "group_rn", partitions: Int = 0,
                     maxDriverRows: Int = 1 << 20): DataFrame =
    groupRunningSum(df, groupCol, orderCols, lit(1L), outCol, partitions,
      maxDriverRows)

  /** Per-GROUP running sum under the same few-huge-groups contract as
    * [[groupRowNumber]] (which is this with a value of 1). Integral
    * value columns only, for the same exactness reason as
    * [[runningSum]].
    */
  def groupRunningSum(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                      valueCol: Column, outCol: String = "running_sum",
                      partitions: Int = 0,
                      maxDriverRows: Int = 1 << 20): DataFrame = {
    require(orderCols.nonEmpty, "groupRunningSum needs at least one order column")
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    val pid = graft.util.Cols.fresh(df, "__pid")
    val local = graft.util.Cols.fresh(df, "__local")

    // pin sampled boundaries, as in runningSum
    val ranged = GraftShim.pin(
      df.repartitionByRange(n, (col(groupCol) +: orderCols): _*)
        .withColumn(pid, spark_partition_id()))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pid), col(groupCol)).orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val localRanked = ranged.withColumn(local, sum(valueCol).over(w))
    require(localRanked.schema(local).dataType ==
        org.apache.spark.sql.types.LongType,
      s"groupRunningSum requires an int/long value column, got " +
        s"${localRanked.schema(local).dataType.simpleString}")

    // one row per (partition, group) — bounded by partitions + G - 1
    val totals = localRanked.groupBy(col(pid), col(groupCol))
      .agg(sum(valueCol).as(local))
    val collected = totals.limit(maxDriverRows + 1).collect()
    require(collected.length <= maxDriverRows,
      s"groupRunningSum saw more than $maxDriverRows (partition, group) " +
        "runs — this operator is for FEW huge groups; with many small " +
        "groups use a plain group-partitioned window")
    // per group: exclusive prefix of its per-partition totals in pid order
    val offsets = collected
      .map(r => (r.getInt(0), r.get(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      .groupBy(_._2).iterator.flatMap { case (_, runs) =>
        val sorted = runs.sortBy(_._1)
        sorted.map(_._1).zip(sorted).zip(
          sorted.map(_._3).scanLeft(0L)(_ + _).init)
          .map { case ((p, (_, g, _)), off) => (p, g, off) }
      }.toSeq

    val pid2 = graft.util.Cols.fresh(df.columns :+ pid :+ local, "__pid2")
    val grp2 = graft.util.Cols.fresh(df.columns :+ pid :+ local :+ pid2, "__grp2")
    val off = graft.util.Cols.fresh(df.columns :+ pid :+ local :+ pid2 :+ grp2, "__off")
    val offSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(pid2,
        org.apache.spark.sql.types.IntegerType, nullable = false),
      df.schema(groupCol).copy(name = grp2),
      org.apache.spark.sql.types.StructField(off,
        org.apache.spark.sql.types.LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        offsets.map { case (p, g, o) =>
          org.apache.spark.sql.Row(p, g, o) }, 1), offSchema)

    // null-safe group match: a null group is a legal group value and
    // may span partitions — a plain equi-join would hand every one of
    // its slices offset 0
    localRanked
      .join(broadcast(offDf),
        col(pid) === col(pid2) && col(groupCol) <=> col(grp2), "left")
      .withColumn(outCol, col(local) + coalesce(col(off), lit(0L)))
      .drop(pid, local, pid2, grp2, off)
  }

  /** SQL `NTILE(n)` over a GLOBAL total order without the all-to-one
    * exchange the naive `ntile(n).over(Window.orderBy(...))` plans:
    * the global rank comes from the distributed prefix sum above, and
    * the bucket is then pure integer arithmetic on (rank, rowCount) —
    * with N rows, q = N/n and r = N%n, the first r buckets hold q+1
    * rows and the rest q (exactly the SQL semantics, so the result is
    * hash-comparable to any engine's NTILE). Equal-frequency quantile
    * binning — "quality quartiles", "size deciles" — at any scale.
    * Same contract as [[runningSum]]: orderCols must be a total order.
    */
  def ntile(df: DataFrame, orderCols: Seq[Column], n: Int,
            outCol: String = "bucket", partitions: Int = 0): DataFrame = {
    require(n > 0, "ntile needs a positive bucket count")
    val rn = graft.util.Cols.fresh(df, "__rn")
    val ranked = globalRowNumber(df, orderCols, rn, partitions)
    // one count job over the ranked (already pinned) slice — the
    // bucket boundary needs the exact total, and N is the only global
    // statistic the prefix pass doesn't already hand back
    val total = ranked.count()
    val q = total / n
    val r = total % n
    val bigRows = r * (q + 1) // rows covered by the (q+1)-sized buckets
    // `div`, not `/`: Spark's numeric `/` is DOUBLE division, which
    // would round ranks above 2^53 — integer floor-division keeps the
    // boundary arithmetic exact at any row count
    val qSafe = if (q == 0) 1L else q // q=0 ⇒ the big region covers all rows
    val bucket =
      when(col(rn) <= bigRows,
          expr(s"((`$rn` - 1) div ${q + 1}) + 1"))
        .otherwise(expr(s"$r + ((`$rn` - 1 - $bigRows) div $qSafe) + 1"))
    ranked.withColumn(outCol, bucket.cast("int")).drop(rn)
  }

  /** Greedy token-budget corpus selection: walk documents from best to
    * worst `scoreCol` (ties broken by `idCol` — the required total
    * order) and keep every document while the running token total stays
    * within `budget`. The standard "take the best B tokens" step of a
    * training-data recipe, expressed as runningSum + one filter — no
    * driver loop, no single-task sort.
    */
  def budgetSelect(docs: DataFrame, scoreCol: Column, idCol: Column,
                   tokenCol: Column, budget: Long,
                   outCol: String = "running_tokens"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    runningSum(docs, Seq(scoreCol.desc, idCol.asc), tokenCol, outCol)
      .where(col(outCol) <= budget)
  }

  /** Per-group [[budgetSelect]] — "the best B tokens PER LANGUAGE",
    * the corpus-mix sibling of the global cut. `budget` is a per-row
    * Column so each group can carry its own ceiling (a broadcast-joined
    * per-group budget, or `lit(n)` for a uniform one). Runs on
    * [[groupRunningSum]], so the few-huge-groups contract applies:
    * languages/sources/splits, not high-cardinality keys.
    */
  def budgetSelectPerGroup(docs: DataFrame, groupCol: String,
                           scoreCol: Column, idCol: Column,
                           tokenCol: Column, budget: Column,
                           outCol: String = "running_tokens",
                           partitions: Int = 0): DataFrame =
    groupRunningSum(docs, groupCol, Seq(scoreCol.desc, idCol.asc),
      tokenCol, outCol, partitions)
      .where(col(outCol) <= budget)

  /** Per-group percent_rank with exact SQL semantics — rank =
    * 1 + count of strictly-smaller values (ties share), pct =
    * (rank − 1) / (n − 1), single-row groups 0.0 — WITHOUT a window
    * over the data. The standard calibration step before per-language
    * quality thresholds: a 0.6 quality score means different things in
    * different languages; its within-language percentile does not.
    *
    * Scale shape: ranks are computed on the DISTINCT (group, value)
    * frame — one aggregate, then [[groupRunningSum]] over the per-value
    * counts (so the few-huge-groups contract applies to the distinct
    * frame, which is |values| per group, not |rows|) — and equi-joined
    * back; group sizes broadcast. No task ever sorts a whole group of
    * raw rows.
    */
  def groupPercentRank(df: DataFrame, groupCol: String, valueCol: String,
                       outCol: String = "pct_rank",
                       partitions: Int = 0): DataFrame = {
    val c = graft.util.Cols.fresh(df, "__c")
    val cum = graft.util.Cols.fresh(df, "__cum")
    val rk = graft.util.Cols.fresh(df, "__rank")
    val nn = graft.util.Cols.fresh(df, "__n")
    // join-side key aliases go through Cols.fresh like every other
    // scratch name — a user frame already carrying __rg/__rv/__sg
    // would otherwise make the join conditions ambiguous or drop the
    // user's column
    val rg = graft.util.Cols.fresh(df, "__rg")
    val rv = graft.util.Cols.fresh(df, "__rv")
    val sg = graft.util.Cols.fresh(df, "__sg")
    val perValue = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as(c))
    val ranked = groupRunningSum(perValue, groupCol,
        Seq(col(valueCol).asc), col(c), cum, partitions)
      .withColumn(rk, col(cum) - col(c) + 1)
      .select(col(groupCol).as(rg), col(valueCol).as(rv), col(rk))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as(nn))
      .withColumnRenamed(groupCol, sg)
    // null-safe joins: null groups/values are grouped and ranked like
    // any other key (nulls first under the ascending range order) — a
    // plain equi-join would silently DROP those rows
    df.join(ranked,
        col(groupCol) <=> col(rg) && col(valueCol) <=> col(rv))
      .drop(rg, rv)
      .join(broadcast(sizes), col(groupCol) <=> col(sg))
      .drop(sg)
      .withColumn(outCol, when(col(nn) === 1, lit(0.0))
        .otherwise((col(rk) - 1).cast("double") /
          (col(nn) - 1).cast("double")))
      .drop(rk, nn)
      .select((df.columns.map(col) :+ col(outCol)).toSeq: _*)
  }
}
