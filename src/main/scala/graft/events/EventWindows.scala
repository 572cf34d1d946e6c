package graft.events

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation over the batch `events` table
  * (north-star extension; the reference is batch-only with no event-time
  * ops, SURVEY.md §2.10).
  *
  * These use Spark's `window`/`session_window` grouping expressions,
  * which are the SAME operators Structured Streaming uses — the batch
  * queries here lift to `readStream` unchanged (plus a watermark).
  * Scale: one shuffle keyed by (window, keys); windows are computed
  * per-row (narrow) before the exchange, so data is bucketed, not
  * sorted globally.
  */
object EventWindows {

  /** Tumbling window aggregation: fixed `width` buckets, epoch-aligned. */
  def tumbling(df: DataFrame, tsCol: String, width: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    val g = df.groupBy((window(col(tsCol), width) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    flattenWindow(g)
  }

  /** Sliding window aggregation: `width` windows every `slide`. Each row
    * lands in width/slide windows (Spark expands rows before the
    * shuffle).
    */
  def sliding(df: DataFrame, tsCol: String, width: String, slide: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    val g = df.groupBy((window(col(tsCol), width, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    flattenWindow(g)
  }

  /** Session windows: rows for the same keys within `gap` of each other
    * merge into one session; session end = last event + gap.
    */
  def sessionize(df: DataFrame, tsCol: String, gap: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "need at least one aggregate")
    val g = df.groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    flattenWindow(g, "session_window")
  }

  /** Fixed-step resample with FORWARD FILL — the time-series
    * "regularize" step (pandas `resample().ffill()`, Flink's gap
    * filling) as a distributed plan: per key, one output row per
    * `stepSeconds` bucket between that key's FIRST and LAST event;
    * buckets with no events carry the last observed value forward and
    * report `n_events = 0`. The per-bucket representative is the
    * latest event by (`tsCol`, `tieCol`) — fully deterministic under
    * timestamp ties.
    *
    * Scale shape: bucketing is a narrow epoch computation; the
    * per-bucket election and the span aggregation shuffle ONCE each on
    * the keys; the grid explode materializes span/step rows per key
    * (data-proportional for event streams whose span grows with data —
    * a single key idle for years inflates its own grid only); the fill
    * is a per-key ordered window (one more shuffle by key, state = one
    * row). No global sort, no driver loop.
    *
    * Output: keys..., `bucket` (epoch seconds / stepSeconds, long),
    * `n_events` (long), `value_ffill` (double; null only if the key's
    * FIRST bucket value itself was null).
    *
    * GUARDED against the sparse-grid blowup: the grid mints
    * `(last − first) / step` rows per key whether or not events exist
    * in between, so ONE key with a years-long gap at a seconds step
    * silently explodes millions of rows into a single task.
    * `maxGridRowsPerKey` (default 10M) probes the per-key span — the
    * same groupBy min/max aggregate the grid needs anyway, small
    * output — and refuses loudly, naming the widest keys and the
    * fixes (coarser `stepSeconds`, splitting the key's history, or
    * raising the ceiling). `maxGridRowsPerKey <= 0` skips the probe.
    */
  def resampleFfill(df: DataFrame, tsCol: String, stepSeconds: Long,
                    keys: Seq[String], valueCol: String,
                    tieCol: String,
                    maxGridRowsPerKey: Long = 10000000L): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    require(keys.nonEmpty, "need at least one key column")
    val b = expr(s"unix_timestamp($tsCol) div $stepSeconds")
    val e = df.select((keys.map(col) :+ b.as("bucket") :+
      col(tsCol).as("__ts") :+ col(tieCol).as("__tie") :+
      col(valueCol).cast("double").as("__v")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((keys :+ "bucket").map(col): _*)
      .orderBy(col("__ts").desc, col("__tie").desc)
    val obs = e
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy((keys :+ "bucket").map(col): _*)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((keys.map(col) :+ col("bucket") :+ col("__n") :+
        col("__v")): _*)
    val spans0 = e.groupBy(keys.map(col): _*)
      .agg(min(col("bucket")).as("__lo"), max(col("bucket")).as("__hi"))
    // pin the tiny per-key frame (two longs per key) when the guard
    // will probe it: otherwise the probe's collect() runs the full
    // scan+aggregate once and the grid explode runs the identical
    // aggregate AGAIN — the guard must be genuinely free
    val spans = if (maxGridRowsPerKey > 0) GraftShim.pin(spans0) else spans0
    if (maxGridRowsPerKey > 0) {
      val wide = spans
        .filter(col("__hi") - col("__lo") + 1 > maxGridRowsPerKey)
        .select((keys.map(col) :+
          (col("__hi") - col("__lo") + 1).as("__rows")): _*)
        .limit(3).collect()
      require(wide.isEmpty,
        s"resampleFfill: key(s) whose grid exceeds $maxGridRowsPerKey " +
          "rows " +
          wide.map(r => keys.zipWithIndex
              .map { case (k, i) => s"$k=${r.get(i)}" }.mkString("(", ",", ")") +
              s" rows=${r.getLong(keys.size)}")
            .mkString("[", ", ", "]") +
          " — the grid mints (last-first)/step rows per key regardless " +
          "of event density, all in that key's task. Use a coarser " +
          "stepSeconds, split the key's history, or raise/disable " +
          "maxGridRowsPerKey if you really mean it")
    }
    val grid = spans
      .select((keys.map(col) :+
        explode(sequence(col("__lo"), col("__hi"))).as("bucket")): _*)
    val fill = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("bucket").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(obs, keys :+ "bucket", "left")
      .select((keys.map(col) :+ col("bucket") :+
        coalesce(col("__n"), lit(0L)).as("n_events") :+
        last(col("__v"), ignoreNulls = true).over(fill)
          .as("value_ffill")): _*)
  }

  /** Replace the window struct with flat wstart/wend columns (stable,
    * oracle-friendly output schema). Shared with the streaming lifts —
    * one implementation of the flattening, not two drifting copies.
    */
  private[graft] def flattenWindow(df: DataFrame,
                                   structName: String = "window"): DataFrame = {
    require(!df.columns.contains("wstart") && !df.columns.contains("wend"),
      "aggregates may not alias 'wstart'/'wend' — the flattened window " +
      "output reserves those names")
    val others = df.columns.filterNot(_ == structName).map(col)
    df.select((Seq(col(s"$structName.start").as("wstart"),
      col(s"$structName.end").as("wend")) ++ others.toIndexedSeq): _*)
  }
}
