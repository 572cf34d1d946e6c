package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines (no reference
  * counterpart; this is the concat-and-chunk step every LLM pretraining
  * pipeline runs between "clean documents" and "fixed-length training
  * sequences").
  *
  * Semantics: documents are routed to `streams` independent streams by a
  * stable id-hash; within a stream they are concatenated in id order and
  * the concatenation is cut every `budget` tokens. A document belongs to
  * the chunk where its FIRST token lands (documents may straddle a cut;
  * the consumer that materializes sequences re-splits text — assignment
  * is what must be deterministic and distributed, and is what this
  * operator computes).
  *
  * Scale shape: ONE shuffle (hash-partition by stream) + an in-partition
  * sort — the same cost as any groupBy. Parallelism is `streams`, which
  * is free to be thousands: streams are independent by construction, so
  * more streams = more parallelism with zero cross-talk. Nothing is
  * global — no global sort, no driver state, no collect. At 100 TB with
  * `streams` ≈ 4× cores, every partition packs its own slice and the
  * skew bound is the hash's (uniform over ids).
  *
  * Determinism: assignment depends only on (id, token counts, budget,
  * streams, hash) — reruns, retries, and repartitionings cannot change
  * it, and an external SQL engine can reproduce it (the oracled harness
  * query mirrors this exactly in DuckDB).
  */
object Packing {

  /** Adds `pack_stream` (hash stream), `pack_offset` (first-token offset
    * of this doc in its stream's concatenation) and `pack_chunk`
    * (offset ÷ budget) to `df`.
    *
    * `tokenCol` is any non-negative numeric per-doc length (token count,
    * char count); `hash` must be deterministic on the id — the default
    * `xxhash64` is fastest, `TextAnalysis.md5Hash60` makes the routing
    * reproducible in a no-extensions SQL engine.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, streams: Int,
                    hash: Column => Column = xxhash64(_)): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(streams > 0, "streams must be positive")
    val withStream =
      df.withColumn("pack_stream", pmod(hash(col(idCol)), lit(streams.toLong)))
    // exclusive prefix sum: tokens of strictly-preceding docs in the stream
    val w = Window.partitionBy("pack_stream").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withStream
      .withColumn("pack_offset",
        coalesce(sum(col(tokenCol).cast("long")).over(w), lit(0L)))
      // integer `div`, not floor(/): Spark's numeric / is DOUBLE
      // division, which rounds above 2^53 — a stream whose cumulative
      // offset crosses that could assign the straddling doc to the
      // wrong chunk and fork from an integer-division oracle
      // (assignShards and Prefix.ntile already spell it this way)
      .withColumn("pack_chunk",
        expr(s"pack_offset div $budget").cast("long"))
  }

  /** Per-chunk summary of a packed frame: docs and tokens landing in
    * each (stream, chunk). `tokens_started` can exceed `budget` only via
    * the one straddling doc per cut — the packing invariant a consumer
    * relies on (`docs ≥ 1`, offsets contiguous).
    */
  def chunkSummary(packed: DataFrame, tokenCol: String): DataFrame =
    packed.groupBy("pack_stream", "pack_chunk")
      .agg(count(lit(1)).as("docs"),
        sum(col(tokenCol).cast("long")).as("tokens_started"),
        min("pack_offset").as("first_offset"),
        max("pack_offset").as("last_offset"))

  /** Deterministic training-shard ASSIGNMENT: shard i holds rows of
    * global rank (i·rowsPerShard, (i+1)·rowsPerShard] under the total
    * order — every shard except the last holds exactly `rowsPerShard`
    * rows, reproducibly across runs, partitionings, and engines
    * (integer arithmetic on the distributed prefix rank; no
    * single-task window). Ordering by a salted hash of the id is the
    * standard "deterministic global shuffle" for training data.
    */
  def assignShards(df: DataFrame, orderCols: Seq[Column],
                   rowsPerShard: Long,
                   shardCol: String = "shard"): DataFrame = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    val rn = graft.util.Cols.fresh(df, "__rn")
    Prefix.globalRowNumber(df, orderCols, rn)
      .withColumn(shardCol,
        expr(s"((`$rn` - 1) div $rowsPerShard)").cast("int"))
      .drop(rn)
  }

  /** [[assignShards]] + export: one parquet FILE per shard on disk
    * (`<dir>/shard=<i>/`), rows within each file in the shard's order.
    * One hash exchange on the shard id (collisions co-locate whole
    * shards, never split one), a per-partition sort, and the
    * partitioned writer fans rows into per-shard files. Returns the
    * shard count.
    */
  def writeShards(df: DataFrame, dir: String, orderCols: Seq[Column],
                  rowsPerShard: Long,
                  shardCol: String = "shard"): Int = {
    // one rank computation for both count and write
    val assigned = GraftShim.pin(
      assignShards(df, orderCols, rowsPerShard, shardCol))
    try {
      // max over zero rows is null — an empty input writes zero shards
      // (an empty dir) instead of NPE-ing on getInt
      val maxRow = assigned.agg(max(col(shardCol))).head()
      if (maxRow.isNullAt(0)) {
        assigned.write.partitionBy(shardCol).mode("overwrite").parquet(dir)
        return 0
      }
      val nShards = maxRow.getInt(0) + 1
      assigned
        .repartition(math.max(1, nShards), col(shardCol))
        .sortWithinPartitions(col(shardCol) +: orderCols: _*)
        .write.partitionBy(shardCol).mode("overwrite").parquet(dir)
      nShards
    } finally GraftShim.unpin(assigned)
  }
}
