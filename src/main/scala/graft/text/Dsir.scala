package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting for targeted data selection
  * (Xie et al., "Data Selection for Language Models via Importance
  * Resampling", 2023): score every raw document by how much more
  * likely its hashed n-gram features are under a TARGET corpus than
  * under the RAW corpus, then keep the highest-weight documents (via
  * [[graft.ops.Prefix.budgetSelect]] or a top-k).
  *
  * Features are unigrams + adjacent bigrams hashed into `buckets`
  * bins with multiplicity; both corpus distributions are add-one
  * smoothed multinomials over the bins:
  *
  * {{{
  *   lr(b)   = ln((c_t(b)+1)/(N_t+B)) - ln((c_r(b)+1)/(N_r+B))
  *   w(doc)  = sum over doc feature buckets b of n_doc(b) * lr(b)
  * }}}
  *
  * Scale shape: fitting is two explode+groupBy counting passes (the
  * model is <= `buckets` rows — KBs, broadcastable by construction,
  * which is the entire point of hashed features); scoring is one
  * explode + per-doc bucket counts + a broadcast join with the model +
  * one groupBy(doc). Nothing is driver-side except the two corpus
  * totals. Determinism: the per-doc sum folds an array sorted by
  * bucket id, so weights are bit-stable under repartitioning and
  * reproducible externally (same pattern as [[LmScore]]).
  */
object Dsir {

  /** Fitted log-ratio model: `logRatios` = (bucket, lr) for EVERY
    * bucket in [0, buckets) — bins unobserved in either corpus carry
    * their smoothed constant explicitly, so scoring is one
    * unconditional equi-join with no unseen-feature special case.
    */
  final case class DsirModel(logRatios: DataFrame, buckets: Int)

  /** Hashed unigram+bigram feature buckets of `text`, with
    * multiplicity, as array<long> in [0, buckets).
    */
  def featureBuckets(text: Column, buckets: Int,
                     hash: Column => Column = TextAnalysis.md5Hash60): Column = {
    val toks = TextAnalysis.tokens(text)
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    transform(concat(toks, bigrams), g => pmod(hash(g), lit(buckets.toLong)))
  }

  /** Fit the bucket log-ratio table from a target and a raw corpus.
    * One driver `head()` per corpus fetches the total feature count;
    * the model itself (`buckets` rows max) stays distributed and tiny.
    */
  def fit(target: DataFrame, raw: DataFrame, textCol: String,
          buckets: Int = 4096,
          hash: Column => Column = TextAnalysis.md5Hash60): DsirModel = {
    require(buckets > 0, "buckets must be positive")
    def counts(df: DataFrame) = df
      .select(explode(featureBuckets(col(textCol), buckets, hash)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
    def total(c: DataFrame): Long =
      c.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val ct = counts(target)
    val cr = counts(raw)
    val (nt, nr) = (total(ct), total(cr))
    val b = buckets.toLong
    // same IEEE shape as the SQL oracle: ln((c+1)/(N+B)) per side
    def side(c: Column, n: Long): Column =
      log((coalesce(c, lit(0L)) + 1).cast("double") / lit((n + b).toDouble))
    val lr = target.sparkSession.range(b).toDF("bucket")
      .join(ct.select(col("bucket"), col("c").as("__ct")), Seq("bucket"), "left")
      .join(cr.select(col("bucket"), col("c").as("__cr")), Seq("bucket"), "left")
      .select(col("bucket"),
        (side(col("__ct"), nt) - side(col("__cr"), nr)).as("lr"))
    DsirModel(lr, buckets)
  }

  /** Persist a fitted model as one TxTable — fit once against the
    * target, score every future raw batch from the stored log-ratios.
    * Committed via OVERWRITE so a re-fit atomically replaces the model
    * (see [[LmScore.writeModel]]).
    */
  def writeModel(model: DsirModel, path: String): Unit = {
    graft.ops.TxTable.overwrite(model.logRatios.sparkSession, path,
      model.logRatios, meta = Map("dsir.buckets" -> model.buckets.toString))
    ()
  }

  /** Load a model persisted by [[writeModel]]. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): DsirModel = {
    val s = graft.ops.TxTable.snapshotAt(spark, path, None)
    DsirModel(graft.ops.TxTable.readSnapshot(s), s.meta("dsir.buckets").toInt)
  }

  /** Score `docs`: importance weight = sum of per-bucket multiplicity x
    * log-ratio, rounded to 6 decimals (ln differs in the last ulp
    * across engines). Documents with no features weigh 0.0 (no
    * evidence either way). Output = `docs` plus `outCol`.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DsirModel,
            hash: Column => Column = TextAnalysis.md5Hash60,
            outCol: String = "dsir_weight"): DataFrame = {
    val perBucket = docs
      .select(col(idCol).as("__id"),
        explode(featureBuckets(col(textCol), model.buckets, hash)).as("bucket"))
      .groupBy(col("__id"), col("bucket")).agg(count(lit(1)).as("__n"))
      .join(broadcast(model.logRatios), Seq("bucket"))
    val scored = perBucket
      .select(col("__id"), col("bucket"),
        (col("__n").cast("double") * col("lr")).as("__wb"))
      .groupBy(col("__id"))
      .agg(round(
        aggregate(
          sort_array(collect_list(struct(col("bucket").as("b"), col("__wb").as("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("w"), 6).as(outCol))
    docs.join(scored, docs(idCol) === scored("__id"), "left")
      .drop("__id")
      .withColumn(outCol, coalesce(col(outCol), lit(0.0)))
  }
}
