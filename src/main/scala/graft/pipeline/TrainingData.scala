package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.Sampling
import graft.text.TextAnalysis

/** The composed LLM-training-data pipeline — the flagship use-case the
  * extension operators exist for. One declarative DAG over a documents
  * table:
  *
  *   quality filter → exact dedup → (optional) near-dup cluster +
  *   canonical keep → per-source deterministic sampling → annotation
  *   (token counts, fingerprint, language id)
  *
  * Everything stays in the DataFrame API: the quality filter and
  * annotations fuse into the scans (narrow, codegen'd), exact dedup is
  * one fingerprint shuffle, near-dup is the bucketed MinHash path, and
  * sampling is a hash filter — so the whole pipeline is a handful of
  * shuffles regardless of corpus size, plus O(cluster-diameter) rounds
  * for the near-dup components.
  *
  * @param minQuality  drop documents scoring below this ([[TextAnalysis.qualityScore]])
  * @param nearDup     also collapse near-duplicate clusters (MinHash →
  *                    jaccard-verified pairs → connected components →
  *                    keep min-id per cluster)
  * @param sampleFraction GLOBAL deterministic keep fraction (id-hash)
  * @param sourceFractions optional per-source keep fractions; sources
  *                        not in the map fall back to `sampleFraction`
  * @param minhashHash hash for the MinHash near-dup stage — determinism
  *                    is the only requirement; the xxhash64 default is
  *                    fastest, [[TextAnalysis.md5Hash60]] makes the
  *                    stage reproducible in an external SQL oracle
  * @param sampleHash  salted id-hash for the sampling decision (same
  *                    trade-off)
  */
case class TrainingDataConfig(
    idCol: String = "doc_id",
    textCol: String = "text",
    sourceCol: String = "source",
    minQuality: Double = 0.0,
    nearDup: Boolean = true,
    minJaccard: Double = 0.8,
    sampleFraction: Double = 1.0,
    sourceFractions: Map[String, Double] = Map.empty,
    minhashHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      xxhash64(_),
    sampleHash: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column = xxhash64(_, _))

object TrainingData {

  def run(docs: DataFrame, cfg: TrainingDataConfig = TrainingDataConfig()): DataFrame = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)

    val qualified = docs
      .filter(TextAnalysis.qualityScore(text) >= cfg.minQuality)

    val exact0 = Dedup.exactDedup(qualified, cfg.textCol, cfg.idCol)

    val canonical =
      if (!cfg.nearDup) exact0
      else {
        // The exact-dedup output feeds the MinHash signature pass, the
        // per-pair jaccard verify, AND the final canonical filter —
        // materialize it once or the quality+fingerprint+window subplan
        // re-executes for each reference.
        val exact = GraftShim.pin(exact0)
        Dedup.keepCanonical(exact, cfg.idCol,
          Dedup.minhashDedupPairs(exact, cfg.idCol, cfg.textCol,
            minJ = cfg.minJaccard, hash = cfg.minhashHash))
      }

    val sampled =
      if (cfg.sourceFractions.nonEmpty)
        Sampling.stratifiedSample(canonical, cfg.sourceCol, cfg.idCol,
          cfg.sourceFractions, defaultFraction = cfg.sampleFraction,
          hash = cfg.sampleHash)
      else if (cfg.sampleFraction >= 1.0) canonical
      else Sampling.consistentSample(canonical, cfg.idCol, cfg.sampleFraction,
        hash = cfg.sampleHash)

    sampled.select(
      id, text, col(cfg.sourceCol),
      TextAnalysis.tokenCount(text).as("n_tokens"),
      TextAnalysis.bpeTokenCount(text).as("n_bpe_tokens"),
      TextAnalysis.fingerprintMd5(text).as("fingerprint"),
      TextAnalysis.langId(text).as("lang_pred"),
      TextAnalysis.qualityScore(text).as("quality"))
  }

  /** Stage-by-stage survival funnel for [[run]] — the "where did my
    * data go" report: one row per pipeline stage (input → quality →
    * exact dedup → near-dup canonical → sample) with the documents and
    * whitespace tokens surviving through it. The standard artifact for
    * tuning a filtering recipe: a stage that silently eats 40% of the
    * tokens shows up here, not three training runs later.
    *
    * Computed as FLAGS, not five pipeline re-runs: one narrow annotate
    * pass feeds a conditional aggregation for the input+quality totals;
    * the fingerprint window marks the exact-dedup survivors (identical
    * semantics to [[Dedup.exactDedup]] — min id per fingerprint among
    * quality passers); the near-dup loser set (same MinHash pair
    * machinery as [[run]]) joins back as a flag; the sampling verdict
    * is a pure hash predicate. One conditional aggregation over the
    * (pinned) survivor frame then yields ALL downstream stage
    * totals at once — the corpus is scanned twice regardless of stage
    * count. Final assembly cross-joins two SINGLE-ROW aggregate frames
    * and explodes a 5-element literal array: size-bounded by
    * construction, never data×data.
    */
  def funnel(docs: DataFrame,
             cfg: TrainingDataConfig = TrainingDataConfig()): DataFrame = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)
    val tok = col("n_tokens").cast("long")
    val ann = docs.select(id.as("doc_id"), text.as("__text"),
      col(cfg.sourceCol).as("__source"),
      TextAnalysis.tokenCount(text).as("n_tokens"),
      TextAnalysis.qualityScore(text).as("quality"))
    val passQ = col("quality") >= cfg.minQuality
    val in01 = ann.agg(
      count(lit(1)).as("n0"),
      coalesce(sum(tok), lit(0L)).as("t0"),
      count(when(passQ, 1)).as("n1"),
      coalesce(sum(when(passQ, tok)), lit(0L)).as("t1"))
    val w = Window.partitionBy(TextAnalysis.fingerprintMd5(col("__text")))
      .orderBy("doc_id")
    val exact0 = ann.filter(passQ)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    val flagged =
      if (!cfg.nearDup) exact0.withColumn("__lost", lit(false))
      else {
        // pin: the exact-survivor frame feeds the signature pass, the
        // pair verify, AND the final count — without a pin the
        // annotate+window subplan re-executes per reference
        val exact = GraftShim.pin(exact0)
        val losers = Dedup.connectedComponents(
            Dedup.minhashDedupPairs(exact, "doc_id", "__text",
              minJ = cfg.minJaccard, hash = cfg.minhashHash))
          .filter(col("id") =!= col("comp"))
          .select(col("id").as("doc_id"), lit(true).as("__lost0"))
        exact.join(losers, Seq("doc_id"), "left")
          .withColumn("__lost", coalesce(col("__lost0"), lit(false)))
      }
    val sampleKeep =
      if (cfg.sourceFractions.nonEmpty)
        Sampling.stratifiedKeepPredicate(col("__source"), col("doc_id"),
          cfg.sourceFractions, cfg.sampleFraction, hash = cfg.sampleHash)
      else if (cfg.sampleFraction >= 1.0) lit(true)
      else Sampling.keepPredicate(col("doc_id"), cfg.sampleFraction,
        hash = cfg.sampleHash)
    val keep3 = !col("__lost")
    val keep4 = keep3 && sampleKeep
    val row234 = flagged.agg(
      count(lit(1)).as("n2"),
      coalesce(sum(tok), lit(0L)).as("t2"),
      count(when(keep3, 1)).as("n3"),
      coalesce(sum(when(keep3, tok)), lit(0L)).as("t3"),
      count(when(keep4, 1)).as("n4"),
      coalesce(sum(when(keep4, tok)), lit(0L)).as("t4"))
    def stage(i: Int, name: String, n: String, t: String) =
      struct(lit(i).as("stage_idx"), lit(name).as("stage"),
        col(n).as("n_docs"), col(t).as("n_tokens"))
    in01.crossJoin(row234)
      .select(explode(array(
        stage(0, "input", "n0", "t0"),
        stage(1, "quality", "n1", "t1"),
        stage(2, "exact_dedup", "n2", "t2"),
        stage(3, "near_dedup", "n3", "t3"),
        stage(4, "sample", "n4", "t4"))).as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_docs"),
        col("s.n_tokens"))
  }

  /** Corpus-level report over a pipeline output: per predicted language,
    * document and token totals — what you check before shipping a crawl
    * snapshot to training.
    */
  def report(corpus: DataFrame): DataFrame =
    corpus.groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_bpe_tokens")).as("total_bpe_tokens"),
        // mean via micro-unit fixed point: a plain double avg() is
        // shuffle-order-dependent (IEEE addition is non-associative), so
        // it can't be reproduced bit-for-bit across engines/runs. quality
        // ∈ [0,1], so round(q*1e6) ≤ 1e6 and the bigint sum is exact.
        (sum(round(col("quality") * lit(1000000.0)).cast("long")).cast("double")
          / lit(1000000.0) / count(lit(1)).cast("double")).as("avg_quality"))
      .orderBy("lang_pred")
}
