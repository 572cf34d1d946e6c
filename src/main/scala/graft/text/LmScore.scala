package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpolated bigram language-model quality scoring — the CCNet /
  * KenLM-style "perplexity filter" of LM corpus curation, expressed
  * entirely relationally (counts + equi-joins + per-row folds; no
  * model binary, no UDFs).
  *
  * A document's score is its mean per-token log-likelihood under a
  * bigram model fit on a (possibly different) corpus:
  *
  * {{{
  *   p(cur | prev) = lambda * c(prev,cur)/c(prev)
  *                 + (1-lambda) * (c(cur)+1)/(N+V)     // add-one unigram backoff
  *   score(doc)    = mean over positions i>=2 of ln p(t_i | t_{i-1})
  * }}}
  *
  * Higher (closer to 0) = more in-distribution; corpus curation keeps
  * the middle band and drops both tails (gibberish and boilerplate),
  * exactly as CCNet does with its KenLM buckets.
  *
  * Scale shape (100 TB corpus, 1000 executors):
  *  - [[fit]] is two explode+groupBy count passes — two shuffles,
  *    map-side partial aggregation, output bounded by vocab (unigrams)
  *    and observed-pair count (bigrams, <= total token positions, in
  *    practice Zipf-concentrated far below it). `minCount` prunes the
  *    bigram tail where the model table itself would get big.
  *  - [[scoreDocs]] is one explode + three vocab-keyed equi-joins
  *    (the model sides are small → broadcast) + one groupBy(doc).
  *    Nothing all-pairs, nothing driver-side except the two scalar
  *    model constants (N, V), fetched once at fit time.
  *
  * Determinism: the per-document sum folds an array sorted by token
  * position, so results are bit-stable under repartitioning/retries
  * (a plain `sum()` over exploded rows would be order-dependent in
  * IEEE arithmetic) and reproducible by an external SQL engine with
  * an ORDER-BY-position list fold.
  */
object LmScore {

  /** Fitted model: count tables plus the two scalar normalizers.
    * `unigrams` = (token, c_uni); `bigrams` = (prev, cur, c_bi).
    */
  final case class BigramModel(unigrams: DataFrame, bigrams: DataFrame,
                               totalTokens: Long, vocabSize: Long)

  /** Fit unigram+bigram counts over `textCol` (whitespace tokens,
    * [[TextAnalysis.tokens]]). One driver `head()` of a 1-row agg
    * fetches (N, V); everything else stays distributed. `minCount`
    * drops bigrams rarer than the threshold (unigrams are kept whole —
    * V and N must describe the full corpus for the backoff to be a
    * probability).
    */
  def fit(docs: DataFrame, textCol: String, minCount: Long = 1L): BigramModel = {
    val toks = TextAnalysis.tokens(col(textCol))
    // NOT spread (measured, optimization round 17): the map side here
    // is a plain whitespace tokenize — spreading a small scan to the
    // core count made the two count passes SLOWER (each widened
    // aggregation task pays its setup/page-allocation constant), unlike
    // the heavy-map operators (winnow, shingle digests) where the
    // spread wins. A large corpus arrives as many splits and
    // parallelizes by itself.
    val tok = docs.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_uni"))
    val pairs = docs.where(size(toks) >= 2)
      .select(pairsOf(toks).as("__pairs"))
      .select(explode(col("__pairs")).as("__p"))
      .select(col("__p.prev").as("prev"), col("__p.cur").as("cur"))
      .groupBy("prev", "cur").agg(count(lit(1)).as("c_bi"))
      .where(col("c_bi") >= minCount)
    val nv = tok.agg(coalesce(sum("c_uni"), lit(0L)), count(lit(1))).head()
    BigramModel(tok, pairs, nv.getLong(0), nv.getLong(1))
  }

  /** Persist a fitted model as two TxTables under `path` — fit once on
    * the 100 TB corpus, score any number of batches later without
    * re-counting. The scalar normalizers ride in the unigram table's
    * commit metadata, so the model round-trips whole. Committed via
    * OVERWRITE: re-fitting to the same path atomically replaces the
    * model (an append would union old+new count rows and silently
    * corrupt every score).
    */
  def writeModel(model: BigramModel, path: String): Unit = {
    val spark = model.unigrams.sparkSession
    graft.ops.TxTable.overwrite(spark, s"$path/unigrams", model.unigrams,
      meta = Map("lm.totalTokens" -> model.totalTokens.toString,
        "lm.vocabSize" -> model.vocabSize.toString))
    graft.ops.TxTable.overwrite(spark, s"$path/bigrams", model.bigrams)
    ()
  }

  /** Load a model persisted by [[writeModel]]. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): BigramModel = {
    // the normalizers and the unigram rows from one snapshot
    val uni = graft.ops.TxTable.snapshotAt(spark, s"$path/unigrams", None)
    BigramModel(
      graft.ops.TxTable.readSnapshot(uni),
      graft.ops.TxTable.read(spark, s"$path/bigrams"),
      uni.meta("lm.totalTokens").toLong, uni.meta("lm.vocabSize").toLong)
  }

  /** Adjacent-token pairs of a token array as array<struct<prev,cur>>.
    * Callers filter to >= 2 tokens first (slice length must be >= 0).
    */
  private def pairsOf(toks: Column): Column = {
    val n = size(toks)
    zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => struct(a.as("prev"), b.as("cur")))
  }

  /** Score every row of `docs`: mean ln p over adjacent-pair positions,
    * rounded to 6 decimals (the two engines' `ln` differ in the last
    * ulp; the rounding makes scores comparable bit-for-bit). Documents
    * with fewer than 2 tokens get a NULL score (no positions to score).
    * Output = `docs` plus `outCol`.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                model: BigramModel, lambda: Double = 0.75,
                outCol: String = "lm_score"): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0,1]")
    val uni = 1.0 - lambda
    val nv = (model.totalTokens + model.vocabSize).toDouble
    val toks = TextAnalysis.tokens(col(textCol))
    // NOT spread — same measured rationale as [[fit]]
    val pairs = docs
      .where(size(toks) >= 2)
      .select(col(idCol).as("__id"), posexplode(pairsOf(toks)).as(Seq("__pos", "__p")))
      .select(col("__id"), col("__pos"),
        col("__p.prev").as("__prev"), col("__p.cur").as("__cur"))
    val joined = pairs
      .join(model.bigrams, pairs("__prev") === model.bigrams("prev") &&
        pairs("__cur") === model.bigrams("cur"), "left")
      .join(model.unigrams.select(col("token").as("__t1"), col("c_uni").as("__c_prev")),
        col("__prev") === col("__t1"), "left")
      .join(model.unigrams.select(col("token").as("__t2"), col("c_uni").as("__c_cur")),
        col("__cur") === col("__t2"), "left")
    // IEEE shape shared with the SQL oracle: CASE + 0.75*(a/b) + 0.25*(c/d)
    val p =
      when(col("__c_prev") > 0,
        lit(lambda) * (coalesce(col("c_bi"), lit(0L)).cast("double") /
          col("__c_prev").cast("double"))).otherwise(lit(0.0)) +
      lit(uni) * ((coalesce(col("__c_cur"), lit(0L)) + 1).cast("double") / lit(nv))
    val scored = joined
      .select(col("__id"), col("__pos"), log(p).as("__logp"))
      .groupBy(col("__id"))
      .agg(round(
        aggregate(sort_array(collect_list(struct(col("__pos").as("pos"), col("__logp").as("logp")))),
          lit(0.0), (acc, x) => acc + x.getField("logp")) /
          count(lit(1)).cast("double"), 6).as(outCol))
    docs.join(scored, docs(idCol) === scored("__id"), "left").drop("__id")
  }
}
