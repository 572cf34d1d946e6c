package graft.ann

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance reranking (Carbonell & Goldstein, SIGIR
  * 1998): greedily re-order a query's candidate list so each pick
  * maximizes `λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)` — relevance
  * traded against redundancy with what is already picked. The standard
  * diversity pass over retrieval output: deduplicating retrieved
  * contexts before they enter a prompt, picking diverse few-shot
  * examples, spreading a curation budget across clusters instead of
  * spending it on near-copies (north-star extension; the reference has
  * no ANN surface, SURVEY.md §2.8).
  *
  * Scale shape: work is queries × candidates × k by construction —
  * candidate lists are the BOUNDED output of a ranker
  * ([[Similarity.ivfTopKFromLists]], [[graft.text.Bm25.searchIndexed]],
  * [[graft.text.HybridSearch]]), never the corpus — so the rerank costs
  * the same at any corpus size (the [[RankingMetrics]] posture). Each
  * greedy step is one per-query-key window over an equi-join; the
  * selected set is pinned per step, and the step it supersedes
  * released, so the plan stays linear in k (k is required ≤ 20).
  *
  * Determinism, cross-engine: cosines fold in array order ([[
  * Similarity.dotHof]]); the running max over selected is
  * order-independent; λ and (1−λ) are the caller's exact doubles
  * (interpolated into the oracle via shortest-round-trip toString);
  * ties break on candidate id ascending. Every step is IEEE-exact
  * given operand order, so an independent engine reproduces the hash.
  */
object Mmr {

  /** Rerank `candidates` — (queryCol, idCol, relCol, vecCol) rows, one
    * per (query, candidate) — to the top `k` by MMR. Returns
    * (queryCol, mmr_rank, idCol, mmr_score). Zero-norm candidate
    * vectors are excluded (their cosine to anything is undefined).
    * Queries with fewer than k candidates return all of them.
    */
  def rerank(candidates: DataFrame, k: Int, lambda: Double,
             queryCol: String = "query_id", idCol: String = "neighbor_id",
             relCol: String = "rel",
             vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && k <= 20, "k must be in [1, 20] (one plan step each)")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val q = col(queryCol); val id = col(idCol)
    val cand = GraftShim.pin(candidates
      .select(q, id, col(relCol).cast("double").as("__rel"),
        col(vecCol).as("__v"))
      .withColumn("__n", Similarity.norm(col("__v")))
      .filter(col("__n") > 0))
    // step 1: no selected set yet — maxsim is 0, the pick is pure
    // relevance (λ·rel), ties on id
    def pick(scored: DataFrame, step: Int): DataFrame =
      graft.ops.Windows.topKPerGroup(scored, Seq(q),
          Seq(col("__mmr").desc, id.asc), 1, rankCol = "__r")
        .select(q, lit(step).as("mmr_rank"), id,
          col("__mmr").as("mmr_score"), col("__v"), col("__n"))
    var selected = GraftShim.pin(
      pick(cand.withColumn("__mmr", lit(lambda) * col("__rel")), 1))
    var step = 2
    var exhausted = false
    while (step <= k && !exhausted) {
      val rem = cand.join(selected.select(q, id), Seq(queryCol, idCol),
        "left_anti")
      val sim = rem
        .join(selected.select(q, col("__v").as("__sv"),
          col("__n").as("__sn")), Seq(queryCol))
        .groupBy(q, id)
        .agg(max(Similarity.dotHof(col("__v"), col("__sv"))
          / (col("__n") * col("__sn"))).as("__maxsim"))
      val scored = rem.join(sim, Seq(queryCol, idCol))
        .withColumn("__mmr", lit(lambda) * col("__rel")
          - lit(1.0 - lambda) * col("__maxsim"))
      val picked = GraftShim.pin(pick(scored, step))
      // every query out of candidates → the remaining rounds would be
      // k − step empty join+window+pin jobs each picking nothing; the
      // step already materialized, so isEmpty is a metadata check, not
      // a recompute
      if (picked.isEmpty) exhausted = true
      else {
        val next = GraftShim.pin(selected.unionByName(picked))
        GraftShim.unpin(selected)
        selected = next
      }
      GraftShim.unpin(picked)
      step += 1
    }
    GraftShim.unpin(cand)
    selected.select(q, col("mmr_rank"), id, col("mmr_score"))
  }
}
