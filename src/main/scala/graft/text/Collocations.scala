package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Collocation mining: windowed token co-occurrence counts with PMI —
  * the classic corpus statistic behind phrase detection ("New York"
  * scores high, "of the" scores low) and embedding-training prep
  * (word2vec's co-occurrence window, GloVe's count matrix).
  *
  * Pairs are ORDERED (a precedes b) within a `window`-token lookahead;
  * PMI is computed from the pair table's own marginals —
  * ln(n_ab · N / (n_a· · n_·b)) with N the total pair count — so every
  * input to the log is an EXACT long and the only float op is one
  * division chain + ln, rounded to 6 places per the repo's cross-engine
  * convention (JVM and libm ln differ in the last ulp).
  *
  * Scale shape: pair generation is a per-row array HOF (narrow, zero
  * shuffle, ≤ window·tokens rows out); counts and the two marginals are
  * partial-aggregable groupBys on bounded (vocab²-capped) keys; the
  * single-row total broadcasts. The `minCount` filter applies AFTER the
  * marginals — PMI is defined against the full pair distribution, not
  * the surviving subset.
  */
object Collocations {

  def pmi(df: DataFrame, textCol: String, window: Int,
          minCount: Long): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // tokens MATERIALIZED into a column first: referencing the
    // tokens(text) EXPRESSION inside the lambda would re-inline the
    // whole tokenization per token position (the slice(toks, ...)
    // reference) — O(tokens²) re-tokenization per document (Catalyst
    // does no common-subexpression elimination across lambdas). A plain
    // column reference inside the lambda is free.
    val toked = df.select(TextAnalysis.tokens(col(textCol)).as("__tk"))
    val toks = col("__tk")
    // element at 0-based i pairs with the next `window` tokens:
    // 1-based slice start i+2, clamped at the document edge
    val pairList = flatten(transform(toks, (t, i) =>
      transform(slice(toks, i + lit(2), lit(window)),
        u => struct(t.as("a"), u.as("b")))))
    val pairs = toked.select(explode(pairList).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
    val la = pc.groupBy("a").agg(sum("n_pair").as("__na"))
    val rb = pc.groupBy("b").agg(sum("n_pair").as("__nb"))
    val tot = pc.agg(sum("n_pair").as("__np"))
    pc.join(la, Seq("a")).join(rb, Seq("b")).crossJoin(broadcast(tot))
      .filter(col("n_pair") >= minCount)
      .select(col("a").as("tok_a"), col("b").as("tok_b"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("__np").cast("double") /
          (col("__na").cast("double") * col("__nb").cast("double"))), 6)
          .as("pmi"))
  }
}
