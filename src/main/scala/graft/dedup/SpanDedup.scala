package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Span-level exact deduplication at ARBITRARY alignment: find every
  * `windowTokens`-token substring that occurs more than once in the
  * corpus and strip all occurrences but the corpus-wide first
  * (north-star extension — no counterpart in the reference,
  * SURVEY.md §2.8).
  *
  * This is the substring-dedup pass of Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" (ACL 2022), re-expressed
  * for a distributed engine: their suffix array finds duplicated spans
  * of >= k tokens at any offset; a sliding k-token fingerprint window
  * finds exactly the same spans (a duplicated span of length m >= k is
  * covered by its m-k+1 duplicated windows, and maximal spans are
  * recovered by merging overlapping windows), while staying a pure
  * shuffle-on-digest plan instead of a global suffix sort.
  *
  * Difference from [[ChunkDedup]]: chunk dedup only sees repeats that
  * land on the same fixed chunk grid (position 0, c, 2c, ...); a copied
  * paragraph shifted by one token is invisible to it. The sliding
  * window here catches repeats at every alignment — the property that
  * makes the pass effective against quote/boilerplate reuse inside
  * otherwise-unique pages.
  *
  * Scale shape (100 TB-safe):
  *  - windows materialize one row per token position (n-k+1 per doc) —
  *    data-proportional, never quadratic;
  *  - first-occurrence election is ONE shuffle keyed by the window's
  *    md5 fingerprint (bounded key width; per-group state is one row),
  *    exactly the [[ChunkDedup]] election shape;
  *  - coverage/merge/reassembly shuffle on the document id only.
  *  No stage collects to the driver; no all-pairs join exists. A hot
  *  window (site-wide boilerplate repeated millions of times) fans out
  *  only its OWN occurrence list — the same bounded skew profile as the
  *  inverted-index dedups, and AQE's skew split applies to the digest
  *  shuffle if one digest dominates.
  *
  * Contract: tokens are whitespace tokens ([[graft.text.TextAnalysis
  * .tokens]]); occurrences are ordered by (`idCol`, position) and the
  * first is kept; a token is duplicated iff ANY duplicated window
  * covers it; `text_stripped` is the surviving tokens rejoined with
  * single spaces (whitespace-normalized, as in [[ChunkDedup]]). Output
  * is one row per input row:
  * (idCol, n_tokens, n_dup_tokens, n_spans, text_stripped) where
  * `n_spans` counts MAXIMAL duplicated spans (merged coverage islands).
  * Documents shorter than `windowTokens` have no windows and survive
  * whole.
  */
object SpanDedup {

  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val k = windowTokens
    val (base, occ) = windowOcc(df, idCol, textCol, k)

    // corpus-wide first occurrence per fingerprint wins; every later
    // occurrence (including repeats WITHIN a document) is a duplicate
    val firstWins = Window.partitionBy("__fp1", "__fp2")
      .orderBy(col(idCol).asc, col("__pos").asc)
    val dupStarts = occ
      .withColumn("__rn", row_number().over(firstWins))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("__pos"))

    maskTail(base, dupStarts, idCol, k)
  }

  /** Span-level DECONTAMINATION: mask from `corpus` every
    * `windowTokens`-token span that also occurs anywhere in `evalSet` —
    * surgical eval-overlap removal (strip the quoted benchmark
    * passage, keep the document) instead of [[Dedup.containmentPairs]]'
    * drop-the-whole-document verdict. Spans are matched at ARBITRARY
    * alignment, exactly as in [[stripDuplicatedSpans]].
    *
    * Unlike span dedup there is no first-occurrence election: ANY
    * overlap with the eval side is contamination, including the
    * "first" one. The candidate stage is a semi-join of corpus window
    * fingerprints against the eval side's DISTINCT fingerprint set —
    * one bucketed equi-join on a 128-bit digest; the eval set is
    * typically a few benchmarks, so AQE broadcasts it and the corpus
    * side never reshuffles. Coverage/merge/reassembly shuffle on the
    * doc id only, shared with span dedup.
    *
    * Output: one row per corpus row —
    * (idCol, n_tokens, n_masked_tokens, n_spans, text_clean).
    */
  def maskContaminatedSpans(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, textCol: String,
                            windowTokens: Int): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val k = windowTokens
    val (base, occ) = windowOcc(corpus, idCol, textCol, k)
    val evalFps = windowOcc(evalSet, idCol, textCol, k)._2
      .select("__fp1", "__fp2").distinct()
    val hitStarts = occ.join(evalFps, Seq("__fp1", "__fp2"), "left_semi")
      .select(col(idCol), col("__pos"))
    maskTail(base, hitStarts, idCol, k)
      .withColumnRenamed("n_dup_tokens", "n_masked_tokens")
      .withColumnRenamed("text_stripped", "text_clean")
  }

  /** [[maskContaminatedSpans]] served from the corpus's PERSISTED
    * BM25 inverted index ([[graft.text.Bm25.buildIndex]] at
    * `indexPath`, built over the SAME corpus with the same id column —
    * caller contract): identical output, but the expensive stage — the
    * per-token window explosion + digest shuffle over the corpus —
    * runs over CANDIDATE documents only, so the pass scales with
    * contamination volume, not corpus size.
    *
    * Candidate election is SOUND, not heuristic: a document containing
    * a k-token eval window contains every one of its tokens, in
    * particular its globally RAREST one. So: (1) each distinct eval
    * window's tokens get their document frequency from the index — a
    * two-column pruned scan plus an eval-token semi-join, never a
    * corpus re-tokenization; (2) a window any of whose tokens has
    * df = 0 can match nothing and is dropped outright; (3) each
    * surviving window elects its rarest token (ties → lexicographic,
    * deterministic), and the candidate set is the union of those
    * tokens' posting lists — read back MANIFEST-PRUNED
    * ([[graft.ops.TxTable.readWhere]] against the index's token-range
    * files and blooms). Rare tokens are by construction the shortest
    * posting lists the window offers, so candidates stay close to the
    * truly contaminated set even when the window also contains
    * stopwords. Non-candidates take one narrow tokenize-and-rejoin
    * map (their output fields are position-independent) and never
    * enter the digest shuffle.
    *
    * The one driver-side materialization is the rare-token list —
    * bounded by the number of DISTINCT eval windows (eval sets are a
    * few benchmarks by contract, the same bound
    * [[graft.text.Bm25.searchIndexed]] documents for query terms) AND
    * hard-capped at `maxRareTokens` (the explicit
    * [[graft.ops.Prefix]]-style `maxDriverRows` guard): an eval set
    * with more distinct windows than that would inline an `isin`
    * literal list big enough to bloat the plan and the manifest-prune
    * predicate, so the pass falls back to the unindexed
    * [[maskContaminatedSpans]] over the whole corpus — bit-identical
    * output (pinned by spec), full-scan cost, loud in the plan rather
    * than silently degenerate in the driver.
    */
  def maskContaminatedSpansIndexed(corpus: DataFrame, evalSet: DataFrame,
                                   idCol: String, textCol: String,
                                   windowTokens: Int,
                                   indexPath: String,
                                   maxRareTokens: Int = 10000): DataFrame = {
    require(maxRareTokens > 0, "maxRareTokens must be positive")
    require(windowTokens > 0, "windowTokens must be positive")
    val spark = corpus.sparkSession
    val k = windowTokens
    val toks = graft.text.TextAnalysis.tokens(col(textCol))
    // distinct eval windows, built and keyed exactly as windowOcc
    // builds and keys the corpus's
    val evalWins = evalSet
      .select(explode(graft.text.TextAnalysis.tokenWindows(toks, k, 1)).as("__w"))
      .select(windowFp(col("__w")) :+ col("__w"): _*)
      .dropDuplicates("__fp1", "__fp2")
    val evalTok = evalWins.select(col("__fp1"), col("__fp2"),
      explode(array_distinct(graft.text.TextAnalysis.tokens(col("__w")))).as("token"))
    val postings = graft.ops.TxTable.read(spark, indexPath)
    val dfTok = postings
      .join(evalTok.select("token").distinct(), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("__df"))
    // per window: min (df, token) — df 0 (absent) sorts first, so the
    // filter drops unmatched windows and the survivor's field IS the
    // rarest present token, ties broken lexicographically
    val rare = evalTok.join(dfTok, Seq("token"), "left")
      .groupBy(col("__fp1"), col("__fp2"))
      .agg(min(struct(coalesce(col("__df"), lit(0L)).as("d"),
        col("token").as("t"))).as("__m"))
      .filter(col("__m").getField("d") > 0)
      .select(col("__m").getField("t").as("token"))
      .distinct()
    // limit(cap + 1): the driver never holds more than the guard
    // allows even when the eval set is degenerate — overflow is
    // detected from ONE extra row, not by materializing the overflow
    val rareTokens = rare.limit(maxRareTokens + 1).collect()
      .map(_.getString(0)).toSeq
    if (rareTokens.size > maxRareTokens)
      return maskContaminatedSpans(corpus, evalSet, idCol, textCol, k)
    val candIds =
      if (rareTokens.isEmpty) postings.select(col(idCol)).filter(lit(false))
      else graft.ops.TxTable.readWhere(spark, indexPath,
          col("token").isin(rareTokens: _*))
        .select(col(idCol)).distinct()
    val masked = maskContaminatedSpans(
      corpus.join(candIds, Seq(idCol), "left_semi"),
      evalSet, idCol, textCol, k)
    // non-candidates: provably window-free, so their row is a pure
    // function of their own tokens — no explosion, no digest, no
    // shuffle beyond the split's semi/anti joins
    val passThrough = corpus.join(candIds, Seq(idCol), "left_anti")
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("int").as("n_tokens"),
        lit(0).cast("int").as("n_masked_tokens"),
        lit(0).as("n_spans"),
        concat_ws(" ", col("__toks")).as("text_clean"))
    masked.unionByName(passThrough)
  }

  /** Tokenized base frame + one (id, pos, fingerprint) row per k-token
    * window at every start position 0..n-k (none when n < k).
    *
    * The fingerprint is a PAIR of independent xxhash64 digests of the
    * window string (two longs, 16 bytes): the election/semi-join
    * exchanges key on it, and the previous md5 hex STRING fingerprint
    * shuffled 32+ bytes per occurrence and paid a MessageDigest + hex
    * encode per window (guide §2.3 — narrower types in the hot
    * exchange; SpanMicro measured xxhash64 as the cheaper digest).
    * 128 combined bits keep the collision bound of md5 for practical
    * corpus sizes; `__fp1/__fp2` are internal grouping keys only and
    * never surface in any output.
    */
  private def windowOcc(df: DataFrame, idCol: String, textCol: String,
                        k: Int): (DataFrame, DataFrame) = {
    val toks = graft.text.TextAnalysis.tokens(col(textCol))
    // spread before the window explosion: an under-partitioned corpus
    // scan would run the whole tokenize+explode+digest fan-out on its
    // few scan tasks (guide §2.5; identity at production partition
    // counts — see Scale.spreadForFanOut)
    val base = graft.util.Scale.spreadForFanOut(df)
      .select(col(idCol), toks.as("__toks"),
        size(toks).cast("int").as("n_tokens"))
    val occ = base
      .select(col(idCol), posexplode(
        graft.text.TextAnalysis.tokenWindows(col("__toks"), k, 1)).as(Seq("__pos", "__w")))
      .select(col(idCol) +: col("__pos") +: windowFp(col("__w")): _*)
    (base, occ)
  }

  /** A window string's 128-bit fingerprint `(__fp1, __fp2)`. */
  private def windowFp(w: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq(xxhash64(w).as("__fp1"), xxhash64(lit("graft.span.fp2"), w).as("__fp2"))

  /** Shared coverage→islands→reassembly tail: mask every token covered
    * by a window starting at one of `starts` (idCol, __pos).
    */
  private def maskTail(base: DataFrame, dupStarts: DataFrame,
                       idCol: String, k: Int): DataFrame = {
    // maximal spans = the merged union of the [pos, pos+k-1] intervals,
    // computed per doc in ONE shuffle: collect the doc's distinct start
    // positions sorted, then fold them into maximal islands with a
    // narrow array aggregate (all windows have length k, so starts
    // sorted ascending merge left-to-right: a start within or adjacent
    // to the running island extends it — its end is always p+k-1 — and
    // a gap > 1 opens a new island). This replaces the former
    // k×-covered-position explode + distinct exchange + lag window +
    // two groupBys with a single groupBy(id) over the dup STARTS
    // (guide §2.3/§2.4: fewer shuffles, and the rows shuffled are the
    // starts, not k× covered positions). The resulting sorted
    // (start, end) array per doc is the same state the previous
    // island construction produced — reassembly below is unchanged.
    val islands = dupStarts
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("__pos"))).as("__ps"))
      .select(col(idCol),
        aggregate(col("__ps"),
          array().cast("array<struct<s:int,e:int>>"),
          (acc, p) => {
            val last = element_at(acc, -1)
            when(size(acc) === 0 || p > last.getField("e") + 1,
              concat(acc,
                array(struct(p.as("s"), (p + lit(k - 1)).as("e")))))
              .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
                array(struct(last.getField("s").as("s"),
                  (p + lit(k - 1)).as("e")))))
          }).as("__spans"))

    base.join(islands, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(aggregate(col("__spans"), lit(0),
          (a, sp) => a + (sp.getField("e") - sp.getField("s") + 1)), lit(0))
          .cast("int").as("n_dup_tokens"),
        coalesce(size(col("__spans")), lit(0)).as("n_spans"),
        when(col("__spans").isNull, concat_ws(" ", col("__toks")))
          .otherwise {
            // kept ranges are the complement of the islands: gap i runs
            // from (end of island i-1) + 1 to (start of island i) - 1,
            // plus the tail after the last island
            val starts = concat(array(lit(0)),
              transform(col("__spans"), sp => sp.getField("e") + 1))
            val ends = concat(
              transform(col("__spans"), sp => sp.getField("s")),
              array(col("n_tokens")))
            concat_ws(" ", flatten(zip_with(starts, ends,
              (a, b) => when(b > a, slice(col("__toks"), a + 1, b - a))
                .otherwise(array().cast("array<string>")))))
          }.as("text_stripped"))
  }
}
