package graft.text

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** Okapi BM25 retrieval over a document corpus — the standard lexical
  * ranking a training-data pipeline uses for eval-set retrieval,
  * contamination triage, and "find me documents like this query"
  * curation passes (north-star extension; the reference has no text
  * ops, SURVEY.md §2.8). [[TfIdf]]'s keyword extraction profiles a
  * corpus; this SEARCHES one.
  *
  * score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
  * with the standard non-negative idf ln((N − df + ½)/(df + ½) + 1).
  *
  * Scale shape (100 TB-safe):
  *  - the per-(doc, token) tf table (the inverted index) shuffles once,
  *    as do doc lengths and document frequencies — all
  *    map-side-combined aggregations;
  *  - the QUERY side is tiny and broadcasts: only the posting lists of
  *    query terms survive the broadcast semi-shape join, so the scored
  *    frame is Σ posting-list lengths, never corpus × queries;
  *  - corpus stats (N, total length) arrive as one broadcast row; the
  *    final top-k windows per QUERY (constant group count).
  *
  * Determinism, cross-engine: idf is the one transcendental — rounded
  * to 6 decimals BEFORE use (the repo's round(ln, 6) convention, see
  * [[Collocations.pmi]]); everything after is IEEE-exact given operand
  * order, and the per-(query, doc) sum folds over the token-sorted
  * term array in one defined sequence (the [[CorpusDivergence]]
  * sorted-fold pattern), so an independent engine reproduces the hash.
  */
object Bm25 {

  /** Top-`k` documents per query: (query_id, rank, <idCol>, score).
    * Query terms are deduplicated (standard BM25 ignores query-side
    * tf). Documents with zero tokens can never match and do not count
    * toward N (they carry no information for length normalization).
    */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queries: Seq[(String, String)],
             k1: Double = 1.2, b: Double = 0.75,
             topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(topK > 0, "topK must be positive")
    val spark = docs.sparkSession
    import spark.implicits._

    // the inverted index: ONE shuffle to (doc, token) counts (input
    // spread first — see Scale.spreadForFanOut)
    val perDoc = graft.util.Scale.spreadForFanOut(docs)
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol)))
        .as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("__tf"))
    val docLen = perDoc.groupBy(idCol).agg(sum("__tf").as("__len"))
    val docFreq = perDoc.groupBy("token").agg(count(lit(1)).as("__df"))
    // N and total length in one single-row frame (broadcast below)
    val stats = docLen.agg(count(lit(1)).as("__n"),
      sum("__len").as("__tot"))

    // distinct query terms — tiny, broadcast everywhere
    val qt = queries.toDF("query_id", "__qtext")
      .select(col("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col("__qtext"))))
          .as("token"))
    // idf per (query, term): the ONLY transcendental, rounded to 6
    // decimals before any arithmetic uses it (cross-engine ln parity)
    val qidf = docFreq.join(broadcast(qt), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("token"),
        round(log((col("__n").cast("double") - col("__df").cast("double")
            + lit(0.5)) / (col("__df").cast("double") + lit(0.5))
            + lit(1.0)), 6).as("__idf"),
        (col("__tot").cast("double") / col("__n").cast("double"))
          .as("__avgdl"))

    // only query-term posting lists survive; join doc lengths back on
    // the doc key (two longs per matching doc — the one doc-keyed
    // exchange of the probe side)
    val matched = perDoc.join(broadcast(qidf), Seq("token"))
      .join(docLen, Seq(idCol))
    val tfD = col("__tf").cast("double")
    val perTerm = matched.select(col("query_id"), col(idCol), col("token"),
      (col("__idf") * (tfD * (lit(k1) + lit(1.0))) /
        (tfD + lit(k1) * (lit(1.0) - lit(b) +
          (lit(b) * col("__len").cast("double")) / col("__avgdl"))))
        .as("__s"))

    // one defined summation order per (query, doc): fold the
    // token-sorted term array (tokens are unique within the group)
    val scored = perTerm.groupBy(col("query_id"), col(idCol))
      .agg(aggregate(array_sort(collect_list(struct(col("token"),
          col("__s")))), lit(0.0), (a, x) => a + x.getField("__s"))
        .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  // ------------------------------------------------------ persisted index
  //
  // [[search]] re-tokenizes and re-aggregates the corpus on every call;
  // at 100 TB the index build IS the job, and repeated retrieval
  // (decontamination triage, eval curation — the operator's own use
  // cases) must amortize it. The IVF precedent
  // ([[graft.ann.Similarity.writeIvfLists]] / `ivfAppend` /
  // `ivfTopKFromLists`): pay the corpus scan once into a persisted
  // TxTable, append increments in O(batch), serve every query batch
  // from the stored table. Here the stored table is the INVERTED INDEX
  // itself — one row per (token, doc): `(token, <id>, tf, doc_len)`
  // with the document length DENORMALIZED into the postings, so a
  // serve touches ONLY the posting lists of its query terms — no
  // corpus-wide doc-length join, no full scan:
  //  - files are written token-range-sorted and the table carries a
  //    bloom filter on `token`, so [[TxTable.readWhere]]
  //    prunes non-matching files from the manifest stats alone;
  //  - df(token) = that token's posting-list length — derivable from
  //    the filtered read, exactly (postings are unique per (token, doc));
  //  - N and Σ|d| (the only corpus-level stats idf/avgdl need) ride in
  //    carried manifest meta, maintained incrementally by
  //    [[appendToIndex]] under a sequence-guarded commit.
  // Serve cost is therefore Σ posting-list lengths of the query terms,
  // independent of corpus size — the bound [[search]] could only
  // promise AFTER paying the per-call index build.

  /** Carried manifest meta: `"<nDocs>:<totalLen>"` (docs with ≥1 token
    * and their summed token counts — zero-token docs carry no length
    * information and never match, matching [[search]]'s N semantics).
    */
  private[text] val StatsMetaKey = "graft.bm25.stats"
  /** Carried manifest meta: the indexed id column's name. */
  private[text] val IdColMetaKey = "graft.bm25.idcol"
  /** Carried manifest meta: append sequence (transaction guard). */
  private[text] val SeqMetaKey = "graft.bm25.seq"

  /** `(token, <id>, tf, doc_len, positions)` for every (document,
    * token) pair — the POSITIONAL inverted index rows of `docs`. One
    * shuffle to per-(doc, token) counts, one doc-keyed join to
    * denormalize the length in. Positions (0-based token offsets,
    * sorted for a deterministic stored layout) are what
    * [[phraseSearchIndexed]] intersects; they roughly double the index
    * — the standard positional-index trade every production engine
    * (Lucene) makes, paid at build time, and the BM25 serve path never
    * reads the column (column-pruned away).
    */
  /** `spread = false` skips the fan-out spread: append batches are
    * O(batch) by contract (micro-batches / bounded increments), and
    * spreading a tiny batch to the session's full core count costs
    * more in per-task constants (each agg/sort task pays its page
    * allocation and setup) than the fan-out saves — measured at
    * local[32]: 5 spread micro-appends burned 6.8 s of job time where
    * the unspread pipeline takes ~0.6 s per batch. Corpus-scale builds
    * keep the spread (identity on already-wide inputs).
    */
  private def postingsOf(docs: DataFrame, idCol: String,
                         textCol: String, spread: Boolean = true): DataFrame = {
    // spread before the posting explosion (identity at production
    // partition counts, see Scale.spreadForFanOut)
    val perDoc = (if (spread) graft.util.Scale.spreadForFanOut(docs) else docs)
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("__pos", "token")))
      .groupBy(idCol, "token")
      .agg(count(lit(1)).as("tf"),
        array_sort(collect_list(col("__pos"))).as("positions"))
    val docLen = perDoc.groupBy(idCol).agg(sum("tf").as("doc_len"))
    perDoc.join(docLen, Seq(idCol))
      .select(col("token"), col(idCol), col("tf"), col("doc_len"),
        col("positions"))
  }

  /** `(nDocs, totalLen, seq)` from an index version's carried `meta`.
    * A malformed (hand-edited, corrupted) stats value raises the same
    * curated diagnostic as a missing key — never a bare MatchError —
    * and names [[refreshIndexStats]] as the repair.
    */
  private def indexStats(path: String,
                         m: Map[String, String]): (Long, Long, Long) = {
    val s = m.getOrElse(StatsMetaKey, sys.error(
      s"$path is not a BM25 index (no $StatsMetaKey meta — build it " +
        "with Bm25.buildIndex)"))
    val parsed = s.split(':') match {
      case Array(n, tot) =>
        try Some((n.toLong, tot.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
    val (n, tot) = parsed.getOrElse(sys.error(
      s"$path is not a BM25 index ($StatsMetaKey meta is malformed: " +
        s"'$s', expected '<nDocs>:<totalLen>' — repair with " +
        "Bm25.refreshIndexStats or rebuild with Bm25.buildIndex"))
    (n, tot, indexSeq(m))
  }

  /** The append/remove sequence from carried meta (0 when absent);
    * read separately from the stats so [[refreshIndexStats]] can
    * REPAIR a malformed stats value instead of tripping over it.
    */
  private def indexSeq(m: Map[String, String]): Long =
    m.get(SeqMetaKey).map { s =>
      try s.toLong
      catch {
        case _: NumberFormatException => sys.error(
          s"$SeqMetaKey meta is malformed: '$s', expected a number — " +
            "the index's commit history has been tampered with; " +
            "rebuild with Bm25.buildIndex")
      }
    }.getOrElse(0L)

  /** The index's head snapshot and its id column: each serve, removal
    * and refresh takes the id column, the carried stats and the
    * postings it reads from this one log read, so an append landing
    * mid-call cannot pair one version's stats with the next's postings.
    */
  private def indexHead(spark: SparkSession,
                        path: String): (TxTable.Snapshot, String) = {
    val s = TxTable.snapshotAt(spark, path, None)
    (s, idColOf(path, s.meta))
  }

  private def idColOf(path: String, m: Map[String, String]): String =
    m.getOrElse(IdColMetaKey,
      sys.error(s"$path is not a BM25 index (no $IdColMetaKey meta)"))

  /** The posting rows of `terms` in snapshot `s`, manifest-pruned to
    * the files whose token range/bloom may hold one.
    */
  private def postingsFor(s: TxTable.Snapshot, terms: Seq[String]): DataFrame =
    TxTable.readSnapshot(s, where = Some(col("token").isin(terms: _*)))

  /** Token-range-sorted layout: range partitioning gives each file a
    * tight token min/max window (manifest stats prune serve reads to
    * the files actually holding query-term postings), and the
    * within-partition sort keeps each posting list contiguous.
    */
  private def tokenSorted(postings: DataFrame, idCol: String): DataFrame =
    postings.repartitionByRange(col("token"))
      .sortWithinPartitions(col("token"), col(idCol))

  /** Build the inverted index of `docs` at `path` — one corpus scan
    * into a persisted, versioned TxTable (atomic publish; a rebuild is
    * an overwrite commit and readers mid-query keep their snapshot),
    * with a token bloom filter declared and backfilled so serve reads
    * prune files by manifest stats alone. Returns the final version.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String): Long = {
    require(!idCol.exists(_.isWhitespace),
      "id column names with whitespace cannot ride in manifest meta")
    val spark = docs.sparkSession
    requireUniqueIds(docs, idCol, "buildIndex")
    // materialized once: the frame feeds both the stats aggregate and
    // the write, and re-evaluating it would re-tokenize the corpus
    val posts = GraftShim.pin(postingsOf(docs, idCol, textCol))
    try {
      val (n, tot) = corpusStats(posts, idCol)
      // the token bloom is declared IN the build commit, so its per-file
      // tokens are computed for the build's own files in the same claim —
      // one commit where declare-then-ANALYZE paid three plus a full
      // re-read of the just-written index (bench: every in-query index
      // build carries that cost in its timed region)
      TxTable.overwrite(spark, path, tokenSorted(posts, idCol),
        meta = Map(StatsMetaKey -> s"$n:$tot", IdColMetaKey -> idCol,
          SeqMetaKey -> "1") ++ TxTable.bloomDeclarationMeta(Seq("token")))
    } finally GraftShim.unpin(posts)
  }

  /** Refuse a batch that carries one doc id twice: postingsOf would
    * silently merge the two rows' counts into one fused document.
    * O(batch) probe, limit(3) diagnostics only.
    */
  private def requireUniqueIds(docs: DataFrame, idCol: String,
                               who: String): Unit = {
    val dup = docs.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(3).collect()
    require(dup.isEmpty,
      s"$who: these doc ids appear more than once in the batch " +
        s"(their token counts would silently fuse): " +
        dup.map(_.get(0)).mkString(", "))
  }

  /** Append `docs` to a persisted index: O(batch) tokenize + aggregate,
    * one atomic TxTable append carrying the updated corpus stats under
    * a sequence guard (a concurrent append losing the race fails
    * loudly instead of silently double-counting N). After the append
    * the index is BIT-IDENTICAL in serve semantics to a from-scratch
    * [[buildIndex]] over the union (pinned by spec and by the
    * q_x_bm25_indexed oracle): df is a posting-list length either way,
    * and N/Σ|d| are exact running sums.
    *
    * `checkDuplicates` guards re-ingesting an already-indexed doc id —
    * a one-column scan of the index (column-pruned, but O(index rows));
    * pass false only for provably-new batches (an exactly-once
    * streaming source, a partitioned ingest) where the scan is not
    * worth it — the [[graft.dedup.IncrementalDedup]] contract.
    *
    * `txn = Some((app, batchId))` makes the append REPLAY-SAFE for a
    * `foreachBatch` driver: the batch id commits atomically with the
    * postings as a `txn.<app>` token ([[graft.streaming.StreamingSink]]
    * 's exactly-once pattern, applied at the index layer). A
    * checkpoint-replayed batch whose append already landed is a no-op
    * (returns the head version before any check runs, no commit,
    * stats untouched); a crash BEFORE the commit replays into a normal
    * append. Without it a replayed batch double-counts every posting —
    * `checkDuplicates = false` skips the only other defense — so any
    * streaming maintenance of the index should pass it.
    *
    * `maintain = Some(policy)` bounds the FILE count the append trail
    * leaves behind: after a landed (non-replayed) append the policy's
    * threshold is checked ([[TxTable.optimizeIfFragmented]])
    * and, when crossed, ONE token-range OPTIMIZE restores the
    * [[buildIndex]] layout — without it, 50 micro-batch appends serve
    * ~18× slower (`MAINT_FRAG_r14.json`) until an operator remembers
    * to compact. The check is one manifest read per batch; the
    * rewrite is amortized by the policy's excess factor.
    */
  def appendToIndex(spark: SparkSession, path: String, docs: DataFrame,
                    idCol: String, textCol: String,
                    checkDuplicates: Boolean = true,
                    txn: Option[(String, Long)] = None,
                    maintain: Option[TxTable.Maintenance] = None)
      : Long = {
    // the postings are materialized once for the stats aggregate and the
    // write, and released once the append (and its maintenance) is done
    var pinned: Option[DataFrame] = None
    // token is the build layout's sort key (tokenSorted): maintenance
    // restores exactly what buildIndex writes
    try TxTable.appendIncrement(spark, path, txn, Seq("token"), maintain) { s =>
      val storedId = idColOf(path, s.meta)
      require(storedId == idCol,
        s"index at $path was built on id column '$storedId', got '$idCol'")
      requireUniqueIds(docs, idCol, "appendToIndex")
      if (checkDuplicates) {
        val dup = TxTable.readSnapshot(s).select(col(idCol))
          .join(docs.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
          .limit(3).collect()
        require(dup.isEmpty,
          s"appendToIndex: doc ids already indexed at $path: " +
            dup.map(_.get(0)).mkString(", ") +
            " — postings are append-only per doc; rebuild via buildIndex")
      }
      val (n, tot, seq) = indexStats(path, s.meta)
      val batch = GraftShim.pin(
        postingsOf(docs, idCol, textCol, spread = false))
      pinned = Some(batch)
      val (bn, bt) = corpusStats(batch, idCol)
      (tokenSorted(batch, idCol),
        Map(StatsMetaKey -> s"${n + bn}:${tot + bt}",
          IdColMetaKey -> idCol, SeqMetaKey -> (seq + 1).toString),
        Map(SeqMetaKey -> (seq + 1L)))
    } finally pinned.foreach(GraftShim.unpin)
  }

  /** Remove documents from a persisted index — the lifecycle's third
    * leg (GDPR purges, contaminated-document excision): ONE atomic
    * copy-on-write [[TxTable.delete]] of the doc ids' posting rows
    * that carries the post-delete corpus stats in the same commit.
    * Serving afterwards is BIT-IDENTICAL to an index never containing
    * the docs (pinned by the q_x_bm25_removed
    * oracle): df is a posting-list length either way, and N/Σ|d| are
    * re-DERIVED from the surviving postings — one column-pruned scan
    * rather than a decrement, because removal is rare and a
    * recomputation can never drift. Because stats ride IN the delete
    * commit, and every serve takes its stats and its postings from the
    * one head snapshot it reads ([[indexHead]]), a concurrent reader
    * sees either the pre-delete rows with pre-delete stats or the
    * post-delete rows with post-delete stats, never a mix — there is
    * no crash window and no transient inconsistency. The derivation
    * reads the stats' sequence and the surviving postings from one
    * snapshot too. The sequence guard aborts if a concurrent
    * append/remove advanced the index between the stats derivation
    * and the commit (retry the removal). Removing ids with no
    * postings is an exact no-op (no commit).
    */
  def removeFromIndex(spark: SparkSession, path: String,
                      docIds: Seq[Any]): Long = {
    require(docIds.nonEmpty, "removeFromIndex needs at least one doc id")
    val (s, idCol) = indexHead(spark, path)
    val (_, _, seq) = indexStats(path, s.meta)
    // post-delete stats from the SURVIVING postings of the snapshot
    // whose sequence the guard names, derived BEFORE the commit so the
    // transition is a single atomic version; the seq guard (revalidated
    // on every commit retry) catches a racing writer that would make
    // this derivation stale
    val (n, tot) = corpusStats(TxTable.readSnapshot(s)
      .filter(!col(idCol).isin(docIds: _*)), idCol)
    TxTable.delete(spark, path, col(idCol).isin(docIds: _*),
        meta = Map(StatsMetaKey -> s"$n:$tot",
          IdColMetaKey -> idCol, SeqMetaKey -> (seq + 1).toString),
        guard = Map(SeqMetaKey -> (seq + 1)))
      .getOrElse(s.v)
  }

  /** Recompute the carried (N, Σ|d|) stats exactly from the surviving
    * postings — one column-pruned scan, sequence-guarded commit.
    * Idempotent. Since [[removeFromIndex]] became a single atomic
    * commit there is no crash window left to recover from; this
    * remains the REPAIR path for a corrupted/hand-edited stats value
    * (which is why it reads the sequence directly instead of through
    * [[indexStats]]' validation) and a defense-in-depth audit hook.
    */
  def refreshIndexStats(spark: SparkSession, path: String): Long = {
    val (s, idCol) = indexHead(spark, path)
    val seq = indexSeq(s.meta)
    val (n, tot) = corpusStats(TxTable.readSnapshot(s), idCol)
    TxTable.setCarriedMeta(spark, path,
      Map(StatsMetaKey -> s"$n:$tot", SeqMetaKey -> (seq + 1).toString),
      guard = Map(SeqMetaKey -> (seq + 1)))
  }

  /** (N, Σ|d|) of `postings`: one bounded single-row collect. */
  private def corpusStats(postings: DataFrame, idCol: String): (Long, Long) = {
    val st = postings.agg(countDistinct(col(idCol)).as("n"),
      sum(col("tf")).as("tot")).collect().head
    (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
  }

  /** PHRASE search from a persisted positional index: top-`topK`
    * documents per query ranked by EXACT phrase occurrence count —
    * every query token must appear at consecutive positions, in order
    * (the capability BM25's bag-of-words scoring cannot express: it
    * ranks "join merge" and "merge join" identically). The quote-
    * retrieval tool that pairs with span decontamination: find the
    * documents carrying this exact passage, then excise it.
    *
    * Plan (pure equi-joins, no per-row phrase loop): phrase tokens
    * carry their OFFSET j; a posting position p under offset j votes
    * for start = p − j; a document position `start` begins a phrase
    * occurrence iff ALL k offsets voted for it (count per (query, doc,
    * start) == k — duplicate phrase tokens are distinct offsets, so
    * the count is exact). Serve cost is the manifest-pruned posting
    * read of the query terms (Σ posting-list positions), independent
    * of corpus size — the [[searchIndexed]] bound, positions included.
    * Single-token phrases degrade to n_occurrences = tf. Ties rank by
    * id ascending; every number is an integer count, so the oracle is
    * trivially exact. Indexes built before positions existed fail
    * loudly (rebuild with [[buildIndex]]).
    */
  def phraseSearchIndexed(spark: SparkSession, path: String,
                          queries: Seq[(String, String)],
                          topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "need at least one phrase")
    require(topK > 0, "topK must be positive")
    import spark.implicits._
    val (s, idCol) = indexHead(spark, path)
    // phrase tokens WITH offsets via the ENGINE tokenizer — the same
    // bounded driver-side collect searchIndexed documents
    val qtRows = queries.toDF("query_id", "__qtext")
      .select(col("query_id"),
        posexplode(TextAnalysis.tokens(col("__qtext")))
          .as(Seq("j", "token")))
      .collect()
    require(qtRows.nonEmpty, "every phrase tokenized to nothing")
    val qt = qtRows.map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSeq.toDF("query_id", "j", "token")
    val qLen = qt.groupBy("query_id").agg(count(lit(1)).as("__k"))
    val posts = postingsFor(s, qtRows.map(_.getString(2)).distinct.toSeq)
    require(posts.columns.contains("positions"),
      s"index at $path predates positional postings — rebuild it with " +
        "Bm25.buildIndex to serve phrase queries")
    val starts = posts.join(broadcast(qt), Seq("token"))
      .select(col("query_id"), col(idCol), col("j"),
        explode(col("positions")).as("__p"))
      .select(col("query_id"), col(idCol), col("j"),
        (col("__p") - col("j")).as("__start"))
    val hits = starts
      .filter(col("__start") >= 0)
      .groupBy(col("query_id"), col(idCol), col("__start"))
      .agg(count(lit(1)).as("__nj"))
      .join(broadcast(qLen), Seq("query_id"))
      .filter(col("__nj") === col("__k"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("n_occurrences").desc, col(idCol).asc)
    hits.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol),
        col("n_occurrences"))
  }

  /** Top-`k` documents per query from a PERSISTED index — identical
    * output to [[search]] over the same corpus (same expressions, same
    * rounded idf, same sorted fold — the q_x_bm25 oracle gates both),
    * at Σ posting-list-lengths serve cost: the read is manifest-pruned
    * to files whose token range/bloom may hold a query term, df comes
    * from the filtered posting lists themselves, and N/avgdl arrive
    * from carried meta without touching data files.
    */
  def searchIndexed(spark: SparkSession, path: String,
                    queries: Seq[(String, String)],
                    k1: Double = 1.2, b: Double = 0.75,
                    topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(topK > 0, "topK must be positive")
    import spark.implicits._
    val (s, idCol) = indexHead(spark, path)
    val (n, tot, _) = indexStats(path, s.meta)
    require(n > 0, s"index at $path is empty")
    // distinct query terms, via the ENGINE tokenizer (no driver-side
    // re-implementation to drift). Bounded collect: Σ distinct terms
    // across the query batch — queries are driver-side data already.
    val qtRows = queries.toDF("query_id", "__qtext")
      .select(col("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col("__qtext"))))
          .as("token"))
      .collect()
    val qt = qtRows.map(r => (r.getString(0), r.getString(1))).toSeq
      .toDF("query_id", "token")
    // manifest-stats-pruned read: only files whose token min/max and
    // bloom may hold a query term are scanned at all
    val posts = postingsFor(s, qtRows.map(_.getString(1)).distinct.toSeq)
    // df(token) IS the filtered posting-list length — exact, no
    // corpus-wide aggregate
    val docFreq = posts.groupBy("token").agg(count(lit(1)).as("__df"))
    val qidf = docFreq.join(broadcast(qt), Seq("token"))
      .select(col("query_id"), col("token"),
        round(log((lit(n).cast("double") - col("__df").cast("double")
            + lit(0.5)) / (col("__df").cast("double") + lit(0.5))
            + lit(1.0)), 6).as("__idf"),
        (lit(tot).cast("double") / lit(n).cast("double")).as("__avgdl"))
    val matched = posts.join(broadcast(qidf), Seq("token"))
    val tfD = col("tf").cast("double")
    val perTerm = matched.select(col("query_id"), col(idCol), col("token"),
      (col("__idf") * (tfD * (lit(k1) + lit(1.0))) /
        (tfD + lit(k1) * (lit(1.0) - lit(b) +
          (lit(b) * col("doc_len").cast("double")) / col("__avgdl"))))
        .as("__s"))
    val scored = perTerm.groupBy(col("query_id"), col(idCol))
      .agg(aggregate(array_sort(collect_list(struct(col("token"),
          col("__s")))), lit(0.0), (a, x) => a + x.getField("__s"))
        .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  /** A boolean retrieval query: documents must contain EVERY `must`
    * token, NONE of the `mustNot` tokens, and are RANKED by BM25 over
    * the must + should tokens they contain (should terms boost but do
    * not gate — Lucene's BooleanQuery MUST/SHOULD/MUST_NOT contract).
    * With no must tokens, matching ≥1 should token is the gate (a doc
    * scoring zero terms never ranks). Fields are tokenized by the
    * engine tokenizer; a token in both must and should scores once
    * (must wins).
    */
  final case class BooleanQuery(queryId: String, must: String,
                                should: String = "", mustNot: String = "")

  /** Boolean search from a persisted index: the must/mustNot gates and
    * the BM25 ranking all run over the SAME manifest-pruned posting
    * read (must ∪ should ∪ mustNot terms), so serve cost stays
    * Σ posting-list lengths of the query's terms — corpus-independent,
    * the [[searchIndexed]] bound. Scoring arithmetic is identical to
    * [[searchIndexed]] (rounded idf, token-sorted fold), so the same
    * oracle conventions gate it exactly: the must gate is a
    * distinct-token count equality, the mustNot gate a left-anti join,
    * both integer-exact.
    */
  def booleanSearchIndexed(spark: SparkSession, path: String,
                           queries: Seq[BooleanQuery],
                           k1: Double = 1.2, b: Double = 0.75,
                           topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "need at least one boolean query")
    require(topK > 0, "topK must be positive")
    import spark.implicits._
    val (s, idCol) = indexHead(spark, path)
    val (n, tot, _) = indexStats(path, s.meta)
    require(n > 0, s"index at $path is empty")
    // per-(query, token, role) rows via the engine tokenizer; bounded
    // driver-side collect (queries are driver-side data already).
    // must beats should for a token in both; mustNot is independent
    // (a token both required and forbidden simply matches nothing).
    val roleRows = queries.toDF("query_id", "__m", "__s", "__n")
      .select(col("query_id"),
        array_distinct(TextAnalysis.tokens(col("__m"))).as("mt"),
        array_distinct(TextAnalysis.tokens(col("__s"))).as("st"),
        array_distinct(TextAnalysis.tokens(col("__n"))).as("nt"))
      .select(col("query_id"), col("mt"),
        array_except(col("st"), col("mt")).as("st"), col("nt"))
      .collect()
    val qt = roleRows.flatMap { r =>
      val q = r.getString(0)
      r.getSeq[String](1).map((q, _, "m")) ++
        r.getSeq[String](2).map((q, _, "s")) ++
        r.getSeq[String](3).map((q, _, "n"))
    }.toSeq.toDF("query_id", "token", "role")
    require(qt.filter(col("role") =!= "n").limit(1).count() > 0,
      "every query tokenized to no scoring terms")
    val posts = postingsFor(s,
      qt.select("token").distinct().collect().map(_.getString(0)).toSeq)
    // one posting read feeds all three roles
    val matchedAll = posts.join(broadcast(qt), Seq("token"))
    // mustNot gate: any forbidden token present → the doc is out
    val excluded = matchedAll.filter(col("role") === "n")
      .select(col("query_id"), col(idCol)).distinct()
    // must gate: distinct matched must tokens == the query's must count
    val nMust = qt.filter(col("role") === "m")
      .groupBy("query_id").agg(count(lit(1)).as("__nm"))
    val mustHits = matchedAll.filter(col("role") === "m")
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("__mh"))
    // scoring terms (must + should), BM25 arithmetic = searchIndexed's
    val scoring = matchedAll.filter(col("role") =!= "n")
    val docFreq = posts.groupBy("token").agg(count(lit(1)).as("__df"))
    val qidf = docFreq
      .join(broadcast(qt.filter(col("role") =!= "n")), Seq("token"))
      .select(col("query_id"), col("token"),
        round(log((lit(n).cast("double") - col("__df").cast("double")
            + lit(0.5)) / (col("__df").cast("double") + lit(0.5))
            + lit(1.0)), 6).as("__idf"),
        (lit(tot).cast("double") / lit(n).cast("double")).as("__avgdl"))
    val tfD = col("tf").cast("double")
    val perTerm = scoring
      .join(broadcast(qidf), Seq("query_id", "token"))
      .select(col("query_id"), col(idCol), col("token"),
        (col("__idf") * (tfD * (lit(k1) + lit(1.0))) /
          (tfD + lit(k1) * (lit(1.0) - lit(b) +
            (lit(b) * col("doc_len").cast("double")) / col("__avgdl"))))
          .as("__s"))
    val scored = perTerm.groupBy(col("query_id"), col(idCol))
      .agg(aggregate(array_sort(collect_list(struct(col("token"),
          col("__s")))), lit(0.0), (a, x) => a + x.getField("__s"))
        .as("score"))
    val gated = scored
      .join(excluded, Seq("query_id", idCol), "left_anti")
      .join(broadcast(nMust), Seq("query_id"), "left")
      .join(mustHits, Seq("query_id", idCol), "left")
      .filter(coalesce(col("__nm"), lit(0L)) === 0L ||
        coalesce(col("__mh"), lit(0L)) === coalesce(col("__nm"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol).asc)
    gated.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  /** Unordered proximity (NEAR/w) search from the positional index:
    * top-`topK` documents per query ranked by the number of window
    * start positions s such that EVERY distinct query token occurs
    * somewhere in [s, s + window − 1] — the classic "all terms within
    * w tokens of each other" retrieval operator ([[phraseSearchIndexed]]
    * is its ordered, gap-free sibling). Duplicate query tokens
    * deduplicate: NEAR treats the query as a token SET (window
    * containment), by design.
    *
    * Plan (pure equi-joins): a posting position p of token t votes for
    * every start s ∈ [max(0, p − window + 1), p] — a bounded explode of
    * ≤ `window` votes per position (require window ≤ 64); a start
    * matches iff its distinct-token vote count equals the query's
    * distinct token count. Serve cost is Σ posting positions × window
    * over the manifest-pruned query-term read — corpus-independent.
    * All integers, so the oracle is trivially exact.
    */
  def proximitySearchIndexed(spark: SparkSession, path: String,
                             queries: Seq[(String, String)],
                             window: Int, topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(window > 0 && window <= 64,
      "window must be in [1, 64] (votes explode by window)")
    require(topK > 0, "topK must be positive")
    import spark.implicits._
    val (s, idCol) = indexHead(spark, path)
    val qtRows = queries.toDF("query_id", "__qtext")
      .select(col("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col("__qtext"))))
          .as("token"))
      .collect()
    require(qtRows.nonEmpty, "every query tokenized to nothing")
    val qt = qtRows.map(r => (r.getString(0), r.getString(1))).toSeq
      .toDF("query_id", "token")
    val qLen = qt.groupBy("query_id").agg(count(lit(1)).as("__k"))
    val posts = postingsFor(s, qtRows.map(_.getString(1)).distinct.toSeq)
    require(posts.columns.contains("positions"),
      s"index at $path predates positional postings — rebuild it with " +
        "Bm25.buildIndex to serve proximity queries")
    val votes = posts.join(broadcast(qt), Seq("token"))
      .select(col("query_id"), col(idCol), col("token"),
        explode(col("positions")).as("__p"))
      .select(col("query_id"), col(idCol), col("token"),
        explode(sequence(greatest(lit(0), col("__p") - lit(window - 1)),
          col("__p"))).as("__start"))
    val hits = votes
      .groupBy(col("query_id"), col(idCol), col("__start"))
      .agg(countDistinct(col("token")).as("__nt"))
      .join(broadcast(qLen), Seq("query_id"))
      .filter(col("__nt") === col("__k"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_windows"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("n_windows").desc, col(idCol).asc)
    hits.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("n_windows"))
  }
}
