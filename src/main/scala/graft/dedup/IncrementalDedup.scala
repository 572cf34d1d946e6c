package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TxTable
import graft.streaming.StreamingSink

/** Configuration for [[IncrementalDedup]]. `minAgree` is the minimum
  * fraction of matching MinHash signature components for two docs to
  * count as near-duplicates — the unbiased estimator of their Jaccard
  * similarity, so `minAgree = 0.8` ≈ "Jaccard ≥ 0.8". The verify step
  * uses the ESTIMATE (signature agreement), not exact shingle Jaccard,
  * precisely so the index never has to store or re-read document text.
  */
case class IncDedupConfig(n: Int = 3, numPerms: Int = 128, bands: Int = 32,
                          minAgree: Double = 0.8,
                          hash: Column => Column = xxhash64(_)) {
  require(numPerms % bands == 0, "bands must divide numPerms")
}

/** Incremental corpus deduplication against a persisted MinHash
  * signature index (no reference counterpart; this is the "dedup
  * today's crawl against the whole corpus" operation of a production
  * training-data pipeline).
  *
  * The index is a [[TxTable]] of (id, sig: array<long>) — ~1 KB per
  * document regardless of document size. Ingesting a batch therefore
  * costs: one MinHash pass over the BATCH text, one scan of the
  * signature index (typically ~100× smaller than the corpus text), and
  * two band-bucket equi-joins. The corpus text is never re-read — at
  * 100 TB that is the difference between an hourly ingest and a daily
  * full-corpus job (the batch-global alternative, [[Dedup
  * .minhashDedupPairs]] over old ∪ new, re-reads and re-hashes
  * everything every time).
  *
  * Ingest semantics, in order:
  *  1. batch docs whose signature agrees with any INDEXED doc at
  *     `minAgree` are dropped (the corpus wins);
  *  2. among the remainder, within-batch near-dup clusters keep their
  *     minimum id (connected components over the agreement pairs — the
  *     same canonicalization as the batch-global path);
  *  3. survivors' signatures are appended to the index in ONE commit.
  *
  * Exactly-once: pass a monotonically increasing `batchId` and the
  * append goes through [[StreamingSink.appendBatch]]'s idempotent
  * txn-meta commit. A replayed ingest recomputes the SAME survivor set
  * — index rows whose id is in the batch are excluded from the "old"
  * side, so a batch never matches the copy of itself a previous attempt
  * already indexed — and the duplicate append is skipped by the txn
  * guard. Corollary: ids must be unique across the corpus lifetime.
  *
  * Docs too short to carry an n-shingle (fewer than `n` tokens) have no
  * signature: they pass through as survivors and are not indexed —
  * near-dup similarity is undefined below the shingle size; run exact
  * dedup ([[Dedup.exactDedup]]) for those separately.
  */
object IncrementalDedup {

  /** (id, sig array) signatures frame for `df`. */
  private def sigFrame(df: DataFrame, idCol: String, textCol: String,
                       cfg: IncDedupConfig): DataFrame = {
    val sig = Dedup.minhashSignatures(df, idCol, textCol, cfg.n,
      cfg.numPerms, cfg.hash)
    sig.select(col("id"),
      array((0 until cfg.numPerms).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** One (id, band, bucket) row per signature band — the LSH bucketing
    * recomputed from the stored array (storing buckets would double the
    * index for a cheap hash; one explode, no shuffle). The bucket
    * formula is [[Dedup.bandRowsOf]] — shared with the batch path so
    * incremental and batch-global decisions can never drift.
    */
  private def bandRows(sigs: DataFrame, cfg: IncDedupConfig): DataFrame =
    Dedup.bandRowsOf(sigs, cfg.numPerms, cfg.bands, cfg.hash,
      i => col("sig").getItem(i))

  /** Fraction of matching signature components (Jaccard estimate). */
  private def agreement(a: Column, b: Column, numPerms: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), x => x))
      .cast("double") / numPerms.toDouble

  /** (id_a, id_b, agree) pairs between two signature frames whose LSH
    * buckets collide and whose agreement clears the threshold. When
    * `selfJoin`, only a < b pairs (within-batch dedup); otherwise all
    * cross pairs (batch vs index).
    */
  private def agreePairs(left: DataFrame, right: DataFrame,
                         cfg: IncDedupConfig, selfJoin: Boolean): DataFrame = {
    val lb = bandRows(left, cfg).as("a")
    val rb = bandRows(right, cfg).as("b")
    val cond = col("a.band") === col("b.band") &&
      col("a.bucket") === col("b.bucket") &&
      (if (selfJoin) col("a.id") < col("b.id") else col("a.id") =!= col("b.id"))
    val cand = lb.join(rb, cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(left.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(right.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("agree", agreement(col("sig_a"), col("sig_b"), cfg.numPerms))
      .filter(col("agree") >= cfg.minAgree)
      .select("id_a", "id_b", "agree")
  }

  /** Id-range layout for the signature table: tight per-file id
    * windows let [[remove]]'s copy-on-write delete prune to the files
    * actually holding victims (the [[graft.ann.Similarity]] `idSorted`
    * rationale; ingest's index scan reads every signature regardless
    * of layout). One extra exchange per commit, paid at write time.
    */
  private def idSorted(sigs: DataFrame): DataFrame =
    sigs.repartitionByRange(col("id")).sortWithinPartitions(col("id"))

  /** Bootstrap the index from an already-deduplicated corpus: one
    * MinHash pass, one append commit. Fails if the table exists (an
    * index is grown by [[ingest]], never re-bootstrapped in place).
    */
  def init(spark: SparkSession, indexPath: String, corpus: DataFrame,
           idCol: String, textCol: String,
           cfg: IncDedupConfig = IncDedupConfig()): Long = {
    require(!TxTable.exists(spark, indexPath),
      s"$indexPath already holds an index — ingest into it instead")
    TxTable.append(spark, indexPath,
      idSorted(sigFrame(corpus, idCol, textCol, cfg)))
  }

  /** Remove documents' signatures from the index — the lifecycle leg
    * the other persisted indexes ([[graft.text.Bm25.removeFromIndex]],
    * [[graft.ann.Similarity.ivfRemove]], [[SemDedup.removeFromModel]])
    * already have, and here it is a CORRECTNESS fix, not just hygiene:
    * a purged document's lingering signature keeps suppressing every
    * future near-duplicate of a document that no longer exists in the
    * corpus, silently shrinking the corpus forever. One atomic
    * manifest-pruned copy-on-write [[TxTable.delete]] (the id-range
    * layout bounds the rewrite). Semantics: future [[ingest]]s stop
    * matching the purged ids (pinned by the q_x_inc_dedup_removed
    * oracle = the batch-global decision over the surviving old
    * corpus); documents an EARLIER ingest dropped because of them are
    * NOT resurrected — ingest decisions are final, re-ingest the
    * source batch if recovery is wanted. A removed id may legitimately
    * re-enter via a later ingest (same contract as the other indexes).
    * Unknown ids are an exact no-op (no commit).
    */
  def remove(spark: SparkSession, indexPath: String,
             docIds: Seq[Any]): Option[Long] = {
    require(docIds.nonEmpty, "remove needs at least one doc id")
    TxTable.delete(spark, indexPath, col("id").isin(docIds: _*))
  }

  /** Dedup `batch` against the index AND itself, append the survivors'
    * signatures, and return the surviving rows of `batch` (original
    * columns). This runs Spark actions (the survivor set is pinned
    * before the commit); the returned frame is a cheap semi-join.
    *
    * `batchId` (with `txnApp`) makes the ingest replay-safe — see the
    * class doc. Without it, a re-run of the same batch double-indexes.
    */
  def ingest(spark: SparkSession, indexPath: String, batch: DataFrame,
             idCol: String, textCol: String,
             cfg: IncDedupConfig = IncDedupConfig(),
             batchId: Option[Long] = None,
             txnApp: String = "inc-dedup"): DataFrame = {
    val sigNew = GraftShim.pin(sigFrame(batch, idCol, textCol, cfg))
    val batchIds = sigNew.select("id")

    // 1. drop batch docs the corpus already contains (near-dup at
    //    minAgree). Exclude index rows with a batch id: on a replay the
    //    index already holds this batch's survivors, and a doc must not
    //    match the copy of itself the previous attempt appended.
    val dupOfOld: DataFrame =
      if (!TxTable.exists(spark, indexPath))
        sigNew.select(col("id")).limit(0)
      else {
        val sigOld = TxTable.read(spark, indexPath)
          .join(batchIds, Seq("id"), "left_anti")
        agreePairs(sigNew, sigOld, cfg, selfJoin = false)
          .select(col("id_a").as("id")).distinct()
      }
    val fresh = sigNew.join(dupOfOld, Seq("id"), "left_anti")

    // 2. within-batch: keep the min id of each agreement cluster
    val pairs = agreePairs(fresh, fresh, cfg, selfJoin = true)
    // pin: the commit and the return both read it
    val surviving = GraftShim.pin(Dedup
      .keepCanonical(fresh, "id", pairs.select("id_a", "id_b")))

    // 3. one commit of the survivors' signatures (id-range layout so
    //    a later remove() prunes its rewrite)
    batchId match {
      case Some(b) =>
        StreamingSink.appendBatch(indexPath, txnApp)(idSorted(surviving), b)
      case None => TxTable.append(spark, indexPath, idSorted(surviving)); ()
    }

    // survivors = batch minus the docs a signature decision dropped —
    // an anti-join on the DROPPED set, not a semi-join on the kept set,
    // so no-signature (too-short) docs pass through
    val dropped = batchIds.join(surviving.select("id"), Seq("id"), "left_anti")
    batch.join(dropped.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }
}
