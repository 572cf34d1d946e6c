package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ann.Similarity.{dot, norm}

/** SemDeDup (Abbas et al. 2023): semantic deduplication of an
  * embedded corpus by clustering first and comparing cosines only
  * WITHIN a cluster — the cluster bound is what makes embedding-level
  * dedup tractable at 100 TB: all-pairs work is O(sum of cluster
  * sizes squared), not O(corpus squared), and each cluster's pair
  * join is an ordinary equi-join on the cluster id.
  *
  * The centroid table is caller-supplied: pass
  * [[graft.ann.Similarity.buildIvfIndex]]'s k-means lists for the
  * real pipeline (fit once, persist, reuse), or any deterministic
  * seed rule (e.g. the k lowest-id embeddings) where external
  * reproducibility matters — the harness oracle does exactly that.
  *
  * Dedup rule: a row is dropped iff SOME same-cluster row with a
  * smaller id is cosine-similar at >= `threshold` (pairwise, not
  * transitive closure — SemDeDup's keep-one-per-pair semantics; use
  * [[Dedup.connectedComponents]] + [[Dedup.keepCanonical]] on the
  * pair output when cluster-wide transitive grouping is wanted).
  * Zero-norm embeddings never match anything and always survive.
  */
object SemDedup {

  /** Nearest-centroid assignment by cosine (ties → lowest list_id).
    * `centroids` = (list_id, centroid, cent_n) as built by
    * [[graft.ann.Similarity.buildIvfIndex]]; it is broadcast — the
    * model side stays small by construction.
    *
    * Delegates to [[graft.ann.Similarity.assignToLists]] — ONE
    * implementation of the nearest-centroid election, so a tie-break
    * or zero-norm fix there can never leave SemDedup assigning
    * differently from the IVF index callers are told to build with.
    */
  def assignClusters(corpus: DataFrame, centroids: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    graft.ann.Similarity.assignToLists(corpus, centroids, idCol, vecCol)
      .withColumnRenamed("nrm", "__n")

  /** Within-cluster near-duplicate pairs (id_a < id_b, cos >=
    * threshold). One equi-join on list_id; norms precomputed once per
    * row, so per-pair work is a single codegen'd dot product.
    *
    * GUARDED like [[Dedup.cosineDupPairs]]'s row ceiling: the join's
    * work is Σ cluster_size², so ONE oversize cluster — a centroid
    * count too small for the corpus, or a degenerate corpus where one
    * centroid attracts everything — silently goes quadratic at 100 TB.
    * `maxClusterRows` (default 1M ≈ 5·10¹¹ candidate pairs in one
    * cluster, already days of compute) probes the assignment's cluster
    * histogram first — an O(n) aggregate over two pruned columns vs
    * the Σsize² join it protects — and refuses loudly, naming the
    * oversize clusters and the fix (centroid count ∝ corpus size:
    * `buildIvfIndex(corpus, numLists = rows / targetClusterSize)`).
    * Pass `maxClusterRows <= 0` to skip the probe when cluster sizes
    * are already known-bounded (e.g. a freshly validated index).
    */
  def semDedupPairs(corpus: DataFrame, centroids: DataFrame,
                    threshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxClusterRows: Long = 1000000L): DataFrame =
    pairsFromAssigned(
      assignClusters(corpus, centroids, idCol, vecCol),
      threshold, idCol, vecCol, maxClusterRows)

  /** The within-cluster pair join over an already-assigned frame
    * `(idCol, vecCol, __n, list_id)` — shared by the fit-per-call path
    * ([[semDedupPairs]]) and the persisted-model serve path
    * ([[semDedupServed]]), so a guard or tie-break fix here holds on
    * both. See [[semDedupPairs]] for the `maxClusterRows` rationale.
    */
  private def pairsFromAssigned(assigned: DataFrame, threshold: Double,
                                idCol: String, vecCol: String,
                                maxClusterRows: Long): DataFrame = {
    if (maxClusterRows > 0) {
      val oversize = assigned.groupBy(col("list_id"))
        .agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") > maxClusterRows)
        .limit(3).collect()
      require(oversize.isEmpty,
        s"semDedupPairs: cluster(s) over $maxClusterRows rows " +
          oversize.map(r => s"list_id=${r.get(0)} rows=${r.get(1)}")
            .mkString("[", ", ", "]") +
          " — the within-cluster pair join is quadratic in cluster " +
          "size. Build the centroid table with a corpus-proportional " +
          "count (buildIvfIndex(corpus, numLists = rows / " +
          "targetClusterSize)), or raise/disable maxClusterRows if " +
          "you really mean it")
    }
    val a = assigned.select(col("list_id"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = assigned.select(col("list_id"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= threshold)
      .select(col("list_id"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Survivors: rows with no smaller-id near-duplicate in their
    * cluster (left-anti join of the corpus against the pairs' id_b
    * side). Keeps every zero-norm and every cluster-canonical row.
    */
  def semDedup(corpus: DataFrame, centroids: DataFrame, threshold: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               maxClusterRows: Long = 1000000L): DataFrame = {
    val dropped = semDedupPairs(corpus, centroids, threshold, idCol, vecCol,
        maxClusterRows)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(dropped, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------- persisted model
  //
  // [[semDedup]] re-runs the centroid fit and re-assigns the WHOLE
  // corpus on every call; at 100 TB the fit is the job, and the engine
  // already has two precedents for paying it once into a versioned
  // TxTable (the IVF lists, the BM25 postings). The persisted model is
  // two tables under one root:
  //   <root>/centroids   — (list_id, centroid, cent_n), the fit
  //   <root>/assignments — (idCol, vecCol, nrm, list_id), EVERY corpus
  //     row: assigned rows carry their cluster, zero-norm rows carry a
  //     NULL list_id (they join no pairs and always survive — exactly
  //     [[semDedup]]'s semantics, kept representable so the serve path
  //     can reproduce the full survivor set without the raw corpus).
  // Serving ([[semDedupServed]]) reads assignments only; ingest
  // ([[appendToModel]]) assigns ONLY the new batch against the stored
  // centroids — O(batch × numLists), no re-fit, one atomic append —
  // the FAISS add-vs-train split the IVF index already follows.
  // Re-fitting (fresh [[graft.ann.Similarity.buildIvfIndex]] +
  // [[writeModel]]) stays a periodic offline job.

  /** Persist centroids + the full corpus assignment at `root` (two
    * TxTable overwrite commits — atomic each; a model rebuild is a
    * re-overwrite and readers mid-serve keep their snapshot).
    * Returns the assignments version.
    */
  def writeModel(corpus: DataFrame, centroids: DataFrame, root: String,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Long = {
    val spark = corpus.sparkSession
    graft.ops.TxTable.overwrite(spark, s"$root/centroids",
      centroids.select(col("list_id"), col("centroid"), col("cent_n")))
    graft.ops.TxTable.overwrite(spark, s"$root/assignments",
      assignedWithZeroNorm(corpus, centroids, idCol, vecCol))
  }

  /** Assign ONLY `newRows` against the stored centroids and append
    * them — O(batch) ingest keeping the persisted assignment current;
    * after the append [[semDedupServed]] is bit-identical to a
    * from-scratch [[writeModel]] over the union (same fixed centroids
    * route both — pinned by spec).
    * `txn = Some((app, batchId))` makes the append REPLAY-SAFE for a
    * `foreachBatch` maintainer (the [[graft.text.Bm25.appendToIndex]]
    * contract, via [[graft.ops.TxTable.appendIncrement]]): without it a
    * checkpoint-replayed batch double-appends its rows into the
    * assignments table — every replayed row then serves as its own
    * duplicate, which for a DEDUP model is self-defeating.
    */
  def appendToModel(spark: org.apache.spark.sql.SparkSession, root: String,
                    newRows: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    txn: Option[(String, Long)] = None,
                    maintain: Option[graft.ops.TxTable.Maintenance] = None)
      : Long =
    // idCol is the build layout (assignedWithZeroNorm's id-range sort)
    // — maintenance restores writeModel's file windows
    graft.ops.TxTable.appendIncrement(spark, s"$root/assignments", txn,
        Seq(idCol), maintain) { _ =>
      val centroids = graft.ops.TxTable.read(spark, s"$root/centroids")
      (assignedWithZeroNorm(newRows, centroids, idCol, vecCol),
        Map.empty, Map.empty)
    }

  /** `(idCol, vecCol, nrm, list_id)` for EVERY row of `rows`: the
    * nearest-centroid assignment, plus the rows the assignment
    * excludes (zero-norm or null embeddings) with null nrm/list_id.
    */
  private def assignedWithZeroNorm(rows: DataFrame, centroids: DataFrame,
                                   idCol: String,
                                   vecCol: String): DataFrame = {
    val assigned = assignClusters(rows, centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("__n").as("nrm"), col("list_id"))
    val zero = rows.select(col(idCol), col(vecCol))
      .join(assigned.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol),
        lit(null).cast("double").as("nrm"),
        lit(null).cast("long").as("list_id"))
    // id-range layout: tight per-file id windows let removeFromModel's
    // copy-on-write delete prune to the files actually holding victims
    // (the graft.ann.Similarity.idSorted rationale; the serve join
    // reads every row regardless of layout)
    assigned.unionByName(zero)
      .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
  }

  /** Remove rows from the persisted assignment — the model's removal
    * leg (GDPR purge, contaminated-embedding excision), completing
    * write/append/serve the way [[graft.ann.Similarity.ivfRemove]]
    * completes the IVF lists'. ONE atomic manifest-pruned
    * copy-on-write [[graft.ops.TxTable.delete]]; centroids stay fixed
    * and assignments are per-row independent under fixed centroids,
    * so serving afterwards is BIT-IDENTICAL to a model whose corpus
    * never held the rows (pinned by spec and the q_x_semdedup_removed
    * oracle). A purged row can re-enter later via [[appendToModel]].
    * Ids with no assignment row are an exact no-op (no commit).
    */
  def removeFromModel(spark: org.apache.spark.sql.SparkSession,
                      root: String, ids: Seq[Any],
                      idCol: String = "vec_id"): Option[Long] = {
    require(ids.nonEmpty, "removeFromModel needs at least one id")
    graft.ops.TxTable.delete(spark, s"$root/assignments",
      col(idCol).isin(ids: _*))
  }

  /** SemDedup survivors served ENTIRELY from the persisted model —
    * no fit, no corpus scan, no corpus argument: the within-cluster
    * pair join runs over the stored assignments and the survivor set
    * is the stored rows anti-joined against the dropped side. Output
    * `(idCol, vecCol)`, one row per corpus row that survives —
    * bit-identical to [[semDedup]] over the same corpus and centroids
    * (the q_x_semdedup oracle gates both paths). The threshold is a
    * SERVE-time parameter: one persisted assignment answers any
    * threshold, because cosines are computed at serve from the stored
    * vectors — only the clustering is baked in.
    */
  def semDedupServed(spark: org.apache.spark.sql.SparkSession, root: String,
                     threshold: Double,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxClusterRows: Long = 1000000L): DataFrame = {
    val stored = graft.ops.TxTable.read(spark, s"$root/assignments")
    val dropped = pairsFromAssigned(
        stored.filter(col("list_id").isNotNull)
          .withColumnRenamed("nrm", "__n"),
        threshold, idCol, vecCol, maxClusterRows)
      .select(col("id_b").as(idCol)).distinct()
    stored.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol))
  }
}
