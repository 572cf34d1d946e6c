package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extension; the reference's only dedup is whole-row `dropDuplicates`,
  * SURVEY.md §2.4 A5).
  *
  * Scale design (the whole point — these must survive 100 TB):
  *  - Exact dedup is a hash-groupBy: one shuffle keyed by the content
  *    fingerprint, never a sort of the full text.
  *  - Near-dup NEVER does all-pairs. Candidates come from an inverted
  *    index (shared shingle) or MinHash LSH bands (shared band bucket) —
  *    both are equi-joins Catalyst can hash-partition; the cartesian
  *    product never appears in the plan.
  *  - MinHash signatures are computed with integer arithmetic kept below
  *    2^62 (ANSI mode would throw on silent 64-bit wrap).
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `orderCol` per distinct
    * fingerprint of `textCol` (deterministic keep-first). `row_number`
    * over a non-total order picks an ARBITRARY row among ties, so when
    * `orderCol` can repeat within a fingerprint (e.g. second-granularity
    * crawl timestamps) pass `tieCols` that complete a total order
    * (typically the document id) — otherwise which duplicate survives
    * varies run to run and the pipeline output is not reproducible.
    */
  def exactDedup(df: DataFrame, textCol: String, orderCol: String,
                 tieCols: Seq[String] = Nil): DataFrame = {
    val fp = TextAnalysis.fingerprintMd5(col(textCol))
    val rn = graft.util.Cols.fresh(df, "__dd")
    val w = Window.partitionBy(fp)
      .orderBy((orderCol +: tieCols).map(col): _*)
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** Exploded (id, shingle) pairs — the inverted index both near-dup
    * paths build on. Shingles are distinct per doc. The token ARRAY is
    * materialized once per row (CSE guard); the shingle array is built
    * inside the Generate from that cheap column reference, avoiding a
    * second row-sized intermediate.
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // spread before the shingle explosion — an under-partitioned scan
    // would single-task the whole tokenize+explode fan-out (identity at
    // production partition counts, see Scale.spreadForFanOut)
    graft.util.Scale.spreadForFanOut(df)
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("id"),
        explode(TextAnalysis.shinglesFromTokens(col("__tk"), n)).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= minJ).
    *
    * Candidate pairs are only those sharing >= 1 shingle (inverted-index
    * equi-join on the shingle), so complexity is sum over shingles of
    * df^2 — not |docs|^2. `maxShingleDf` optionally drops ubiquitous
    * shingles (stopword runs) that would otherwise create a skewed hot
    * key at scale; None keeps exact semantics.
    */
  /** [[shingleIndex]] with ubiquitous shingles (document frequency >
    * `cap`) removed. A shingle appearing in d documents contributes
    * d·(d−1)/2 candidate pairs to the inverted-index self-join AND d
    * rows to one shuffle partition of the shingle key — a single
    * stopword-run shared by 1M documents is a 5·10^11-pair hot key. The
    * cap bounds per-key join fan-out and partition row counts at the
    * cost of ignoring evidence from shingles too common to
    * discriminate anyway.
    */
  def cappedShingleIndex(df: DataFrame, idCol: String, textCol: String,
                         n: Int, cap: Int): DataFrame = {
    // Deliberately NOT materialized: an earlier round pinned
    // the raw index here (it feeds the hot-key aggregation, the
    // anti-join probe, and several caller consumers), but pinning the
    // FULL exploded inverted index is the single most expensive thing
    // this operator can do — at 10× data the materialization alone made
    // the capped path 4× slower than the uncapped one it exists to
    // protect (scale ladder, round 9). Recomputing the narrow
    // tokenize+shingle+explode subplan per consumer is cheaper than
    // writing the index out, and the self-join consumers still share
    // one hashpartitioning(shingle) exchange via ReuseExchange exactly
    // as the uncapped path does. The hot side is df > cap shingles
    // only; left AQE-planned (it broadcasts when small, stays a
    // shuffle anti-join when a 100 TB corpus makes it big).
    val idx0 = shingleIndex(df, idCol, textCol, n)
    val hot = idx0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("shingle")
    idx0.join(hot, Seq("shingle"), "left_anti")
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   minJ: Double, maxShingleDf: Option[Int] = None): DataFrame = {
    val idx = maxShingleDf.fold(shingleIndex(df, idCol, textCol, n))(
      cappedShingleIndex(df, idCol, textCol, n, _))
    // Per-doc shingle counts come straight from the shingle ARRAY (one
    // narrow pass, no explode + groupBy) — except under maxShingleDf,
    // where counts must reflect the post-filter index.
    val sizes = maxShingleDf.fold(
      TextAnalysis.withShingles(df.select(col(idCol).as("id"), col(textCol)),
          textCol, "__sh", n)
        .select(col("id"), size(col("__sh")).cast("long").as("n_sh"))) { _ =>
      idx.groupBy("id").agg(count(lit(1)).as("n_sh"))
    }
    // sort-merge (not broadcast, not shuffle_hash): both self-join
    // sides need the SAME hashpartitioning(shingle) exchange, which
    // ReuseExchange computes once — a broadcast build side would re-run
    // the whole tokenize+shingle+explode subplan, and a 100 TB inverted
    // index never fits a broadcast anyway. shuffle_hash (used until
    // round 12) looks cheaper but its build-side hash map CANNOT SPILL:
    // at 100× data with 32 shuffle partitions the per-task map starved
    // the downstream pair-count hashAgg of execution memory and the
    // query sat on an AGGREGATE_OUT_OF_MEMORY cliff (fails at an 8 GB
    // heap, measured; pass/fail was a coin flip near the limit). SMJ's
    // sorts spill gracefully, so memory use is bounded however big the
    // posting lists get — the only safe posture at 100 TB.
    val inter = idx.as("a").join(idx.as("b").hint("merge"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** Decontamination pairs: for every (corpus doc, eval doc) sharing at
    * least one n-gram shingle, the CONTAINMENT of the eval doc in the
    * corpus doc — |shingles(eval) ∩ shingles(corpus)| / |shingles(eval)|
    * — kept when >= `minContainment`. Containment (not Jaccard) is the
    * right score for train/test contamination: a short benchmark item
    * embedded verbatim in a long training document has low Jaccard but
    * containment ~1.
    *
    * Scale shape is the cross-table version of [[jaccardPairs]]: two
    * inverted indexes equi-joined on the shingle — never |corpus|×|eval|
    * — and the eval side is typically tiny (benchmarks), so the join
    * fans out only where shingles actually collide. `maxShingleDf` caps
    * hot shingles on the CORPUS side exactly as in
    * [[cappedShingleIndex]] (capping the eval side would silently lower
    * containment denominators).
    */
  def containmentPairs(corpus: DataFrame, evalSet: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       minContainment: Double,
                       maxShingleDf: Option[Int] = None): DataFrame = {
    val cIdx = maxShingleDf.fold(shingleIndex(corpus, idCol, textCol, n))(
      cappedShingleIndex(corpus, idCol, textCol, n, _))
    val eIdx = shingleIndex(evalSet, idCol, textCol, n)
    containmentFromIndexes(cIdx, eIdx, minContainment)
  }

  /** [[containmentPairs]] with a broadcast bloom prefilter on the CORPUS
    * side: a bloom filter over the eval set's shingles (one agg over the
    * small side, megabytes on the driver) drops corpus shingles that
    * cannot possibly intersect BEFORE the shuffle. The eval set is
    * typically a few benchmarks — thousands of docs — while the corpus
    * is the 100 TB crawl, so near-all corpus shingles miss the bloom and
    * the containment join's left side collapses from |corpus shingles|
    * to roughly |matching shingles| shuffle rows. The bloom is
    * false-negative-free and the exact equi-join removes its false
    * positives, so the output is bit-identical to [[containmentPairs]].
    *
    * Size `expectedShingles`/`numBits` to the EVAL side (defaults fit
    * ~1M shingles at ~2% fp); an undersized bloom only raises the fp
    * rate — wasted shuffle rows, never wrong answers.
    */
  def containmentPairsBloom(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            minContainment: Double,
                            maxShingleDf: Option[Int] = None,
                            expectedShingles: Long = 1000000L,
                            numBits: Long = 8388608L): DataFrame = {
    val eIdx = shingleIndex(evalSet, idCol, textCol, n)
    val bloom = graft.ops.Joins.bloomFilterFor(eIdx, "shingle",
      expectedShingles, numBits)
    val cIdx0 = maxShingleDf.fold(shingleIndex(corpus, idCol, textCol, n))(
      cappedShingleIndex(corpus, idCol, textCol, n, _))
    val cIdx = cIdx0.filter(graft.ops.Joins.mightContain(
      bloom, col("shingle"), corpus.sparkSession))
    containmentFromIndexes(cIdx, eIdx, minContainment)
  }

  /** Shared exact-containment tail: inverted-index equi-join on the
    * shingle, per-pair intersection count, normalize by the eval doc's
    * shingle count.
    */
  private def containmentFromIndexes(cIdx: DataFrame, eIdx: DataFrame,
                                     minContainment: Double): DataFrame = {
    val eSizes = eIdx.groupBy(col("id").as("eval_id"))
      .agg(count(lit(1)).as("n_e"))
    // shuffle_hash stays CORRECT here, unlike jaccardPairs' self-join:
    // the build side is the EVAL-SET index, small by the operator's
    // contract (a benchmark/eval suite, not the corpus), so its
    // unspillable per-task hash map is bounded — and it skips the sort
    // the corpus-sized probe side would otherwise pay
    val inter = cIdx.as("c").join(eIdx.as("e").hint("shuffle_hash"),
        col("c.shingle") === col("e.shingle"))
      .groupBy(col("c.id").as("corpus_id"), col("e.id").as("eval_id"))
      .agg(count(lit(1)).as("inter"))
    inter.join(eSizes, "eval_id")
      .withColumn("containment",
        col("inter").cast("double") / col("n_e").cast("double"))
      .filter(col("containment") >= minContainment)
      .select("corpus_id", "eval_id", "containment")
  }

  /** Large prime below 2^31 for the universal-hash family. Exposed (with
    * [[perms]]) so the oracle SQL can interpolate the identical
    * constants.
    */
  private[graft] val P = 2147483629L
  /** Deterministic (a, b) per permutation — fixed seed, no RNG at plan
    * time (reproducible across runs and resumable jobs).
    */
  private[graft] def perms(numPerms: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numPerms)((1 + rnd.nextInt((P - 1).toInt).toLong, rnd.nextInt(P.toInt).toLong))
  }

  /** MinHash signature columns s0..s{p-1} per id.
    *
    * h(shingle) = `hash` folded into [0, P); perm_i = (a_i*h + b_i) mod
    * P (products < 2^62 — safe under ANSI); signature_i = min over the
    * doc's shingles. One shuffle (groupBy id).
    *
    * `hash` only needs determinism: the default is xxhash64 (fastest);
    * pass [[TextAnalysis.md5Hash60]] to make the whole MinHash path
    * reproducible in an external SQL oracle.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numPerms: Int,
                        hash: Column => Column = xxhash64(_)): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, n)
      .withColumn("h", pmod(hash(col("shingle")), lit(P)))
    val aggs = perms(numPerms).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"s$i")
    }
    idx.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH candidate pairs: band the signature (bands × rowsPerBand
    * = numPerms), bucket-join docs sharing any band bucket. Tune bands
    * for the target jaccard threshold (P(candidate) = 1-(1-j^r)^b).
    *
    * Band rows are produced by ONE explode over an array of (band, bucket)
    * structs — a per-band `unionAll` would paste the whole signature
    * aggregation subplan into every branch and compute MinHash `bands`
    * times (measured 16× slowdown at sf0.1).
    */
  /** THE (id, band, bucket) derivation — one explode over `bands`
    * structs, bucket = hash(concat_ws(",", the band's r signature
    * components)) — shared by the batch candidate join
    * ([[minhashCandidates]], components as s0..sN columns) and the
    * persisted incremental index ([[IncrementalDedup]], components
    * indexed out of the stored array). The formula lives ONCE so the
    * two paths can never silently diverge: an incremental batch must
    * land in exactly the buckets the batch-global path would probe.
    */
  private[dedup] def bandRowsOf(sig: DataFrame, numPerms: Int, bands: Int,
                                hash: Column => Column,
                                component: Int => Column): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val r = numPerms / bands
    val bandStructs = (0 until bands).map { bIdx =>
      val cols = (bIdx * r until (bIdx + 1) * r).map(component)
      struct(lit(bIdx).as("band"), hash(concat_ws(",", cols: _*)).as("bucket"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numPerms: Int = 128, bands: Int = 32,
                        hash: Column => Column = xxhash64(_)): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, n, numPerms, hash)
    val bandRows = bandRowsOf(sig, numPerms, bands, hash, i => col(s"s$i"))
    bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Empirical MinHash/LSH calibration — the measured S-curve behind
    * the (numPerms, bands) choice, so banding is TUNED from data
    * instead of the folklore 1−(1−J^r)^b formula alone (the
    * [[graft.ann.RankingMetrics]] of dedup). Over every pair sharing
    * ≥ 1 shingle (the exact inverted-index Jaccard — ground truth),
    * how often does the configured banding surface the pair as a
    * candidate, bucketed by exact Jaccard. One row per occupied
    * bucket: (bucket, j_lo, j_hi, n_pairs, n_candidates, detect_rate).
    * Reading it: the threshold the pipeline dedups at should sit where
    * detect_rate has saturated (≈1.0), and wasted verify work is the
    * candidate mass in buckets below it.
    *
    * Scale: the truth side is [[jaccardPairs]]' one-shuffle
    * inverted-index join at minJ = 0 — pair-count-proportional, so run
    * the report on a [[graft.ops.Sampling.consistentSample]] of the
    * corpus (and/or guard with `maxShingleDf`) exactly as the
    * brute-force ANN baselines are sampled; the candidate side reuses
    * [[minhashCandidates]]. Determinism, cross-engine: every number is
    * an exact long count through one IEEE division (plus the truth
    * side's jaccard, already mirrored) — hash-oracles bit-exactly.
    */
  def minhashCalibrationReport(df: DataFrame, idCol: String,
                               textCol: String, n: Int = 3,
                               numPerms: Int = 128, bands: Int = 32,
                               hash: Column => Column = xxhash64(_),
                               buckets: Int = 10,
                               maxShingleDf: Option[Int] = None): DataFrame = {
    require(buckets > 0, "need at least one jaccard bucket")
    val truth = jaccardPairs(df, idCol, textCol, n, minJ = 0.0, maxShingleDf)
    val cand = minhashCandidates(df, idCol, textCol, n, numPerms, bands,
        hash)
      .withColumn("__isc", lit(1L))
    // a hash-fluke band collision between docs sharing NO shingle is
    // the only candidate the left join drops — astronomically rare and
    // harmless (it is not a pair the tuner could act on)
    val flagged = truth.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("jaccard"), coalesce(col("__isc"), lit(0L)).as("__c"))
    val bucket = least(floor(col("jaccard") * buckets).cast("int"),
      lit(buckets - 1)) // J = 1.0 lands in the top bucket, not past it
    flagged.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__c")).as("n_candidates"))
      .select(col("bucket"),
        (col("bucket").cast("double") / lit(buckets.toDouble)).as("j_lo"),
        ((col("bucket") + 1).cast("double") / lit(buckets.toDouble))
          .as("j_hi"),
        col("n_pairs"), col("n_candidates"),
        (col("n_candidates").cast("double") / col("n_pairs").cast("double"))
          .as("detect_rate"))
  }

  /** Near-dup pairs: LSH candidates verified by exact Jaccard. The LSH
    * stage bounds the verify stage's input — at 100 TB the exact-jaccard
    * verify runs per candidate pair (array intersect/union over the two
    * shingle sets), never as a corpus-wide inverted-index join, and the
    * candidate plan is consumed exactly once.
    */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJ: Double = 0.8,
                        numPerms: Int = 128, bands: Int = 32,
                        hash: Column => Column = xxhash64(_)): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, n, numPerms, bands, hash)
    val sh = TextAnalysis.withShingles(
        df.select(col(idCol).as("id"), col(textCol)), textCol, "sh", n)
      .select("id", "sh")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding-cosine near-dup pairs, exact: every (a < b) pair with
    * cosine >= minCos. All-pairs is the CORRECTNESS baseline only — at
    * scale use [[cosineDupPairsLsh]]. The join condition `id < id` is an
    * inequality, so this is a (deliberate, documented) broadcast
    * nested-loop — never run it on a full 100 TB corpus.
    *
    * Guarded against exactly that: refuses above `maxRows` input rows
    * unless `force = true`. The probe is `limit(maxRows+1).count()` —
    * it reads at most maxRows+1 rows and stops (never a full pass over
    * a huge input just to reject it). The ceiling defaults to 1M rows
    * ≈ 5·10¹¹ candidate pairs, already days of compute — far past any
    * sane use of the exact path, so real baselines never notice the
    * guard while an accidental full-corpus invocation fails in
    * seconds, not days. NOTE (behavior change, round 7): callers above
    * the ceiling that previously (slowly) succeeded must now pass
    * `force = true` — deliberate; the guard exists to make the O(n²)
    * cost an explicit decision at 100 TB, not an accident.
    */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
                     minCos: Double, maxRows: Long = 1000000L,
                     force: Boolean = false): DataFrame = {
    import graft.ann.Similarity.{dot, norm}
    if (!force) {
      val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
      val n = df.limit(probe).count()
      require(n <= maxRows,
        s"cosineDupPairs is the EXACT all-pairs baseline (O(n²) " +
        s"nested-loop): >$maxRows input rows. Use " +
        "cosineDupPairsLsh for the bucketed scale path, or pass " +
        "force = true if you really mean it")
    }
    // Zero-norm vectors excluded (cos would be NaN; see bruteForceTopK).
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na")).filter(col("na") > 0)
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb")).filter(col("nb") > 0)
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** The scale path: random-hyperplane LSH buckets the corpus, pairs are
    * generated only within a bucket (equi-join on the bucket id), then
    * verified by exact cosine. Recall < 1 by construction (tune
    * numPlanes down / multi-probe up for higher recall); the cartesian
    * never appears in the plan.
    *
    * `maxBucketRows` is the [[cappedShingleIndex]] of this operator: a
    * bucket holding d rows contributes d·(d−1)/2 candidate pairs to
    * ONE shuffle key, and a pathological corpus (near-constant or
    * heavily clustered embeddings — every sign pattern identical)
    * silently concentrates the whole join in one bucket. The cap drops
    * buckets over the ceiling BEFORE the self-join — one aggregate
    * over (bucket) then a left-anti join — bounding per-key fan-out at
    * cap²/2. Capped SEMANTICS: pairs whose only shared bucket was
    * oversize are missed, exactly the recall trade LSH already makes —
    * an oversize bucket is one where this hash family has stopped
    * discriminating, so its evidence is the least informative in the
    * index. None (default) keeps the uncapped join.
    */
  def cosineDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                        minCos: Double, numPlanes: Int = 8,
                        dim: Int = 64,
                        maxBucketRows: Option[Int] = None): DataFrame = {
    import graft.ann.Similarity.{dot, norm}
    val planes = graft.ann.Similarity.hyperplanes(numPlanes, dim)
    val bucketed0 = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nm"),
        graft.ann.Similarity.lshBucket(col(vecCol), planes).as("bucket"))
      .filter(col("nm") > 0)
    val bucketed = maxBucketRows.fold(bucketed0) { cap =>
      val hot = bucketed0.groupBy("bucket").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") > cap).select("bucket")
      bucketed0.join(hot, Seq("bucket"), "left_anti")
    }
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", dot(col("a.v"), col("b.v")) / (col("a.nm") * col("b.nm")))
      .filter(col("cos") >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** Connected components over near-dup pairs: returns (id, comp) where
    * comp is the smallest id in the component — the pairs→clusters step
    * every dedup pipeline needs before "keep one per cluster".
    *
    * Min-label propagation WITH pointer jumping (path doubling): each
    * round every node first takes the min of its own and its neighbors'
    * labels (the Pregel/hash-to-min step), then jumps through its label
    * — `L(u) ← L(L(u))` via one self-join of the label table (labels
    * are always node ids, so the jump target always resolves). The jump
    * halves the remaining label-chain length every round, so rounds are
    * O(log diameter) instead of O(diameter): a length-d chain converges
    * in ~log₂ d rounds where plain hash-to-min needs d. Per round that
    * costs one extra join over the LABEL table (|V| rows, smaller than
    * the edge table driving the neighbor-min join) and buys a round
    * count that stays flat as components deepen with corpus growth —
    * measured 11.7× time at 10× data under plain propagation, because
    * 10× data deepened the largest near-dup chains and added whole
    * edge-table rounds. Each round is pinned, which truncates lineage
    * so plans don't snowball. Convergence is read off a per-row
    * `changed` flag carried INSIDE the round's own result — no separate
    * old-vs-new join (round 2 ran one per round, doubling each round's
    * shuffle work); the flag check only scans the freshly pinned round.
    *
    * Executor loss: rounds are pinned with [[GraftShim.pin]], so they
    * follow the session's checkpoint dir. With
    * `sparkContext.setCheckpointDir` pointing at reliable storage
    * (HDFS/object store) they are written there and survive executor
    * churn; without one they live in executor blocks, and an executor
    * loss fails the job (the truncated lineage cannot recompute them).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    // Materialize the edge list ONCE: without the pin the full
    // upstream pairs pipeline (e.g. the MinHash/jaccard joins) would
    // re-execute every iteration. Each round's pin is RELEASED as soon
    // as the next round supersedes it — otherwise a 20-round run keeps
    // 20 generations of labels blocks (or checkpoint files) alive and
    // evicts genuine working memory at scale.
    val edges = GraftShim.pin(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = GraftShim.pin(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2")).agg(min(col("comp")).as("ncomp"))
      val stepped = labels.join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jump: comp ← L(comp). Every comp value is a node id (it
      // started as one and min/jump only move it to other nodes' labels),
      // so the lookup resolves; least() keeps comp non-increasing. The
      // jump table is the PREVIOUS round's pinned labels, not `stepped`
      // — jumping through `stepped` would be the textbook formulation
      // but consumes it twice, re-running the edge-table neighbor-min
      // join (different join keys, so ReuseExchange cannot rescue it);
      // composing through L_prev contracts chains by the same factor,
      // one round later at most.
      val jumpTo = labels.select(col("id").as("__jid"), col("comp").as("__jcomp"))
      val updated = GraftShim.pin(
        stepped.join(jumpTo, col("comp") === col("__jid"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("__jcomp"), col("comp"))).as("comp"),
            (least(col("comp"), coalesce(col("__jcomp"), col("comp")))
              < col("__old")).as("__chg")))
      converged = updated.filter(col("__chg")).isEmpty
      GraftShim.unpin(labels)
      labels = updated
      i += 1
    }
    GraftShim.unpin(edges)
    if (!converged)
      log.warn(s"connectedComponents: not converged after $maxIter rounds; " +
        "labels may split one true component — raise maxIter")
    labels.drop("__chg")
  }

  /** Keep one document per near-dup cluster: drops every row whose id is
    * a non-canonical (non-minimum) member of a component; rows not in
    * any pair pass through untouched.
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("comp")).select("id")
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Score-based canonical election: one row per input doc with its
    * near-dup component and a `keep` verdict — the standard "which
    * duplicate do we retain" step (keep the longest / highest-quality
    * copy, not an arbitrary one). `clusters` is a `(id, comp)` labeling
    * (e.g. [[connectedComponents]] over near-dup pairs); docs absent
    * from it are singletons — their component is their own id and they
    * always survive. Within a component the winner is the max
    * `scoreCol`, ties broken by min id, so the election is a total
    * order and reproducible run-to-run.
    *
    * Scale shape: one equi-join on the id plus a window PARTITIONED by
    * component — components are many and small (they are near-dup
    * clusters), so no single task ever sees more than one cluster.
    * Returns (idCol, comp, keep); filter `keep` to materialize the
    * deduplicated corpus, or keep the full frame as the audit log of
    * what was dropped and why.
    */
  def electCanonical(docs: DataFrame, idCol: String, scoreCol: String,
                     clusters: DataFrame): DataFrame = {
    val lab = docs.select(col(idCol), col(scoreCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    lab.withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("comp"), col("keep"))
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** 64-bit SimHash over whitespace tokens: bit b of the hash is 1 iff
    * sum over tokens of (2*bit_b(hash(token)) - 1) > 0. Computed as
    * 64 conditional sums in ONE aggregation (single shuffle by id).
    * With a narrower `hash` (e.g. the 60-bit [[TextAnalysis.md5Hash60]])
    * the high bits are always 0-majority and the simhash simply never
    * sets them — semantics unchanged.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              hash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("h", hash(col("t")))
    val bitSums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val combined = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("id"), combined.as("simhash"))
  }

  /** SimHash near-dup candidates with Hamming distance <= maxHam, found
    * by chunk banding (pigeonhole: distance <= k ⇒ at least one of k+1
    * chunks equal) — again an equi-join, never all-pairs.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHam: Int = 3,
                   hash: Column => Column = xxhash64(_)): DataFrame = {
    // chunks must fit in 64 bits: maxHam >= 64 makes width 0, every
    // non-last chunk keys to 0, and the equi-join degenerates into the
    // full O(n^2) cartesian this banding exists to avoid — and the
    // pigeonhole guarantee itself needs chunks <= 64.
    require(maxHam >= 0 && maxHam < 64,
      s"maxHam must be in [0, 63], got $maxHam")
    val chunks = maxHam + 1
    val width = 64 / chunks
    val sh = simhash(df, idCol, textCol, hash)
    // One explode, not a per-chunk unionAll (which would recompute the
    // simhash aggregation `chunks` times — see minhashCandidates).
    val chunkStructs = (0 until chunks).map { c =>
      val lo = c * width
      val w = if (c == chunks - 1) 64 - lo else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit(mask)).as("key"))
    }
    val chunkRows = sh
      .select(col("id"), col("simhash"), explode(array(chunkStructs: _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.chunk").as("chunk"),
        col("ck.key").as("key"))
    val ham = {
      val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
      bit_count(x)
    }
    chunkRows.as("a").join(chunkRows.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }
}
