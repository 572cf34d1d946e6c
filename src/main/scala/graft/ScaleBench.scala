package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder evidence: the same plans, 10× the data.
  *
  * `runMain graft.ScaleBench [baseDir] [scaledDir] [copies]` —
  * synthesizes an sf1-equivalent lake from sf0.1 (once; reused if
  * present), runs the ladder of the most expensive bench queries at
  * both scales, and prints one JSON line with per-query times, the
  * scaled/base wall-time ratio, and a plan-shape fingerprint
  * comparison. `sub_quadratic` asserts every ratio stays below
  * `copies²`; the interesting signal is how close to `copies`×
  * (linear) each family lands, and whether any plan changed shape
  * (e.g. a broadcast flipping to sort-merge) between scales.
  *
  * Synthesis = `copies` FK-CONSISTENT shifted copies of each scaled
  * table (key columns offset by copy × key-span, so joins produce
  * exactly `copies`× the rows), with `region`/`nation` held fixed the
  * way TPC-H fixes its dimension tables. Document text is made
  * DISSIMILAR PER COPY (every token carries a copy tag): without
  * that, every doc would gain `copies − 1` near-duplicates and the
  * near-dup pair count would grow quadratically BY SEMANTICS, which
  * would wrongly read as an engine scaling failure (a suffix-only tag
  * was not enough — see the synthesize note). The deliberately-quadratic correctness
  * baselines (`q_x_cosine_dups`'s all-pairs check) are excluded for
  * the same reason — SCALE.md documents them as non-scale paths.
  */
object ScaleBench {

  /** Queries EXCLUDED from the ladder: semantics (not engine) make
    * their cost non-linear in data size, so a 10× ratio would read as
    * a scaling failure that isn't one. Everything else runs.
    */
  val Excluded: Set[String] = Set(
    // exact all-pairs cosine baseline: O(n²) BY CONTRACT (the guarded
    // correctness anchor of the LSH path — see Dedup.cosineDupPairs)
    "q_x_cosine_dups")

  /** Ladder-ONLY entries (not oracled queries): plans whose scale
    * behavior matters but whose raw output is engine-specific, so the
    * driver oracle can't hash them. The pure-HLL profile is the
    * 100 TB profiling default — its correctness bridge is
    * `q_x_profile_approx` (estimates bounds-checked against exact in
    * the oracle gate); its row HERE returns the raw aggregation frame
    * so the fingerprint proves the approx plan carries no Expand node
    * (one scan, partial-aggregable HLL sketches, one reduce), while
    * the exact twin's fingerprint shows the ExpandExec it pays for
    * N exact countDistincts.
    */
  val Extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_profile_approx_plan" -> ((s, dir) =>
      graft.ops.Profile.statsPlan(
        graft.ops.Sources.table(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        approxDistinct = true)),
    "x_profile_exact_plan" -> ((s, dir) =>
      graft.ops.Profile.statsPlan(
        graft.ops.Sources.table(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        approxDistinct = false)),
    // SemDedup the way production MUST run it at 100 TB: centroid
    // count ∝ corpus size (target cluster size ~500 rows), so the
    // within-cluster pair join's Σsize² grows LINEARLY with the corpus
    // — vs the oracled q_x_semdedup fixture whose FIXED 8 seed
    // centroids make Σsize² quadratic by construction (its ladder
    // ratio measures that semantics, not the engine). The count() here
    // is index-BUILD-time sizing (once per index, never per query).
    "x_semdedup_scaled_k" -> ((s, dir) => {
      val emb = graft.ops.Sources.table(s, dir, "embeddings")
      val numLists = math.max(2L, emb.count() / 500L).toInt
      val cents = graft.ann.Similarity.buildIvfIndex(emb, numLists)
      graft.dedup.SemDedup.semDedup(emb, cents, threshold = 0.42)
        .select("vec_id")
    }),
    // BM25 SERVE cost in isolation — the index is prebuilt per dir by
    // [[Prepare]], so this row times only the retrieval: a manifest-
    // pruned posting read + Σ posting-list work. The claim it measures
    // is "serve cost ∝ query-term posting lists, NOT corpus size" —
    // on the cipher corpus the plain-text query terms exist only in
    // copy 0, so posting lists are scale-CONSTANT and the honest
    // expectation is ratio ≈ 1 however many copies the corpus holds
    // (the build cost, which IS corpus-linear, is q_x_bm25_indexed's
    // own ladder row).
    "x_bm25_serve" -> ((s, dir) =>
      graft.text.Bm25.searchIndexed(s, ladderState("bm25", dir) + "/index",
        Seq(("q1", "merge join table"), ("q2", "fast scan query"),
          ("q3", "stream window agg")), topK = 10)),
    // SemDedup SERVE cost in isolation — the model (scaled-k centroids
    // + full assignment) is prebuilt per dir by [[Prepare]], so this
    // row times only the within-cluster pair join + anti-join over the
    // stored assignments. With centroid count ∝ corpus (target cluster
    // ~500 rows) the pair work is corpus-LINEAR; the fit it excludes
    // is x_semdedup_scaled_k's own ladder row.
    "x_semdedup_serve" -> ((s, dir) =>
      graft.dedup.SemDedup.semDedupServed(s,
          ladderState("semdedup", dir) + "/model", threshold = 0.42)
        .select("vec_id")),
    // the graft_search TVF's SERVE cost in isolation (the index is
    // prebuilt by [[Prepare]]): three searches via UNION ALL of TVF
    // calls — the amortized path of q_x_sql_search, whose own row
    // carries a full in-query index build plus these serves
    "x_sql_search_serve" -> ((s, dir) => {
      val idx = ladderState("bm25", dir) + "/index"
      s.sql(
        s"""SELECT * FROM graft_search('$idx', 'merge join table', 10)
           |UNION ALL
           |SELECT * FROM graft_search('$idx', 'fast scan query', 10)
           |UNION ALL
           |SELECT * FROM graft_search('$idx', 'stream window agg', 10)
           |""".stripMargin)
    }),
    // trained-BPE SERVE cost in isolation — the merge table is
    // prebuilt per dir by [[Prepare]] (train once), so this row times
    // only tokenization: a 30-row TxTable load + one narrow codegen'd
    // pass over the corpus. The scan IS corpus-linear, so the honest
    // expectation is ratio ≈ copies; the claim is what's ABSENT — no
    // histogram shuffle, no bounded collect, no merge loop in the
    // timed body (train-once / tokenize-everywhere).
    "x_bpe_serve" -> ((s, dir) => {
      val merges = graft.text.Bpe.loadMerges(s,
        ladderState("bpe", dir) + "/merges")
      graft.ops.Sources.table(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Bpe.tokenCount(col("text"), merges)
            .as("n_bpe_sub"))
    }),
    // PQ SERVE cost in isolation — codebooks + codes prebuilt per dir
    // by [[Prepare]], so this row times only the ADC scan: one pass
    // over the m-byte code table (corpus-LINEAR but 32× lighter than
    // the float scan at dim 64/m=8) with broadcast per-query LUTs.
    // The honest expectation is ratio ≈ copies (the scan IS linear);
    // the claim is the CONSTANT: compare x_pq_serve's scaled_sec
    // against q_x_ann_brute's at the same corpus.
    "x_pq_serve" -> ((s, dir) =>
      graft.ann.Similarity.pqTopKFromCodes(s,
        ladderState("pq", dir) + "/pq",
        graft.ops.Sources.table(s, dir, "embeddings")
          .filter(col("vec_id") < 8), k = 5)))

  /** Per-dir prepared state for ladder-only entries whose timed body
    * must EXCLUDE a one-time build (the serve-vs-build split the
    * persisted-index story is about). Run once per (entry, dir) before
    * timing starts; always rebuilt — a stale index from an older
    * synthesis would silently mis-measure.
    */
  val Prepare: Map[String, (SparkSession, String) => Unit] = Map(
    "x_bm25_serve" -> ((s, dir) =>
      graft.text.Bm25.buildIndex(
        graft.ops.Sources.table(s, dir, "documents"), "doc_id", "text",
        ladderState("bm25", dir) + "/index")),
    "x_semdedup_serve" -> ((s, dir) => {
      val emb = graft.ops.Sources.table(s, dir, "embeddings")
      val numLists = math.max(2L, emb.count() / 500L).toInt
      graft.dedup.SemDedup.writeModel(emb,
        graft.ann.Similarity.buildIvfIndex(emb, numLists),
        ladderState("semdedup", dir) + "/model")
    }),
    "x_pq_serve" -> ((s, dir) => {
      graft.ann.Similarity.writePqIndex(
        graft.ops.Sources.table(s, dir, "embeddings"),
        ladderState("pq", dir) + "/pq", m = 8, ksub = 16)
      ()
    }),
    "x_bpe_serve" -> ((s, dir) => {
      graft.text.Bpe.trainToTable(
        graft.ops.Sources.table(s, dir, "documents"), "text",
        numMerges = 30, ladderState("bpe", dir) + "/merges")
      ()
    }),
    // same prepared index as x_bm25_serve (idempotent rebuild)
    "x_sql_search_serve" -> ((s, dir) =>
      graft.text.Bm25.buildIndex(
        graft.ops.Sources.table(s, dir, "documents"), "doc_id", "text",
        ladderState("bm25", dir) + "/index")))

  /** Prepared-state root for (kind, data dir). The sanitized dir name
    * alone is NOT injective (`/a/b` and `/a_b` both sanitize to
    * `_a_b`), and a collision would silently time the wrong scale's
    * index — so the RAW dir string's hash is appended to make the
    * mapping one-to-one.
    */
  private def ladderState(kind: String, dir: String): String = {
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3
      .stringHash(dir))
    s"/tmp/graft_${kind}_ladder/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_$h"
  }

  /** The FULL query surface at both scales — every SparkEntry query
    * whose semantics are linear-in-data (see [[Excluded]]), so each
    * family (core relational, dedup, ANN-served, text, tx DML/CDF,
    * SQL surface, streaming sink, sketches, packing) has a measured
    * 10× point, not just the 10 most expensive.
    * `SPARK_GRAFT_SCALE_ONLY=q_a,q_b` restricts the ladder (builder-side
    * fast iteration on one family; the driver leaves it unset).
    */
  val Ladder: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    (SparkEntry.queries.keys ++ Extra.keys).toSeq.sorted.filterNot(Excluded)
      .filter(n => only.forall(_.contains(n)))
  }

  /** Bump on ANY change to [[synthesize]] — stale cached corpora are
    * silently wrong in ways that read as operator regressions.
    * "v3" = token-level text salt + embedding sign-mask decorrelation.
    * "v6" = per-copy substitution-cipher text decorrelation (replaces
    * the per-token prefix tag, whose 3 shared chars per token inflated
    * within-copy PassJoin segment df ×8 — a fuzzy-ladder artifact).
    */
  val SynthesisVersion = "v6"

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.util.Sessions.local(graft.util.Sessions.cpus(
      Runtime.getRuntime.availableProcessors().toString))

    // the cache marker carries the SYNTHESIS VERSION *and the exact
    // synthesis inputs*: a corpus built by an older synthesize() must
    // be rebuilt, not reused — round 9's dedup ladder read 4-8x ratios
    // off a cached pre-token-salt corpus and the artifact blamed the
    // operators (the fresh corpus reads 1.4-2.6x on the same code).
    // base/copies in the marker close the sibling trap: re-running the
    // same out dir with a different copy count (10-copy vs 100-copy
    // spot ladders are both real modes) would otherwise time the OLD
    // corpus while stamping the NEW copies into the artifact.
    val markerValue = s"$SynthesisVersion:base=$base:copies=$copies"
    val marker = new java.io.File(s"$out/_SCALE_OK")
    val cachedVersion =
      try new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      catch { case _: Throwable => "" }
    if (cachedVersion != markerValue) {
      synthesize(spark, base, out, copies)
      java.nio.file.Files.write(marker.toPath, markerValue.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    }

    // warm the JVM on the small scale so sf-base numbers aren't all JIT
    spark.range(1000).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()

    // prepared state (persisted indexes) for the serve-only rows —
    // built OUTSIDE the timed region, at both scales
    Ladder.filter(Prepare.contains).foreach { n =>
      Prepare(n)(spark, base); Prepare(n)(spark, out)
    }

    // SPARK_GRAFT_PREPARE_SETTLE=<sec>: optionally sit out the
    // loadavg decay the Prepare rebuilds leave behind, so load_pre
    // describes the MEASUREMENT window instead of the build's wake —
    // the r14 full ladder and the first r15 serve ladder both had to
    // annotate their stamps as "Prepare-decay, ratios internal";
    // with the settle the artifact's absolutes stand on their own.
    sys.env.get("SPARK_GRAFT_PREPARE_SETTLE").map(_.toInt).foreach { sec =>
      System.err.println(s"[scale] settling ${sec}s after Prepare " +
        "(loadavg decay before the stamp)")
      Thread.sleep(sec * 1000L)
      // the idle window cools what the pre-Prepare warm-up heated
      // (JIT state, page cache over the base tables): without a
      // re-warm the FIRST timed rows pay the settle as fake base
      // cost (measured: x_bm25_serve base 4.09 s post-settle vs
      // 1.03 s warm — a 0.45 "ratio" that was really cold-start).
      // One untimed base-scale pass per row re-warms exactly what
      // the timed base reps will touch; settle mode is for SPOT
      // ladders, so the extra pass is bounded by a handful of rows.
      Ladder.foreach { n =>
        (SparkEntry.queries ++ Extra)(n)(spark, base)
          .write.format("noop").mode("overwrite").save()
      }
    }

    // stamped AFTER synthesis + prepare and BEFORE any timed row: a
    // 100-copy synthesis saturates the host for minutes, and a stamp
    // taken around it describes the build, not the measurement window
    // (round 12's sf10 artifact contradicted its own "quiet window"
    // prose exactly this way). load_post then brackets the runs.
    val loadPre = graft.util.Host.loadavg()

    def time(name: String, dir: String): (Double, String) = {
      val t0 = System.nanoTime()
      val df = (SparkEntry.queries ++ Extra)(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, fingerprint(df))
    }

    val rows = Ladder.map { name =>
      // base twice (min absorbs one-off JIT), scaled once (its cost
      // dominates and relative noise is small at 10×)
      val (b1, fp1) = time(name, base)
      val (b2, _) = time(name, base)
      val tb = math.min(b1, b2)
      val (ts, fp2) = time(name, out)
      val stable = fp1 == fp2
      System.err.println(f"[scale] $name%-28s base=$tb%6.2fs " +
        f"scaled=$ts%7.2fs ratio=${ts / tb}%5.2f planStable=$stable")
      (name, tb, ts, ts / tb, stable)
    }

    def f(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = rows.map { case (n, tb, ts, r, st) =>
      s""""$n":{"base_sec":${f(tb)},"scaled_sec":${f(ts)},"ratio":${f(r)},"plan_stable":$st}"""
    }.mkString("{", ",", "}")
    val subQuadratic = rows.forall(_._4 < copies.toDouble * copies)
    // same contention stamps as Bench: ratios are internal (base and
    // scaled inflate together) but absolute numbers are compared across
    // rounds, so the artifact says whether the MEASUREMENT window was
    // quiet — load_pre (post-synthesis, pre-timing) is the operative
    // stamp; load_post brackets the runs
    val loadPreJson = loadPre.map(f).mkString("[", ",", "]")
    val loadPostJson = graft.util.Host.loadavg().map(f)
      .mkString("[", ",", "]")
    val line = s"""{"metric":"scale_ladder",""" +
      s""""base":${graft.util.Host.jsonStr(base)},""" +
      s""""scaled":${graft.util.Host.jsonStr(out)},""" +
      s""""copies":$copies,"load_pre":$loadPreJson,""" +
      s""""load_post":$loadPostJson,""" +
      // local[N]'s N, as graft.Bench stamps it
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""queries":$qs,"sub_quadratic":$subQuadratic}"""
    println(line)
    // full-surface ladders are several KB — keep a self-contained
    // artifact beside the stdout line (same rationale as Bench)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_BENCH.json")),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Operator-shape fingerprint of the query's initial physical plan:
    * the sorted distinct set of Exec node names. Join-strategy or
    * aggregation-mode changes between scales show up here; partition
    * counts and AQE runtime re-planning deliberately do not (they are
    * SUPPOSED to differ with data size).
    */
  private def fingerprint(df: DataFrame): String =
    """\b(\w+Exec)\b""".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSet.toSeq.sorted.mkString(",")

  /** `copies` FK-consistent shifted copies of every scaled table into
    * `out` (dims `region`/`nation` copied fixed).
    */
  def synthesize(spark: SparkSession, base: String, out: String,
                 copies: Int): Unit = {
    def rd(n: String) = graft.ops.Sources.table(spark, base, n)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getAs[Number](0).longValue() + 1

    val cSpan = maxOf(rd("customer"), "c_custkey")
    val sSpan = maxOf(rd("supplier"), "s_suppkey")
    val pSpan = maxOf(rd("part"), "p_partkey")
    val oSpan = maxOf(rd("orders"), "o_orderkey")
    val dSpan = maxOf(rd("documents"), "doc_id")
    val vSpan = maxOf(rd("embeddings"), "vec_id")
    val eSpan = maxOf(rd("events"), "event_id")
    val uSpan = maxOf(rd("events"), "user_id")

    def scaled(name: String, shifts: Map[String, Long],
               perCopy: (DataFrame, Int) => DataFrame = (d, _) => d)
        : DataFrame =
      (0 until copies).map { i =>
        val shifted = shifts.foldLeft(rd(name)) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(span * i))
        }
        perCopy(shifted, i)
      }.reduce(_.unionByName(_))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scale] synthesized $name")
    }

    write("region", rd("region"))
    write("nation", rd("nation"))
    write("customer", scaled("customer", Map("c_custkey" -> cSpan)))
    write("supplier", scaled("supplier", Map("s_suppkey" -> sSpan)))
    // per-copy name tag with pairwise edit distance 4 (" iiii"; copy 0
    // untagged): without it every p_name exists verbatim in all copies
    // and the edit-distance join's pair count grows copies² BY
    // SEMANTICS (the fuzzy-join analog of the text/embedding cliques
    // fixed below). A shared suffix leaves WITHIN-copy Levenshtein
    // distances exactly unchanged, so the ladder measures the engine.
    write("part", scaled("part", Map("p_partkey" -> pSpan),
      (d, i) =>
        if (i == 0) d
        else d.withColumn("p_name",
          concat(col("p_name"), lit(" " + i.toString * 4)))))
    write("orders", scaled("orders",
      Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)))
    write("lineitem", scaled("lineitem",
      Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan, "l_suppkey" -> sSpan)))
    write("events", scaled("events",
      Map("event_id" -> eSpan, "user_id" -> uSpan)))
    // per-copy deterministic ±1 diagonal mask: flipping a fixed sign
    // pattern is an ORTHOGONAL transform, so every within-copy cosine
    // is preserved exactly while cross-copy copies of the same vector
    // decorrelate (E[cos] = 0 under independent sign patterns). Without
    // it each vector exists verbatim in all `copies` copies, they land
    // in the same LSH bucket, and cosine-pair counts grow copies² BY
    // SEMANTICS — the embedding analog of the document-text clique the
    // token salt fixes above.
    write("embeddings", scaled("embeddings", Map("vec_id" -> vSpan),
      (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"),
            (x, j) => when(pmod(xxhash64(lit(i), j), lit(2)) === 0, -x)
              .otherwise(x)))))
    // Text decorrelates per copy via a SUBSTITUTION CIPHER — a
    // per-copy bijective relabeling of letters (case-consistent) and
    // digits, applied with codegen'd translate(). Equality patterns
    // between symbols are invariant under a bijection, so EVERY
    // within-copy relation is preserved EXACTLY: shingle sets relabel
    // consistently (jaccard/minhash/span structure unchanged),
    // Levenshtein distances are identical, token boundaries, lengths
    // and n_chars never move — the edit-distance analog of the
    // embeddings' orthogonal sign mask below. Cross-copy, the same
    // document differs in essentially every character, so shingle
    // overlap and edit-distance candidate keys both vanish and pair
    // counts scale linearly with copies (the ladder measures the
    // ENGINE, not a synthesis clique).
    //
    // History, because every earlier scheme was an artifact factory:
    // a document-suffix tag (rounds 7-8) left cross-copy jaccard ≈ 1 —
    // 10-copy near-dup cliques, edge sets ~copies², q_x_dedup_clusters
    // read 11.7-15x with an innocent engine. A per-TOKEN suffix tag
    // kept every token's first 8+ chars identical across copies, so
    // PassJoin first-segment keys collided copies-wide (Σdf² ×287).
    // The round-9/10 per-token PREFIX tag ("q3zstream") fixed the
    // cross-copy collisions but CONSUMED 3 of the 8 segment chars
    // within each copy — every copy-i head shared the same 3-char
    // prefix, within-copy first-segment df inflated ~×8, and the
    // round-10 fuzzy ladder read 5.8x measuring that. The cipher has
    // no shared characters by construction, in either direction.
    write("documents", scaled("documents", Map("doc_id" -> dSpan),
      (d, i) =>
        if (i == 0) d
        else {
          val rnd = new scala.util.Random(0xC0FFEE + i)
          val lo = rnd.shuffle(('a' to 'z').toList).mkString
          val dg = rnd.shuffle(('0' to '9').toList).mkString
          val src = ('a' to 'z').mkString + ('A' to 'Z').mkString +
            ('0' to '9').mkString
          d.withColumn("text",
            translate(col("text"), src, lo + lo.toUpperCase + dg))
        }))
  }
}
