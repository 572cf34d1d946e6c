package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Datasketches HLL, via Spark's
  * codegen'd `hll_sketch_agg` family) — north-star extension: the
  * reference has only exact `countDistinct` (SURVEY §2.4 A4).
  *
  * Why sketches at 100 TB: exact distinct is a full shuffle of every
  * distinct value per group, and it does not COMPOSE — yesterday's
  * result cannot absorb today's increment. A sketch is a few KB per
  * group, unions losslessly (register-wise max, commutative and
  * idempotent), and so supports the shard → union → estimate shape:
  * sketch each partition/day/table independently (map-side, tiny
  * shuffle), persist the sketches (e.g. in a [[TxTable]]), and answer
  * "distinct users over any day range" by unioning a handful of
  * binaries — no rescan of the data. Error is ~1.04/sqrt(2^lgK)
  * (~1.6% at the default lgK=12) regardless of cardinality.
  */
object Sketches {

  /** Per-group HLL sketch of `value` — the partial for later union.
    * Deterministic for a given input set (hashing is seeded-fixed and
    * union is order-insensitive).
    */
  def hllSketch(df: DataFrame, groupCols: Seq[Column], value: Column,
                lgK: Int = 12): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(hll_sketch_agg(value, lit(lgK)).as("hll"))

  /** Union previously built sketches up to a coarser grouping (e.g.
    * per-day sketches → per-month distinct). Input needs an `hll`
    * binary column as produced by [[hllSketch]].
    */
  def hllUnion(sketches: DataFrame, groupCols: Seq[Column]): DataFrame =
    sketches.groupBy(groupCols: _*)
      // allowDifferentLgConfigK: sketch tables accumulate over time and
      // lgK tuning changes (hllSketch takes it per call) — HLL union
      // down to the smaller K is well-defined, so don't throw on mixed
      // precision, degrade to the coarsest
      .agg(hll_union_agg(col("hll"), lit(true)).as("hll"))

  /** Estimated distinct count of a sketch column. */
  def estimate(sketch: Column): Column =
    hll_sketch_estimate(sketch).as("approx_distinct")

  /** One-shot approximate distinct per group (build + estimate). */
  def approxDistinct(df: DataFrame, groupCols: Seq[Column], value: Column,
                     lgK: Int = 12): DataFrame =
    hllSketch(df, groupCols, value, lgK)
      .withColumn("approx_distinct", hll_sketch_estimate(col("hll")))
      .drop("hll")

  /** Grouped correctness bridge for the HLL path (the per-group
    * sibling of [[Profile.profileChecked]]): runs the sketch AND an
    * exact countDistinct per group and emits `(group, n_distinct,
    * hll_ok)` — the exact count is the hashable payload, `hll_ok`
    * asserts the estimate sits within ±tol relative (floored at ±1
    * absolute, so tiny groups aren't held to a fraction). Default tol
    * 0.2 ≈ 4× the lgK=12 rsd — outside honest HLL noise, so a false
    * flag is an estimator defect. Production runs [[approxDistinct]]
    * alone (plain partial-aggregable HLL, no Expand); the exact pass
    * exists only in this check.
    */
  def approxDistinctChecked(df: DataFrame, groupCol: String, value: Column,
                            lgK: Int = 12, tol: Double = 0.2): DataFrame = {
    require(tol > 0, "tol must be positive")
    val ap = approxDistinct(df, Seq(col(groupCol)), value, lgK)
    val g2 = graft.util.Cols.fresh(df.columns :+ "approx_distinct", "__g2")
    val ex = df.groupBy(col(groupCol))
      .agg(countDistinct(value).as("n_distinct"))
      .withColumnRenamed(groupCol, g2)
    ap.join(ex, col(groupCol) <=> col(g2))
      .select(col(groupCol), col("n_distinct"),
        (abs(col("approx_distinct") - col("n_distinct")) <=
          greatest(lit(1.0), col("n_distinct") * tol)).as("hll_ok"))
  }

  // ---- mergeable quantiles (Datasketches KLL) -------------------------
  // Same shard → union → query decomposition as the HLL family, for
  // order statistics: exact per-group quantiles are a full sort that
  // doesn't compose across days/shards; a KLL sketch is a few KB with
  // ~1.65% normalized rank error at the default k=200 and unions
  // losslessly w.r.t. that bound. Backed by native
  // TypedImperativeAggregates ([[graft.functions.KllDoublesAgg]]) —
  // the sketch object lives in the agg buffer, serializing only at
  // shuffle, exactly like Spark's own hll_sketch_agg.

  private def aggCol(e: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    org.apache.spark.sql.GraftShim.toColumn(e.toAggregateExpression())

  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftShim.toExpression(
      org.apache.spark.sql.SparkSession.active, c)

  /** Per-group KLL quantile sketch of `value` — binary column `kll`. */
  def kllSketch(df: DataFrame, groupCols: Seq[Column], value: Column,
                k: Int = 200): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(aggCol(graft.functions.KllDoublesAgg(
        exprOf(value.cast("double")), k)).as("kll"))

  /** Union previously built KLL sketches up to a coarser grouping. */
  def kllUnion(sketches: DataFrame, groupCols: Seq[Column],
               k: Int = 200): DataFrame =
    sketches.groupBy(groupCols: _*)
      .agg(aggCol(graft.functions.KllMergeAgg(
        exprOf(col("kll")), k)).as("kll"))

  /** Quantile values at `probs` from a sketch column (array<double>). */
  def kllQuantiles(sketch: Column, probs: Seq[Double]): Column =
    org.apache.spark.sql.GraftShim.toColumn(
      graft.functions.KllQuantilesExpr(exprOf(sketch), probs))

  /** One-shot approximate per-group quantiles (build + extract). */
  def approxQuantiles(df: DataFrame, groupCols: Seq[Column], value: Column,
                      probs: Seq[Double], k: Int = 200): DataFrame =
    kllSketch(df, groupCols, value, k)
      .withColumn("quantiles", kllQuantiles(col("kll"), probs))
      .drop("kll")

  /** The correctness bridge for KLL quantiles, mirroring
    * [[Profile.profileChecked]]'s posture: production runs the
    * mergeable sketch plan alone; this check runs BOTH the sketch and
    * an exact rank-element pass and emits, per (group, prob):
    *
    *  - `exact_q` — the value at rank max(1, ceil(prob·n)) in the
    *    group's ascending order (the lower empirical quantile — a rank
    *    ELEMENT, never interpolated, so it is bit-identical across
    *    engines and the hashable payload);
    *  - `kll_ok` — whether the sketch's estimate is plausible: its
    *    achieved rank interval [count(v < est)/n, count(v ≤ est)/n]
    *    must intersect [prob − tol, prob + tol]. Default tol 0.02 ≈
    *    2.5× KLL's k=200 normalized rank error — far outside honest
    *    sketch noise, so a false flag is an estimator defect.
    *
    * Exact ranks ride [[Prefix.groupRowNumber]] (few-huge-groups
    * distributed rank), so even the check side never funnels a group
    * through one task.
    */
  def approxQuantilesChecked(df: DataFrame, groupCol: String, value: Column,
                             probs: Seq[Double], k: Int = 200,
                             tol: Double = 0.02): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "probs must lie strictly inside (0, 1)")
    require(tol > 0, "tol must be positive")
    val data = df.select(col(groupCol), value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val est = approxQuantiles(data, Seq(col(groupCol)), col("__v"), probs, k)
      .select(col(groupCol), posexplode(col("quantiles")).as(Seq("__i", "__est")))
    quantileEnvelope(data, est, groupCol, probs, tol)
  }

  /** The shared envelope check: `est` is (groupCol, __i, __est) — an
    * estimate per (group, prob index), from any source (one-shot
    * sketch or a served sketch table); `data` the raw (groupCol, __v)
    * rows. Emits (group, prob, exact_q, kll_ok): exact rank-element
    * quantiles as the hashable payload, kll_ok asserting the
    * estimate's achieved-rank interval meets prob ± tol.
    */
  private def quantileEnvelope(data: DataFrame, est: DataFrame,
                               groupCol: String, probs: Seq[Double],
                               tol: Double): DataFrame = {
    val spark = data.sparkSession
    import org.apache.spark.sql.types._
    val probsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probs.zipWithIndex.map { case (p, i) =>
        org.apache.spark.sql.Row(i, p) }, 1),
      StructType(Seq(StructField("__i", IntegerType, nullable = false),
        StructField("__p", DoubleType, nullable = false))))

    val ranked = Prefix.groupRowNumber(data, groupCol,
      Seq(col("__v").asc), "__rn")
    val counts = data.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val exact = counts.crossJoin(broadcast(probsDf))
      .withColumn("__target",
        greatest(lit(1L), ceil(col("__p") * col("__n"))))
      .join(ranked, Seq(groupCol))
      .filter(col("__rn") === col("__target"))
      .select(col(groupCol), col("__i"), col("__p"), col("__n"),
        col("__v").as("exact_q"))

    // achieved rank interval of each estimate within its group
    val achieved = data.join(broadcast(est), Seq(groupCol))
      .groupBy(col(groupCol), col("__i"))
      .agg(sum(when(col("__v") < col("__est"), 1L).otherwise(0L)).as("__lt"),
        sum(when(col("__v") <= col("__est"), 1L).otherwise(0L)).as("__le"))

    exact.join(achieved, Seq(groupCol, "__i"))
      .select(col(groupCol), col("__p").as("prob"), col("exact_q"),
        ((col("__lt").cast("double") / col("__n") <= col("__p") + tol) &&
          (col("__le").cast("double") / col("__n") >= col("__p") - tol))
          .as("kll_ok"))
  }

  // ---- mergeable heavy hitters (Datasketches frequent items) ----------

  /** Per-group frequent-items sketch of string `item` — binary column
    * `freq`. `maxMapSize` (power of 2) bounds memory and sets the
    * error floor (estimates exact within n·3.5/maxMapSize).
    */
  def freqSketch(df: DataFrame, groupCols: Seq[Column], item: Column,
                 maxMapSize: Int = 1024): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(aggCol(graft.functions.FreqItemsAgg(
        exprOf(item), maxMapSize)).as("freq"))

  /** Union previously built frequent-items sketches. */
  def freqUnion(sketches: DataFrame, groupCols: Seq[Column],
                maxMapSize: Int = 1024): DataFrame =
    sketches.groupBy(groupCols: _*)
      .agg(aggCol(graft.functions.FreqMergeAgg(
        exprOf(col("freq")), maxMapSize)).as("freq"))

  /** Top-k heavy hitters from a sketch column, estimate-descending,
    * no false positives: array<struct<item, estimate, lower, upper>>.
    */
  def freqTopItems(sketch: Column, k: Int): Column =
    org.apache.spark.sql.GraftShim.toColumn(
      graft.functions.FreqTopItemsExpr(exprOf(sketch), k))

  // ---- persisted sketch tables: the incremental-analytics lifecycle
  //
  // "Distinct users per <anything> over <any date range>" is the
  // query that makes warehouses rescan history: COUNT(DISTINCT) does
  // not compose across days. Mergeable sketches do — so the engine's
  // uniform index-lifecycle story (BM25 postings, IVF lists, SQ/PQ
  // codes, SemDedup assignments) gets an analytics member: per-grain
  // HLL sketches persisted as a TxTable, new grains appended in
  // O(batch) (only the batch is sketched — history is never re-read),
  // range queries served by UNIONING stored sketches (a few KB per
  // grain however big the day was). HLL union is register-max:
  // idempotent and commutative, so re-ingesting an overlapping grain
  // cannot inflate a DISTINCT (the property sums never have). lgK
  // rides in carried manifest meta so every append sketches at the
  // table's own precision.

  private[ops] val LgKMetaKey = "graft.sketch.lgk"

  /** Build the grain-sketch table: one row per `grainCols` value
    * holding the HLL sketch of `value` within that grain. Overwrite
    * commit carrying lgK in manifest meta. Returns the version.
    */
  def writeHllGrains(df: DataFrame, path: String, grainCols: Seq[String],
                     value: Column, lgK: Int = 12): Long =
    TxTable.overwrite(df.sparkSession, path,
      hllSketch(df, grainCols.map(col), value, lgK),
      meta = Map(LgKMetaKey -> lgK.toString))

  /** Sketch ONLY `df` (the new grains' raw rows) at the table's own
    * lgK and append — O(batch), one atomic commit; history is never
    * re-read. Appending rows of an already-present grain is safe for
    * DISTINCT semantics (serve unions all of the grain's sketches,
    * and HLL union is idempotent) — it is NOT an update protocol for
    * non-distinct measures. A grain SPLIT across appends serves
    * envelope-equal, not bit-equal, to the unsplit sketch: unions are
    * register-exact in dense mode, but in the sparse/coupon regime
    * (small distinct counts) a split can drift by a count or two —
    * inside the estimator's own error either way (spec-pinned).
    * `txn = Some((app, batchId))` makes the append replay-safe for a
    * `foreachBatch` driver (the [[graft.text.Bm25.appendToIndex]]
    * contract) — a replayed HLL batch is SEMANTICALLY harmless
    * (register-max union is idempotent) but still costs a duplicate
    * grain row per replay; the token keeps the table clean.
    */
  def appendHllGrains(spark: org.apache.spark.sql.SparkSession,
                      path: String, df: DataFrame,
                      grainCols: Seq[String], value: Column,
                      txn: Option[(String, Long)] = None,
                      maintain: Option[TxTable.Maintenance] = None)
      : Long =
    // grain columns are the serve filter key — maintenance keeps range
    // pruning tight while collapsing the per-batch files
    TxTable.appendIncrement(spark, path, txn, grainCols, maintain) { s =>
      val lgK = s.meta.getOrElse(LgKMetaKey, sys.error(
        s"$path is not a sketch table (no $LgKMetaKey meta — build it " +
          "with Sketches.writeHllGrains)")).toInt
      (hllSketch(df, grainCols.map(col), value, lgK),
        Map(LgKMetaKey -> lgK.toString), Map.empty)
    }

  /** Serve approximate distincts from the stored sketches: filter the
    * grain rows (`where` — e.g. a date range; column-pruned,
    * stats-pruned TxTable read), union up to `groupCols`, estimate.
    * Reads a few KB per grain — never the raw history.
    */
  def hllServe(spark: org.apache.spark.sql.SparkSession, path: String,
               groupCols: Seq[String],
               where: Column = lit(true)): DataFrame =
    hllUnion(TxTable.read(spark, path).filter(where),
        groupCols.map(col))
      .withColumn("approx_distinct", hll_sketch_estimate(col("hll")))
      .drop("hll")

  // the KLL member of the same lifecycle: per-grain quantile sketches,
  // O(batch) appended, range quantiles served by lossless-within-
  // error union — "p95 latency over any date range" without a
  // history rescan

  private[ops] val KllKMetaKey = "graft.sketch.kllk"

  /** Build the KLL grain table (k in carried meta). */
  def writeKllGrains(df: DataFrame, path: String, grainCols: Seq[String],
                     value: Column, k: Int = 200): Long =
    TxTable.overwrite(df.sparkSession, path,
      kllSketch(df, grainCols.map(col), value, k),
      meta = Map(KllKMetaKey -> k.toString))

  /** Sketch ONLY the batch at the table's own k and append.
    * `txn = Some((app, batchId))` makes the append replay-safe — and
    * HERE it is load-bearing, not just hygiene: unlike HLL's
    * idempotent register-max, re-merging a replayed KLL sketch
    * double-weights its rows and SHIFTS every served quantile, so a
    * `foreachBatch` maintainer without the token silently corrupts
    * the percentiles on its first checkpoint replay.
    */
  def appendKllGrains(spark: org.apache.spark.sql.SparkSession,
                      path: String, df: DataFrame,
                      grainCols: Seq[String], value: Column,
                      txn: Option[(String, Long)] = None,
                      maintain: Option[TxTable.Maintenance] = None)
      : Long =
    TxTable.appendIncrement(spark, path, txn, grainCols, maintain) { s =>
      val k = s.meta.getOrElse(KllKMetaKey, sys.error(
        s"$path is not a KLL sketch table (no $KllKMetaKey meta — " +
          "build it with Sketches.writeKllGrains)")).toInt
      (kllSketch(df, grainCols.map(col), value, k),
        Map(KllKMetaKey -> k.toString), Map.empty)
    }

  /** Quantiles at `probs` from the stored sketches over a grain
    * filter: (groupCols..., quantiles array<double>).
    */
  def kllServe(spark: org.apache.spark.sql.SparkSession, path: String,
               groupCols: Seq[String], probs: Seq[Double],
               where: Column = lit(true)): DataFrame = {
    // k and the sketches from one snapshot
    val s = TxTable.snapshotAt(spark, path, None)
    val k = s.meta.getOrElse(KllKMetaKey, sys.error(
      s"$path is not a KLL sketch table (no $KllKMetaKey meta)")).toInt
    kllUnion(TxTable.readSnapshot(s).filter(where), groupCols.map(col), k)
      .withColumn("quantiles", kllQuantiles(col("kll"), probs))
      .drop("kll")
  }

  /** [[approxQuantilesChecked]]'s served sibling: quantiles from the
    * STORED grain sketches, envelope-checked against exact
    * rank-element quantiles recomputed from `raw` — the correctness
    * bridge the q_x_kll_grains oracle gates (production serves
    * [[kllServe]] alone).
    */
  def kllServeChecked(spark: org.apache.spark.sql.SparkSession,
                      path: String, raw: DataFrame, groupCol: String,
                      value: Column, probs: Seq[Double],
                      tol: Double = 0.02): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      "probs must lie strictly inside (0, 1)")
    require(tol > 0, "tol must be positive")
    val data = raw.select(col(groupCol), value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val est = kllServe(spark, path, Seq(groupCol), probs)
      .select(col(groupCol),
        posexplode(col("quantiles")).as(Seq("__i", "__est")))
    quantileEnvelope(data, est, groupCol, probs, tol)
  }
}
