package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregations, Casting, Harmonize, Joins, Packing, Prefix, Profile, Projections, Sampling, Sources, Windows}
import graft.ann.Similarity
import graft.dedup.Dedup
import graft.events.EventWindows
import graft.multimodal.Multimodal
import graft.text.{Bpe, LmScore, TextAnalysis}

/** Driver contract (see SURVEY.md §7): every operator from SURVEY.md §2 —
  * plus the LLM-training-data extensions — exposed as a named query over
  * the harness tables, with an equivalent DuckDB oracle SQL where the
  * semantics are ANSI-SQL-expressible.
  *
  * Cross-engine determinism rules used throughout (so value hashes match
  * DuckDB bit-for-bit):
  *  - double sums go through DECIMAL accumulation ([[Aggregations.moneySum]]):
  *    IEEE addition is non-associative, so a parallel double sum is not
  *    reproducible; decimal sums are exact. A double can never be exactly a
  *    2-/4-decimal rounding midpoint ((2k+1)/200 has a factor 5^n in the
  *    denominator, which binary floats cannot represent), so both engines
  *    round identically when casting to the decimal.
  *  - every query output carries a total ORDER BY (both sides).
  *  - timestamps are emitted as strings or dates, never raw TIMESTAMP
  *    (avoids instant-vs-naive encoding mismatches across engines).
  *  - aggregate/computed columns are aliased to the SAME name in both the
  *    Spark code and the oracle SQL.
  */
object SparkEntry {

  /** Temp root for queries that land throwaway TxTables; deleted at
    * JVM exit (deletion cannot happen inside the query builder — the
    * returned frame is materialized by the caller AFTER it returns).
    * Without this every Bench/Verify round leaks a full table copy
    * into /tmp.
    */
  // ONE statically-registered hook draining a queue — a hook Thread
  // per call would accumulate unboundedly across Bench's repeated
  // query invocations (ApplicationShutdownHooks retains every one
  // until JVM exit)
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    var d = tmpDirs.poll()
    while (d != null) { rm(d.toFile); d = tmpDirs.poll() }
  }))

  private def tmpQueryDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** Fixed merge table for `q_x_text_bpe_tokens` — rank-ordered and
    * HIERARCHY-CLOSED (every pair's parts are single characters or
    * earlier-rank merges), which is what makes sequential rank-order
    * application equivalent to the encoder's min-rank loop and lets the
    * DuckDB oracle mirror it with nested replaces. Common English
    * merges; the leading-space merge exercises the GPT-2-style
    * space-rides-with-the-word pre-token shape.
    */
  private val PinnedBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), (" ", "the"))

  /** Flagship composed query (scan → window → agg → join → project; the
    * shape of the reference's gold-player job, `aws-job-silver-to-gold-player/
    * aws-job-silver-to-gold-player.py:34-75`). Driver smoke-checks rows>0
    * at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  /** Per-customer totals + countDistinct(order dates) + latest-order
    * window join + customer-dim enrichment (W1+A1+A4+A7+J1+J4 composed).
    */
  private def flagship(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val latest = Windows
      .topOnePerGroup(o, Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"),
        col("o_orderkey").as("latest_order_key"),
        col("o_orderdate").cast("date").as("latest_order_date"))
    val sums = o.groupBy("o_custkey").agg(
      Aggregations.moneySum(col("o_totalprice")).as("total_spend"),
      countDistinct(col("o_orderdate")).as("order_days"),
      count(lit(1)).as("n_orders"),
      (Aggregations.moneySum(col("o_totalprice")) / count(lit(1))).as("avg_spend"))
    val c = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    Joins.enrichUsing(
        Joins.enrichUsing(sums, latest, Seq("o_custkey")),
        c, Seq("o_custkey"), broadcastDim = true)
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- queries

  // lazy val, not def: Bench and perfbench index this per query name —
  // a def would rebuild the whole 64-entry map (and its closures)
  // inside Bench's timed window on every lookup
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity: scans / projections / filters (S1, P1-P6, D1)
    "q_s1_scan_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_p1_drop" -> ((s, dir) =>
      Projections.dropCols(t(s, dir, "customer"), Seq("c_acctbal", "c_mktsegment"))
        .orderBy("c_custkey")),

    "q_p2_wide_select" -> ((s, dir) => {
      val o = t(s, dir, "orders").as("o")
      val c = t(s, dir, "customer").as("c")
      Joins.enrich(o, c, col("o.o_custkey") === col("c.c_custkey"))
        .select(col("o.o_orderkey"), col("o.o_totalprice"), col("c.c_name"),
          col("c.c_acctbal"), col("o.o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    "q_p3_rename" -> ((s, dir) =>
      Projections.renameAll(t(s, dir, "customer"), Map(
          "c_custkey" -> "customer_id", "c_name" -> "customer_name",
          "c_acctbal" -> "account_balance"))
        .orderBy("customer_id")),

    "q_p4_derived" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("net_price", col("l_extendedprice") * (lit(1) - col("l_discount")))
        .withColumn("gross_price",
          (col("l_extendedprice") * (lit(1) - col("l_discount"))) * (lit(1) + col("l_tax")))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "net_price", "gross_price")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_p6_conditional" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_acctbal").isNotNull && col("c_acctbal") > 0, lit(1))
            .otherwise(when(col("c_acctbal") < 0, lit(-1)).otherwise(lit(0)))
            .as("balance_sign"))
        .orderBy("c_custkey")),

    "q_d1_downcast" -> ((s, dir) =>
      Casting.safeDowncastLongs(t(s, dir, "lineitem"))
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- joins (J1-J4)
    "q_j1_join_key" -> ((s, dir) => {
      val o = t(s, dir, "orders").as("o")
      val c = t(s, dir, "customer").as("c")
      Joins.enrich(o, c, col("o.o_custkey") === col("c.c_custkey"))
        .select(col("o.o_orderkey"), col("o.o_custkey"), col("c.c_name"),
          col("c.c_mktsegment"))
        .orderBy("o_orderkey")
    }),

    "q_j2_computed_key" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").as("l")
      val o = t(s, dir, "orders").as("o")
      Joins.enrich(l, o,
          col("l.l_orderkey") === col("o.o_orderkey") &&
            year(col("l.l_shipdate")) === year(col("o.o_orderdate")))
        .select(col("l.l_orderkey"), col("l.l_linenumber"),
          year(col("l.l_shipdate")).as("ship_year"), col("o.o_orderstatus"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_j3_derived_key" -> ((s, dir) => {
      val fact = t(s, dir, "customer").withColumn("nat_tag",
        concat_ws("-", lit("nat"), col("c_nationkey").cast("string")))
      val dim = t(s, dir, "nation").withColumn("nat_tag",
        concat_ws("-", lit("nat"), col("n_nationkey").cast("string")))
        .select("nat_tag", "n_name")
      Joins.enrichUsing(fact, dim, Seq("nat_tag"), broadcastDim = true)
        .select("c_custkey", "nat_tag", "n_name")
        .orderBy("c_custkey")
    }),

    "q_j4_using" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      Joins.enrichUsing(o, dim, Seq("o_custkey"), broadcastDim = true)
        .select("o_orderkey", "o_custkey", "c_name")
        .orderBy("o_orderkey")
    }),

    // ---- aggregations (A1-A7)
    "q_a1_multisum" -> ((s, dir) =>
      Aggregations.multiAgg(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(
            Aggregations.moneySum(col("l_quantity")).as("sum_qty"),
            Aggregations.moneySum(col("l_extendedprice")).as("sum_base_price"),
            Aggregations.moneySum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("sum_disc_price"),
            count(lit(1)).as("count_order")))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_a2_dynamic" -> ((s, dir) =>
      Aggregations.dynamicIntSums(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_a4_countdistinct" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("distinct_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")),

    "q_a5_dropdup" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
        .orderBy("o_orderstatus", "o_orderpriority")),

    "q_a7_postagg" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(
          Aggregations.moneySum(col("o_totalprice")).as("total_price"),
          count(lit(1)).as("n_orders"),
          (Aggregations.moneySum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
        .orderBy("o_orderstatus")),

    "q_x_scd2" -> ((s, dir) => {
      // order-status history per customer as an SCD2 build: dedupe to
      // one snapshot per (key, ts) first — ties would make run
      // numbering order-dependent
      val snaps = Windows.topOnePerGroup(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey").desc))
        .select("o_custkey", "o_orderdate", "o_orderstatus")
      graft.ops.Scd.type2(snaps, Seq("o_custkey"), "o_orderdate",
          Seq("o_orderstatus"))
        .select(col("o_custkey"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          col("o_orderstatus"), col("is_current"))
        .orderBy("o_custkey", "valid_from")
    }),

    // scalar quantile columns, not one array column: the driver's
    // comparator hashes cell values and cannot sort array cells
    // (CORRECTNESS_r02: "unhashable type: numpy.ndarray")
    "q_x_quantiles" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus")
        .agg(
          percentile(col("o_totalprice"), lit(0.25)).as("p25"),
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.75)).as("p75"),
          percentile(col("o_totalprice"), lit(0.99)).as("p99"))
        .orderBy("o_orderstatus")),

    "q_x_validate" -> ((s, dir) =>
      graft.ops.Validation.check(t(s, dir, "orders"), Seq(
          "positive_price" -> (col("o_totalprice") > 0),
          "custkey_not_null" -> col("o_custkey").isNotNull,
          "known_status" -> col("o_orderstatus").isin("O", "F", "P"),
          "date_in_range" -> (year(col("o_orderdate")) between(1990, 2000))))
        .orderBy("rule")),

    "q_x_weighted_mean" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.functions.WeightedMean.of("l_extendedprice", "l_quantity")
          .as("wavg_price"))
        .orderBy("l_returnflag")),

    // ---- window (W1)
    "q_w1_latest" -> ((s, dir) =>
      Windows.topOnePerGroup(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey").as("latest_order_key"),
          col("o_orderdate").cast("date").as("latest_order_date"),
          col("o_totalprice").as("latest_price"))
        .orderBy("o_custkey")),

    // ---- beyond-reference standard analytics surface (SURVEY §2.6/2.7
    // list sorts/limits and set ops as absent in the reference; a
    // complete engine needs them)
    "q_x_global_topk" -> ((s, dir) =>
      Windows.globalTopK(t(s, dir, "orders"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 100)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    "q_x_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      val withOrders = c.select("c_custkey").intersect(buyers)
      val withoutOrders = c.select("c_custkey").except(buyers)
      withOrders.withColumn("has_orders", lit(1))
        .unionByName(withoutOrders.withColumn("has_orders", lit(0)))
        .orderBy("c_custkey")
    }),

    "q_x_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("semi").as("side"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("anti").as("side"))
      semi.unionByName(anti).orderBy("c_custkey", "side")
    }),

    // salted skew join under oracle: HALF of lineitem lands on one hot
    // key (7) by construction, the dim is salted 8 ways so the hot key
    // spreads over 8 shuffle partitions, and the oracle is the PLAIN
    // join — salting must be correctness-invisible (each fact row meets
    // its dim row exactly once, the final agg merges all salts)
    "q_x_skew_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 2 === 0, lit(7L))
          .otherwise(pmod(col("l_partkey"), lit(100L))).as("k"),
        col("l_quantity"))
      val dim = s.range(0, 100).select(col("id").as("k"),
        concat(lit("grp_"), (col("id") % 10).cast("string")).as("grp"))
      graft.ops.Skew.saltedEnrichUsing(fact, dim, Seq("k"), salts = 8)
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("grp")
    }),

    // bloom-pruned inner join: results are bit-identical to the plain
    // join by construction (false positives are removed by the exact
    // join), so the oracle is the plain INNER JOIN — what the query
    // additionally pins is that the pruning path doesn't lose rows
    "q_x_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name")
      Joins.bloomPrunedJoin(t(s, dir, "orders"), dim,
          factKey = "o_custkey", dimKey = "c_custkey",
          expectedItems = 10000L, numBits = 65536L)
        .select("o_orderkey", "o_custkey", "c_name")
        .orderBy("o_orderkey")
    }),

    // data skipping end-to-end: orders re-landed ONCE, range-clustered
    // on year so every file covers a disjoint year band (the cluster-to-
    // make-stats-skippable technique — Z-order's 1-D case), then a
    // readWhere needle on the year prunes via manifest stats before
    // aggregating. One scan + one commit; fresh temp table per call.
    "q_x_data_skipping" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_skip") + "/orders_tx"
      val o = t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate")))
      graft.ops.TxTable.append(s, tmp, o.repartitionByRange(8, col("o_year")))
      graft.ops.TxTable.readWhere(s, tmp, col("o_year") === 1995)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // file-level bloom skipping: land documents as four residue-
    // interleaved files (every file's doc_id [min,max] overlaps — stats
    // pruning is blind), declare a bloom on doc_id, point-probe through
    // readWhere. The oracle is the plain filter: the hash proves the
    // bloom path loses nothing; the ≤-one-file-per-residue skipping
    // itself is plan-asserted in TxBloomSpec
    "q_x_bloom_prune" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_bloomq") + "/docs_tx"
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.TxTable.append(s, tmp,
        docs.filter(col("doc_id") % 4 === 0).coalesce(1))
      graft.ops.TxTable.setBloomFilters(s, tmp, Seq("doc_id"))
      (1 until 4).foreach(j => graft.ops.TxTable.append(s, tmp,
        docs.filter(col("doc_id") % 4 === j).coalesce(1)))
      graft.ops.TxTable.readWhere(s, tmp,
          col("doc_id").isin(17L, 118L, 211L, 304L))
        .orderBy("doc_id")
    }),

    // ANALYZE backfill: land residue-interleaved files BEFORE any
    // bloom config, declare, ANALYZE TABLE via SQL (metadata-only
    // commit enriches the manifest lines), then point-probe — the
    // oracle is the plain filter, so a WRONG backfilled bloom (false
    // absence) would drop rows and hash-mismatch
    "q_x_analyze" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_anlz") + "/docs_tx"
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      (0 until 4).foreach(j => graft.ops.TxTable.append(s, tmp,
        docs.filter(col("doc_id") % 4 === j).coalesce(1)))
      graft.ops.TxTable.setBloomFilters(s, tmp, Seq("doc_id"))
      s.sql(s"ANALYZE TABLE graft.`$tmp` COMPUTE STATISTICS")
      graft.ops.TxTable.readWhere(s, tmp,
          col("doc_id").isin(17L, 118L, 211L, 304L))
        .orderBy("doc_id")
    }),

    // metadata-only aggregates: land orders (with injected nulls so
    // COUNT(col) differs from COUNT(*)), DELETE a slice (rewritten
    // files carry fresh stats), then answer COUNT(*), COUNT(col),
    // MIN/MAX from the MANIFEST alone — zero data I/O; the .get fails
    // loudly if the metadata path ever declines, and the oracle
    // recomputes the same algebra over the source table, so both
    // availability and exactness are correctness-gated
    "q_x_meta_count" -> ((s, dir) => {
      import s.implicits._
      val tmp = tmpQueryDir("graft_meta") + "/orders_tx"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, lit(null))
            .otherwise(col("o_custkey")).as("o_custkey"),
          col("o_orderstatus"))
      graft.ops.TxTable.append(s, tmp,
        o.repartitionByRange(4, col("o_orderkey")))
      graft.ops.TxTable.delete(s, tmp, col("o_orderkey") % 7 === 3)
      val mm = graft.ops.TxTable.metaMinMax(s, tmp, "o_orderkey").get
      Seq((graft.ops.TxTable.metaRowCount(s, tmp).get,
        graft.ops.TxTable.metaColumnCount(s, tmp, "o_custkey").get,
        mm._1.toLong, mm._2.toLong))
        .toDF("n_rows", "n_custkey", "min_orderkey", "max_orderkey")
    }),

    // incremental aggregate view under row-level DML: the q_x_tx_dml
    // cycle (append, MERGE upsert, DELETE) drives a retraction-
    // maintained count/sum view — one change-feed increment per DML
    // commit, the source is never re-aggregated — and the oracle
    // recomputes the final groupBy from scratch
    "q_x_agg_view" -> ((s, dir) => {
      val root = tmpQueryDir("graft_aggview")
      val srcT = root + "/orders_tx"
      val dstT = root + "/view_tx"
      def fold(): Unit = {
        graft.streaming.TxFollower.processAggregateChanges(s, srcT, dstT,
          "aggv", Seq("o_orderstatus"), Seq("o_orderkey")); ()
      }
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, srcT,
        o.repartitionByRange(4, col("o_orderkey")))
      fold()
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"),
            lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, srcT, updates, Seq("o_orderkey"))
      fold()
      graft.ops.TxTable.delete(s, srcT, col("o_orderkey") % 7 === 3)
      fold()
      graft.ops.TxTable.read(s, dstT)
        .select("o_orderstatus", "n_rows", "sum_o_orderkey")
        .orderBy("o_orderstatus")
    }),

    // the same retraction-view cycle maintaining MIN/MAX: the merge
    // and delete increments dirty their groups (update preimages +
    // deletes are retractions), forcing the pinned-snapshot
    // re-aggregation path; the first fold is insert-only and takes
    // the monotone fold path — both must land exactly the from-scratch
    // extrema the oracle recomputes
    "q_x_agg_view_minmax" -> ((s, dir) => {
      val root = tmpQueryDir("graft_aggvmm")
      val srcT = root + "/orders_tx"
      val dstT = root + "/view_tx"
      def fold(): Unit = {
        graft.streaming.TxFollower.processAggregateChanges(s, srcT, dstT,
          "aggvmm", Seq("o_orderstatus"), Nil, Seq("o_orderkey")); ()
      }
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, srcT,
        o.repartitionByRange(4, col("o_orderkey")))
      fold()
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"),
            lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, srcT, updates, Seq("o_orderkey"))
      fold()
      graft.ops.TxTable.delete(s, srcT, col("o_orderkey") % 7 === 3)
      fold()
      graft.ops.TxTable.read(s, dstT)
        .select("o_orderstatus", "n_rows", "min_o_orderkey",
          "max_o_orderkey")
        .orderBy("o_orderstatus")
    }),

    // CHECK constraints end-to-end: declare (validating existing rows),
    // have a violating append REJECTED (caught and witnessed in the
    // output — the oracle pins rejected=TRUE), then land a valid
    // append; final count proves the violating commit left nothing
    "q_x_constraints" -> ((s, dir) => {
      import s.implicits._
      val tmp = tmpQueryDir("graft_check") + "/orders_tx"
      val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      graft.ops.TxTable.append(s, tmp,
        o.repartitionByRange(2, col("o_orderkey")))
      graft.ops.TxTable.addConstraint(s, tmp, "price_pos",
        "o_totalprice > 0")
      val rejected =
        try {
          graft.ops.TxTable.append(s, tmp,
            o.limit(3).withColumn("o_totalprice",
              -abs(col("o_totalprice"))))
          false
        } catch { case _: IllegalStateException => true }
      graft.ops.TxTable.append(s, tmp,
        o.filter(col("o_orderkey") % 1000 === 0))
      Seq((graft.ops.TxTable.read(s, tmp).count(), rejected,
        graft.ops.TxTable.constraints(s, tmp).size))
        .toDF("n_rows", "rejected", "n_constraints")
    }),

    // tx-table DML end-to-end: land orders, MERGE an update+insert set,
    // DELETE a key slice, read the head snapshot — the oracle recomputes
    // the same upsert/delete algebraically over the source table, so the
    // copy-on-write machinery is officially correctness-gated
    // snapshot diff without a change feed: two overwrite snapshots of
    // the same table, diffed as EXCEPT ALL both ways (multiset) — one
    // group-count per side, one null-safe full-outer join of the
    // count frames, output bounded by the change volume
    "q_x_tx_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val p = tmpQueryDir("graft_txdiff") + "/t"
      graft.ops.TxTable.overwrite(s, p, o.filter(col("o_orderkey") % 3 =!= 0))
      graft.ops.TxTable.overwrite(s, p, o.filter(col("o_orderkey") % 2 =!= 0))
      graft.ops.TxTable.diff(s, p, 1L, 2L)
        .orderBy("o_orderkey", "_change_type")
    }),

    "q_x_tx_dml" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_dml") + "/orders_tx"
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, tmp, o.repartitionByRange(4, col("o_orderkey")))
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"), lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, tmp, updates, Seq("o_orderkey"))
      graft.ops.TxTable.delete(s, tmp, col("o_orderkey") % 7 === 3)
      graft.ops.TxTable.read(s, tmp)
        .orderBy("o_orderkey")
    }),

    // conditional multi-clause MERGE (Delta's WHEN MATCHED [AND cond]
    // THEN UPDATE/DELETE + WHEN NOT MATCHED INSERT): matched non-F
    // orders get src price + 1, matched F orders are deleted, unmatched
    // source keys insert — the oracle recomputes the same clause
    // algebra with a LEFT JOIN + CASE, so the conditional semantics
    // (incl. clause precedence and the unmatched-insert split) are
    // correctness-gated bit-for-bit
    "q_x_merge_into" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_minto") + "/orders_tx"
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.ops.TxTable.append(s, tmp, o)
      val source = o.filter(col("o_orderkey") % 10 === 0)
        .unionByName(s.range(1, 4).select(
          (-col("id")).as("o_orderkey"),
          lit("N").as("o_orderstatus"),
          lit(1.0).as("o_totalprice")))
      graft.ops.TxTable.mergeInto(s, tmp, source, Seq("o_orderkey"),
        updateWhen = Some(col("o_orderstatus") =!= "F"),
        updateSet = Map("o_totalprice" ->
          (graft.ops.TxTable.src("o_totalprice") + lit(1.0))),
        deleteWhen = Some(col("o_orderstatus") === "F"))
      graft.ops.TxTable.read(s, tmp).orderBy("o_orderkey")
    }),

    // the APPLY side of the change feed, end-to-end: a keyed REPLICA
    // follows the source through its whole DML cycle — initial load,
    // MERGE, DELETE — consuming only the change feed (readChanges →
    // last-final-action-per-key → applyChanges, one commit per
    // increment, offset+guard in the same claim). The replica is read
    // back and must equal the source head, which the oracle recomputes
    // algebraically — so exactly-once CDC consumption is itself
    // correctness-gated, not just the feed
    "q_x_cdf_replica" -> ((s, dir) => {
      val base = tmpQueryDir("graft_cdfrep")
      val src = base + "/src"
      val dst = base + "/dst"
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, src, o)                             // v1
      graft.streaming.TxFollower.processChanges(s, src, dst, "rep",
        Seq("o_orderkey"))
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"), lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, src, updates, Seq("o_orderkey"))     // v2
      graft.ops.TxTable.delete(s, src, col("o_orderkey") % 7 === 3)   // v3
      graft.streaming.TxFollower.processChanges(s, src, dst, "rep",
        Seq("o_orderkey"))
      graft.ops.TxTable.read(s, dst).orderBy("o_orderkey")
    }),

    // row-level change data feed: land orders, MERGE (update + insert),
    // DELETE — then read the CHANGE FEED of the DML window. Each commit
    // exposes exactly its changed rows tagged insert / update_preimage /
    // update_postimage / delete (carried rows never resurface) — the
    // oracle reconstructs the same feed algebraically from the source
    // table, so row-level CDC is correctness-gated end-to-end
    "q_x_cdf" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_cdf") + "/orders_tx"
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, tmp, o)                             // v1
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"), lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, tmp, updates, Seq("o_orderkey"))     // v2
      graft.ops.TxTable.delete(s, tmp, col("o_orderkey") % 7 === 3)   // v3
      graft.ops.TxTable.readChanges(s, tmp, 1L, 3L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    }),

    // the V2 change-feed SCAN path (spark.read with readChangeFeed):
    // same DML cycle as q_x_cdf, read back through the DataSource V2
    // CDF scan — per-commit change files planned as partitions, the
    // _commit_version/_commit_timestamp constants appended by the
    // READER — so the streaming-CDF machinery itself sits under the
    // oracle gate (startingVersion=2 scopes to the DML commits,
    // matching readChanges(1, 3))
    "q_x_cdf_scan" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_cdfscan") + "/orders_tx"
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, tmp, o)                             // v1
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"), lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, tmp, updates, Seq("o_orderkey"))     // v2
      graft.ops.TxTable.delete(s, tmp, col("o_orderkey") % 7 === 3)   // v3
      s.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "2").load(tmp)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    }),

    // batch CDF through SQL: the same DML cycle as q_x_cdf, read back
    // via the Delta-spelled table-valued function the extensions
    // inject — `table_changes('graft.`…`', 2, 3)` (INCLUSIVE starting
    // version) — so the SQL spelling of the change feed sits under the
    // same algebraic oracle as the Scala and V2-scan spellings
    "q_x_sql_cdf" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqlcdf") + "/orders_tx"
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.ops.TxTable.append(s, tmp, o)                             // v1
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .unionByName(s.range(1, 4)
          .select((-col("id")).as("o_orderkey"), lit("N").as("o_orderstatus")))
      graft.ops.TxTable.merge(s, tmp, updates, Seq("o_orderkey"))     // v2
      graft.ops.TxTable.delete(s, tmp, col("o_orderkey") % 7 === 3)   // v3
      s.sql(
        s"""SELECT o_orderkey, o_orderstatus, _change_type, _commit_version
           |FROM table_changes('graft.`$tmp`', 2, 3)
           |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin)
    }),

    // retrieval as plain SQL: the graft_search TVF serves BM25 from a
    // persisted index — query_id is the query text, so multi-query
    // batches compose as UNION ALL of TVF calls; same arithmetic as
    // searchIndexed, so the text-labeled q_x_bm25 oracle gates it
    "q_x_sql_search" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_sqlsearch") + "/index"
      graft.text.Bm25.buildIndex(t(s, dir, "documents"), "doc_id", "text",
        idx)
      s.sql(
        s"""SELECT * FROM graft_search('$idx', 'merge join table', 10)
           |UNION ALL
           |SELECT * FROM graft_search('$idx', 'fast scan query', 10)
           |UNION ALL
           |SELECT * FROM graft_search('$idx', 'stream window agg', 10)
           |ORDER BY query_id, rank""".stripMargin)
    }),

    // the snapshot diff through its SQL spelling — same fixture and
    // oracle as q_x_tx_diff
    "q_x_sql_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val p = tmpQueryDir("graft_sqldiff") + "/t"
      graft.ops.TxTable.overwrite(s, p, o.filter(col("o_orderkey") % 3 =!= 0))
      graft.ops.TxTable.overwrite(s, p, o.filter(col("o_orderkey") % 2 =!= 0))
      s.sql(s"""SELECT * FROM graft_diff('$p', 1, 2)
               |ORDER BY o_orderkey, _change_type""".stripMargin)
    }),

    // optimize + restore maintenance cycle: land unclustered, z-order
    // the table, clobber it with a bad overwrite, roll back — the final
    // pruned read must equal a plain filter over the source (layout
    // operations are data-identical by construction, and the oracle
    // proves it end-to-end)
    "q_x_tx_maintenance" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_opt") + "/docs_tx"
      val d = t(s, dir, "documents").select("doc_id", "n_chars", "source")
      graft.ops.TxTable.append(s, tmp, d.filter(col("doc_id") % 2 === 0))
      graft.ops.TxTable.append(s, tmp, d.filter(col("doc_id") % 2 === 1))
      graft.ops.TxTable.optimize(s, tmp, Seq("n_chars", "doc_id"),
        targetBytes = 64L * 1024)
      // scoped bin-pack (OPTIMIZE … WHERE): rewrites only the files
      // whose stats may hold n_chars >= 500 — data-identical too, and
      // the oracle proves the scoped path end-to-end
      graft.ops.TxTable.compact(s, tmp,
        where = Some(col("n_chars") >= 500))
      graft.ops.TxTable.compact(s, tmp) // whole-snapshot bin-pack
      val compacted = graft.ops.TxTable.versions(s, tmp).last
      graft.ops.TxTable.overwrite(s, tmp, d.limit(10))
      graft.ops.TxTable.restore(s, tmp, compacted)
      graft.ops.TxTable.readWhere(s, tmp, col("n_chars") >= 500)
        .orderBy("doc_id")
    }),

    // the SQL surface of the TxTable: the q_x_tx_dml cycle driven
    // entirely through spark.sql — CREATE TABLE AS, key-merge, delete —
    // via the parser GraftExtensions injects; same oracle as the
    // Scala-API version, proving SQL and API share one semantics
    "q_x_sql_dml" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqldml") + "/orders_tx"
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        .createOrReplaceTempView("sql_dml_orders")
      s.sql(s"CREATE TABLE graft.`$tmp` AS SELECT * FROM sql_dml_orders")
      s.sql(
        s"""MERGE INTO graft.`$tmp` USING (
           |  SELECT o_orderkey, 'U' AS o_orderstatus
           |  FROM sql_dml_orders WHERE o_orderkey % 100 = 0
           |  UNION ALL
           |  SELECT * FROM VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N')
           |) ON (o_orderkey)""".stripMargin)
      s.sql(s"DELETE FROM graft.`$tmp` WHERE o_orderkey % 7 = 3")
      graft.ops.TxTable.read(s, tmp).orderBy("o_orderkey")
    }),

    // the clause-form MERGE through SQL: same clause algebra as
    // q_x_merge_into (update non-F matches from the source, delete F
    // matches, insert the unmatched), driven entirely by the parser's
    // WHEN MATCHED [AND]/WHEN NOT MATCHED grammar — same oracle, so the
    // SQL clause surface and the Scala mergeInto API are proven to
    // share one semantics (incl. the textual-precedence rewrite)
    "q_x_sql_merge_clauses" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqlmc") + "/orders_tx"
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("sql_mc_orders")
      s.sql(s"CREATE TABLE graft.`$tmp` AS SELECT * FROM sql_mc_orders")
      s.sql(
        s"""MERGE INTO graft.`$tmp` t USING (
           |  SELECT o_orderkey, o_orderstatus, o_totalprice
           |  FROM sql_mc_orders WHERE o_orderkey % 10 = 0
           |  UNION ALL
           |  SELECT * FROM VALUES
           |    (CAST(-1 AS BIGINT), 'N', CAST(1.0 AS DOUBLE)),
           |    (-2, 'N', 1.0), (-3, 'N', 1.0)
           |) s ON (o_orderkey)
           |WHEN MATCHED AND t.o_orderstatus <> 'F' THEN
           |  UPDATE SET o_totalprice = s.o_totalprice + 1.0
           |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      graft.ops.TxTable.read(s, tmp).orderBy("o_orderkey")
    }),

    // the by-source MERGE clause (Delta's WHEN NOT MATCHED BY SOURCE
    // THEN DELETE): one statement updates matched keys, inserts new
    // ones, AND deletes source-absent 'F' rows — the replicate-a-
    // snapshot shape — in ONE atomic commit (the source-anti-join
    // delete rides the same copy-on-write replace as the upserts)
    "q_x_sql_merge_by_source" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqlbs") + "/orders_tx"
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("sql_bs_orders")
      s.sql(s"CREATE TABLE graft.`$tmp` AS SELECT * FROM sql_bs_orders")
      s.sql(
        s"""MERGE INTO graft.`$tmp` t USING (
           |  SELECT o_orderkey, o_orderstatus, o_totalprice
           |  FROM sql_bs_orders WHERE o_orderkey % 3 = 0
           |  UNION ALL
           |  SELECT * FROM VALUES (CAST(-5 AS BIGINT), 'N', CAST(1.0 AS DOUBLE))
           |) s ON (o_orderkey)
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1.0
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F' THEN DELETE""".stripMargin)
      graft.ops.TxTable.read(s, tmp).orderBy("o_orderkey")
    }),

    // partitioned TxTable end-to-end: V2 writer partitionBy → catalog
    // SQL read with a partition predicate (prunes via the explicit
    // manifest partition spec — no directory inference involved)
    "q_x_partitioned" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_part") + "/orders_part"
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .withColumn("bucket", (col("o_orderkey") % 4).cast("int"))
        .write.format("graft").mode("append").partitionBy("bucket").save(tmp)
      s.sql(
        s"""SELECT bucket, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_price
           |FROM graft.`$tmp` WHERE bucket IN (1, 3)
           |GROUP BY bucket ORDER BY bucket""".stripMargin)
    }),

    // manifest-owned schema evolution end-to-end: V2-write a table,
    // ALTER TABLE ADD COLUMNS through the catalog (a metadata-only
    // commit — no data rewrite), append rows carrying the new column,
    // and aggregate over the mixed snapshot: pre-evolution rows
    // surface the column as null (coalesced to -1 for grouping)
    "q_x_evolve" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_evolve") + "/orders_ev"
      val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      o.filter(col("o_orderkey") % 3 === 0)
        .write.format("graft").mode("append").save(tmp)
      s.sql(s"ALTER TABLE graft.`$tmp` ADD COLUMNS (flag INT)")
      o.filter(col("o_orderkey") % 3 === 1)
        .withColumn("flag", (col("o_orderkey") % 2).cast("int"))
        .write.format("graft").mode("append").save(tmp)
      s.sql(
        s"""SELECT coalesce(flag, -1) AS flag, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_price
           |FROM graft.`$tmp` GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // the evolution cycle driven ENTIRELY through SQL — CTAS via the
    // injected parser, ALTER TABLE ADD COLUMNS via the graft catalog,
    // INSERT INTO with the evolved column, DESCRIBE to prove the
    // catalog serves the evolved schema (its column count is folded
    // into the result so the DESCRIBE is oracled, not just executed),
    // then one aggregate over the mixed snapshot
    "q_x_sql_evolve" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqlev") + "/orders_ev"
      t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("sql_ev_orders")
      s.sql(s"CREATE TABLE graft.`$tmp` AS " +
        "SELECT * FROM sql_ev_orders WHERE o_orderkey % 3 = 0")
      s.sql(s"ALTER TABLE graft.`$tmp` ADD COLUMNS (flag INT)")
      s.sql(
        s"""INSERT INTO graft.`$tmp`
           |SELECT o_orderkey, o_totalprice,
           |  CAST(o_orderkey % 2 AS INT) AS flag
           |FROM sql_ev_orders WHERE o_orderkey % 3 = 1""".stripMargin)
      val nCols = s.sql(s"DESCRIBE graft.`$tmp`")
        .where(col("col_name").isin("o_orderkey", "o_totalprice", "flag"))
        .count()
      s.sql(
        s"""SELECT coalesce(flag, -1) AS flag, count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_price,
           |  CAST($nCols AS BIGINT) AS n_described_cols
           |FROM graft.`$tmp` GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // commit-timestamp time travel: two commits, read back AS OF the
    // first commit's manifest `ts` stamp (spinning past it first so the
    // second stamp is strictly later — deterministic at any speed)
    // COPY INTO: three landed files, loaded across three invocations of
    // which one is an exact re-run no-op — any double-load doubles a
    // group count and hash-mismatches the oracle
    "q_x_copy_into" -> ((s, dir) => {
      val root = tmpQueryDir("graft_copyin")
      val landing = root + "/landing"; val tbl = root + "/t"
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        // staged under the hook-cleaned temp root (a bare
        // createTempDirectory here leaked one table copy per call per
        // round), and the directory stream is closed, not leaked
        val stage = java.nio.file.Paths.get(tmpQueryDir("graft_land"))
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val listing = java.nio.file.Files.list(stage)
        val part =
          try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
            .find(_.toString.endsWith(".parquet")).get
          finally listing.close()
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(landing))
        java.nio.file.Files.copy(part,
          java.nio.file.Paths.get(landing, name))
      }
      land("b0.parquet", o.filter(col("o_orderkey") % 3 === 0))
      land("b1.parquet", o.filter(col("o_orderkey") % 3 === 1))
      graft.ops.TxTable.copyInto(s, tbl, landing)
      graft.ops.TxTable.copyInto(s, tbl, landing) // exact re-run: no-op
      land("b2.parquet", o.filter(col("o_orderkey") % 3 === 2))
      s.sql(s"COPY INTO graft.`$tbl` FROM '$landing'") // loads only b2
      graft.ops.TxTable.read(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("o_orderstatus")
    }),

    // shallow clone: fork the table at v1 (SQL spelling), diverge BOTH
    // sides with independent DML, vacuum the source — the clone's
    // hard-linked snapshot must survive all of it
    "q_x_clone" -> ((s, dir) => {
      val root = tmpQueryDir("graft_clone")
      val src = root + "/src"; val dst = root + "/dst"
      graft.ops.TxTable.overwrite(s, src,
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"))
      s.sql(s"CREATE TABLE graft.`$dst` SHALLOW CLONE graft.`$src` " +
        "VERSION AS OF 1")
      graft.ops.TxTable.delete(s, src, col("c_custkey") % 2 === 0)
      graft.ops.TxTable.delete(s, dst, col("c_custkey") % 3 === 0)
      graft.ops.TxTable.vacuum(s, src, keepVersions = 1)
      val a = graft.ops.TxTable.read(s, src)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_src"))
      val b = graft.ops.TxTable.read(s, dst)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_clone"))
      a.join(b, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_src"), lit(0L)).as("n_src"),
          coalesce(col("n_clone"), lit(0L)).as("n_clone"))
        .orderBy("c_mktsegment")
    }),

    "q_x_time_travel" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_ttravel") + "/cust_tt"
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      c.filter(col("c_custkey") % 2 === 0)
        .write.format("graft").mode("append").save(tmp)
      val ts1 = graft.ops.TxTable.commitTimestamp(s, tmp, 1L)
      while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
      c.filter(col("c_custkey") % 2 === 1)
        .write.format("graft").mode("append").save(tmp)
      s.read.format("graft").option("timestampAsOf", ts1).load(tmp)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // the catalog surface: CTAS a TxTable via the injected parser, then
    // query it as a plain SQL table (catalog resolution, predicate +
    // aggregate over graft.`path`) — decimal-accumulated sum so the
    // result is bit-stable across engines and partitionings
    // metadata-only COUNT(*) through SQL: CTAS a graft table, count it
    // through the catalog — the injected optimizer rule collapses the
    // aggregate to the manifest's row counts, no scan (plan shape
    // pinned by MetadataAggSpec); the oracle recomputes from source
    "q_x_sql_count_meta" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqlcnt") + "/orders_tx"
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        .createOrReplaceTempView("sql_cnt_orders")
      s.sql(s"CREATE TABLE graft.`$tmp` AS SELECT * FROM sql_cnt_orders")
      s.sql(
        s"""SELECT COUNT(*) AS n_rows, MIN(o_orderkey) AS min_key,
           |  MAX(o_orderkey) AS max_key, COUNT(o_orderstatus) AS n_status
           |FROM graft.`$tmp`""".stripMargin)
    }),

    // liquid-style clustering: land interleaved, declare CLUSTER BY,
    // bare SQL OPTIMIZE re-clusters on the declaration, and a pruned
    // read must still equal the plain filter — the oracle proves the
    // rewrite loses nothing; pruning itself is plan-asserted in
    // ZOrderSpec
    "q_x_cluster_by" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_clst") + "/li_tx"
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      (0 until 3).foreach(j => graft.ops.TxTable.append(s, tmp,
        li.filter(col("l_orderkey") % 3 === j).coalesce(1)))
      s.sql(s"ALTER TABLE graft.`$tmp` CLUSTER BY (l_orderkey, l_partkey)")
      s.sql(s"OPTIMIZE graft.`$tmp`")
      graft.ops.TxTable.readWhere(s, tmp, col("l_orderkey") <= 100)
        .orderBy("l_orderkey", "l_partkey", "l_quantity")
    }),

    // column rename (copy-on-write DDL): land, ALTER ... RENAME COLUMN
    // through SQL, query under the NEW name — the oracle recomputes
    // from the source with an alias, so the rewrite must lose nothing
    "q_x_rename" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_ren") + "/cust_tx"
      graft.ops.TxTable.append(s, tmp,
        t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"))
      s.sql(s"ALTER TABLE graft.`$tmp` RENAME COLUMN c_acctbal TO balance")
      s.sql(s"SELECT c_custkey, c_name, balance FROM graft.`$tmp` " +
        "ORDER BY c_custkey")
    }),

    // column drop (copy-on-write DDL): land, ALTER ... DROP COLUMN
    // through SQL, select * — the narrowed declared schema must be
    // exactly the remaining columns with every row intact
    "q_x_dropcol" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_dropcol") + "/cust_tx"
      graft.ops.TxTable.append(s, tmp,
        t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"))
      s.sql(s"ALTER TABLE graft.`$tmp` DROP COLUMN c_name")
      s.sql(s"SELECT * FROM graft.`$tmp` ORDER BY c_custkey")
    }),

    // partition-grouped metadata aggregates: GROUP BY the partition
    // column over a partitioned graft table collapses to a manifest-
    // only LocalRelation (per-partition row/null counts + path
    // pseudo-stats and footer min/max) — the scanless plan itself is
    // asserted in MetadataAggSpec; the oracle proves the values
    "q_x_meta_by_part" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_metapart") + "/orders_tx"
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
        .createOrReplaceTempView("meta_part_orders")
      s.sql(s"CREATE TABLE graft.`$tmp` PARTITIONED BY (o_orderstatus) " +
        "AS SELECT * FROM meta_part_orders")
      s.sql(
        s"""SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
           |  MAX(o_orderkey) AS max_key, COUNT(o_custkey) AS n_cust
           |FROM graft.`$tmp`
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    "q_x_sql_select" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_sqlsel") + "/li_tx"
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .createOrReplaceTempView("sql_sel_li")
      s.sql(s"CREATE TABLE graft.`$tmp` AS SELECT * FROM sql_sel_li")
      s.sql(
        s"""SELECT l_returnflag, count(*) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM graft.`$tmp` WHERE l_orderkey % 3 = 0
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // the DataFrame writer surface of the TxTable: produce the table
    // with df.write.format("graft") (create + append + overwrite — all
    // three commit through the manifest protocol), read it back with
    // spark.read.format("graft"), and prove the round-trip against a
    // plain SQL equivalent
    "q_x_v2_write" -> ((s, dir) => {
      val tmp = tmpQueryDir("graft_v2w") + "/cust_tx"
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      c.filter(col("c_custkey") % 2 === 0)
        .write.format("graft").mode("append").save(tmp)
      c.filter(col("c_custkey") % 2 === 1)
        .write.format("graft").mode("append").save(tmp)
      // overwrite drops the negative-balance rows for good
      s.read.format("graft").load(tmp).filter(col("c_acctbal") >= 0)
        .write.format("graft").mode("overwrite").save(tmp)
      s.read.format("graft").load(tmp)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          Aggregations.moneySum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // the NATIVE streaming sink end-to-end: two source commits stream
    // through readStream.format("graft") → writeStream.format("graft")
    // (per-epoch executor parquet + one manifest claim with the
    // txn.<queryId> token), then the landed table aggregates like any
    // other — proving stream-written bytes are byte-equivalent to a
    // batch write of the same rows
    "q_x_stream_sink" -> ((s, dir) => {
      val src = tmpQueryDir("graft_ss") + "/src"
      val dst = tmpQueryDir("graft_ss") + "/dst"
      val cp = tmpQueryDir("graft_ss_cp")
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      graft.ops.TxTable.append(s, src, c.filter(col("c_custkey") % 2 === 0))
      graft.ops.TxTable.append(s, src, c.filter(col("c_custkey") % 2 === 1))
      val q = s.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", cp).start(dst)
      q.processAllAvailable(); q.stop()
      s.read.format("graft").load(dst)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          Aggregations.moneySum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    "q_x_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Aggregations.moneySum(col("o_totalprice")).as("total_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // arbitrary GROUPING SETS (not the rollup/cube lattices): the
    // (status), (priority), and grand-total sets in ONE Expand pass —
    // the ANSI SQL spelling on both engines, with GROUPING() ids to
    // disambiguate real NULL keys from set placeholders
    "q_x_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
              |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
              |  COUNT(*) AS n
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority"""
          .stripMargin)
    }),

    // CUBE: all four grouping sets of (returnflag, linestatus) in one
    // pass (Spark's Expand), the rollup's full-lattice sibling
    "q_x_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.moneySum(col("l_extendedprice")).as("total_price"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Efraimidis–Spirakis weighted sampling: 100 docs ∝ n_chars under
    // the md5 exponential race — the oracle replays the exact key
    // arithmetic, so selection (not just shape) is pinned
    "q_x_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", n = 100,
          hash = (salt, id) =>
            TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .orderBy("doc_id")),

    // blocked edit-distance join: rarity-prefix q-gram index + length
    // buckets for short strings, refined by levenshtein — the oracle
    // is the BRUTE-FORCE cartesian semantics, so the hash proves the
    // blocking is complete, not just self-consistent. Document title
    // prefixes, not p_name/c_name: those columns have a 64-value pool
    // (every qualifying join on them is a clique — output quadratic BY
    // DATA) resp. verbatim cross-copy duplicates in the ladder corpus
    "q_x_fuzzy_join" -> ((s, dir) =>
      graft.ops.FuzzyJoin.editDistancePairs(
          t(s, dir, "documents")
            .select(col("doc_id"), substring(col("text"), 1, 24).as("head")),
          "doc_id", "head", maxDist = 2)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")),

    // UNPIVOT/melt (wide -> long): the inverse relational shape of
    // pivot — Spark's Dataset.unpivot plans as a single Expand over
    // one scan, never N self-unions
    "q_x_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    "q_x_pivot" -> ((s, dir) => {
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", priorities)
        .agg(count(lit(1)))
        .toDF("o_orderstatus", "urgent", "high", "medium", "not_specified", "low")
        // an absent (status, priority) combination pivots to NULL while
        // the oracle's COUNT(*) FILTER yields 0 — align on 0
        .na.fill(0L, Seq("urgent", "high", "medium", "not_specified", "low"))
        .orderBy("o_orderstatus")
    }),

    // per-group top-k WITHOUT a window: the bounded-heap aggregate
    // reduces each map slice to <=k rows per group BEFORE the shuffle
    // (O(groups*k) exchanged, no whole-group sort) — price desc via
    // negated key, unique o_orderkey tiebreak pins determinism
    "q_x_topk_agg" -> ((s, dir) =>
      Windows.topKPerGroupAgg(
          t(s, dir, "orders"), Seq(col("o_orderstatus")),
          Seq((-col("o_totalprice")).as("neg_price"),
            col("o_orderkey").as("o_orderkey"),
            col("o_totalprice").as("o_totalprice")),
          k = 3)
        .select("o_orderstatus", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rank")),

    // equal-frequency deciles by document length over the GLOBAL order
    // — the distributed-prefix NTILE, never an all-to-one window; the
    // oracle is the engine NTILE itself, so the integer boundary
    // arithmetic is pinned exactly
    "q_x_ntile" -> ((s, dir) =>
      Prefix.ntile(t(s, dir, "documents").select("doc_id", "n_chars"),
          Seq(col("n_chars").desc, col("doc_id").asc), 10, "decile")
        .orderBy("doc_id")),

    // per-language percentile calibration of document length: exact
    // SQL percent_rank (ties share rank) computed on the DISTINCT
    // (lang, n_chars) frame + the grouped running sum — never a
    // whole-group window over raw rows
    "q_x_pct_rank" -> ((s, dir) =>
      Prefix.groupPercentRank(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "n_chars")
        .orderBy("doc_id")),

    // fixed-width histogram of document lengths: 8 data-bounded bins,
    // empty bins materialized — bucket arithmetic is pure IEEE
    // add/mul/div so bounds AND counts hash-match across engines
    "q_x_histogram" -> ((s, dir) =>
      Profile.histogram(t(s, dir, "documents"), "n_chars", 8)
        .orderBy("bin")),

    // robust per-group outlier flags: exact lower-median + MAD per
    // language over the distributed group-rank (no single-task-per-
    // group window), |x-med| > 3*MAD — medians are rank ELEMENTS so
    // every value is engine-bit-identical
    "q_x_outliers" -> ((s, dir) =>
      graft.ops.Outliers.robustFlag(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "n_chars", k = 3.0)
        .select("doc_id", "lang", "med", "mad", "is_outlier")
        .orderBy("doc_id")),

    // per-language Pearson correlation of length vs token count: all
    // five moments are exact long sums (accumulation-order-proof), the
    // final r one fixed IEEE expression
    "q_x_corr" -> ((s, dir) =>
      graft.ops.Outliers.groupCorr(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("n_chars"),
            TextAnalysis.tokenCount(col("text")).cast("int").as("n_toks")),
          "lang", "n_chars", "n_toks")
        .orderBy("lang")),

    // per-language min-max normalization of length to [0,1]: exact
    // long extrema + one IEEE division — zscore's bounded sibling
    "q_x_minmax_norm" -> ((s, dir) =>
      graft.ops.Outliers.minMaxNorm(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "n_chars")
        .orderBy("doc_id")),

    // per-language z-score of document length: exact long sums make
    // mean/variance accumulation-order-proof, then one fixed IEEE
    // expression — bit-identical in any engine
    "q_x_zscore" -> ((s, dir) =>
      graft.ops.Outliers.zscore(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "n_chars")
        .orderBy("doc_id")),

    // schema-harmonizing union: two batches with DIFFERENT column sets
    // (one lacks priority, one lacks price) merged by name with
    // provenance, then audited — the null-fill is observable in the
    // per-source non-null counts
    "q_x_harmonize" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Harmonize.unionWithSource(Seq(
          "even" -> o.filter(col("o_orderkey") % 2 === 0).drop("o_orderpriority"),
          "odd" -> o.filter(col("o_orderkey") % 2 === 1).drop("o_totalprice")))
        .groupBy("src", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("o_totalprice")).as("n_price"),
          count(col("o_orderpriority")).as("n_priority"))
        .orderBy("src", "o_orderstatus")
    }),

    // ---- scalar functions (F1-F11)
    "q_f1_dates" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "MMM dd, yyyy").as("us_date"),
          to_date(date_format(col("o_orderdate"), "MMM dd, yyyy"), "MMM dd, yyyy")
            .as("parsed_date"),
          to_date(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"),
            "yyyy-MM-dd'T'HH:mm:ss").as("iso_parsed"),
          year(col("o_orderdate")).as("order_year"))
        .orderBy("o_orderkey")),

    "q_f6_split" -> ((s, dir) => {
      val mmss = concat_ws(":",
        lpad((col("o_orderkey") % 60).cast("string"), 2, "0"),
        lpad((col("o_custkey") % 60).cast("string"), 2, "0"))
      t(s, dir, "orders")
        .withColumn("mmss", mmss)
        .withColumn("mins", split(col("mmss"), ":").getItem(0).cast("int"))
        .withColumn("secs", split(col("mmss"), ":").getItem(1).cast("int"))
        .select(col("o_orderkey"), col("mmss"), col("mins"), col("secs"),
          (col("mins") * 60 + col("secs")).as("total_seconds"))
        .orderBy("o_orderkey")
    }),

    // ---- flagship composition
    "q_flagship_gold_customer" -> ((s, dir) => flagship(s, dir)),

    // ---- LLM-pipeline: dedup over documents
    // referential integrity: delete every 50th order, then find the
    // lineitems that lost their parent — distinct keys + left-anti
    // equi-join, SQL MATCH SIMPLE null exemption
    "q_x_fk_orphans" -> ((s, dir) =>
      graft.ops.Validation.orphans(
          t(s, dir, "lineitem"),
          t(s, dir, "orders").filter(col("o_orderkey") % 50 =!= 0),
          Seq("l_orderkey" -> "o_orderkey"))
        .select("l_orderkey", "l_partkey", "l_linenumber")
        .orderBy("l_orderkey", "l_partkey", "l_linenumber")),

    "q_x_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // chunk-level exact dedup: repeated 8-token spans are removed
    // corpus-wide (CCNet-style line dedup adapted to whitespace prose)
    "q_x_chunk_dedup" -> ((s, dir) =>
      graft.dedup.ChunkDedup.dedupChunks(
          t(s, dir, "documents"), "doc_id", "text", chunkTokens = 8)
        .orderBy("doc_id")),

    // corpus drift monitor: smoothed unigram divergence (TV/Hellinger/
    // chi2 — the transcendental-free measures, so the fold is IEEE-
    // deterministic) between the en and de sub-corpora over a bounded
    // shared vocab; the oracle replays the exact sorted-order fold
    "q_x_corpus_divergence" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.CorpusDivergence.divergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"), "text", topK = 256)
    }),

    // span-level exact dedup at ARBITRARY alignment (Lee et al.'s
    // substring dedup as a sliding-fingerprint plan): duplicated
    // >=8-token spans are stripped wherever they start, not just on
    // the chunk grid
    "q_x_span_dedup" -> ((s, dir) =>
      graft.dedup.SpanDedup.stripDuplicatedSpans(
          t(s, dir, "documents"), "doc_id", "text", windowTokens = 8)
        .orderBy("doc_id")),

    // span-level DECONTAMINATION: corpus docs with doc_id%7==1 get a
    // 120-char head of "their" eval doc ((id/10)*10) appended; the
    // masking pass must strip exactly the injected spans (full 8-token
    // windows inside the snippet) while whole-doc decontamination
    // would have dropped the document
    "q_x_span_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text")
      val injected = docs.filter(col("doc_id") % 10 =!= 0)
        .join(evalSet.select(col("doc_id").as("eid"),
          substring(col("text"), 1, 120).as("esnip")),
          floor(col("doc_id") / 10) * 10 === col("eid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 1 && col("esnip").isNotNull,
            concat_ws(" ", col("text"), col("esnip")))
            .otherwise(col("text")).as("text"))
      graft.dedup.SpanDedup.maskContaminatedSpans(injected, evalSet,
          "doc_id", "text", windowTokens = 8)
        .orderBy("doc_id")
    }),

    // the same decontamination SERVED from the corpus's persisted BM25
    // inverted index: each eval window elects its rarest corpus token
    // (sound — a doc holding the window holds that token), candidates
    // come from a manifest-pruned posting read, and only candidates
    // pay the window-digest pass; the rest take one narrow map. Same
    // injected fixture, same exact oracle — the pruning must be
    // invisible in the output
    "q_x_span_decontaminate_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text")
      val injected = docs.filter(col("doc_id") % 10 =!= 0)
        .join(evalSet.select(col("doc_id").as("eid"),
          substring(col("text"), 1, 120).as("esnip")),
          floor(col("doc_id") / 10) * 10 === col("eid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 1 && col("esnip").isNotNull,
            concat_ws(" ", col("text"), col("esnip")))
            .otherwise(col("text")).as("text"))
        .localCheckpoint()
      val idx = tmpQueryDir("graft_spandec") + "/index"
      graft.text.Bm25.buildIndex(injected, "doc_id", "text", idx)
      graft.dedup.SpanDedup.maskContaminatedSpansIndexed(injected, evalSet,
          "doc_id", "text", windowTokens = 8, idx)
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization: a decomposed "cafe" + COMBINING ACUTE
    // (appended to every doc) must compose to the precomposed é — the
    // length delta proves composition happened, and the full normalized
    // text is hash-compared against DuckDB's nfc_normalize (same
    // Unicode canonical-composition algorithm as java.text.Normalizer)
    "q_x_text_nfc" -> ((s, dir) => {
      // " cafe" + U+0301 COMBINING ACUTE, spelled as an escape so no
      // editor silently recomposes it: NFC must compose it to the
      // precomposed é, one char shorter
      val decomposed = lit(" cafe\u0301")
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeNfc(concat(col("text"), decomposed))
            .as("nfc_text"))
        .select(col("doc_id"), col("nfc_text"),
          length(col("nfc_text")).as("n_chars_nfc"))
        .orderBy("doc_id")
    }),

    // overlapping token-window chunking (RAG indexing / context-window
    // prep): 12-token windows with a 4-token overlap, no redundant
    // tail chunk (a final window fully contained in its predecessor is
    // not emitted)
    "q_x_chunk_split" -> ((s, dir) =>
      graft.ops.Chunking.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 12, overlapTokens = 4)
        .orderBy("doc_id", "chunk_idx")),

    "q_x_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3, minJ = 0.2)
        .orderBy("id_a", "id_b")),

    // the hot-shingle-capped Jaccard path (mandatory at 100 TB: a
    // stopword-run shared by 1M docs is a 5e11-pair hot key) under the
    // same oracle discipline: the oracle SQL implements the CAPPED
    // semantics (df>5 shingles dropped from index AND denominators).
    // At sf0.01 cap=5 drops 29 shingles yet preserves all 25 pairs, so
    // the branch is exercised while staying comparable to the uncapped
    // row above
    "q_x_jaccard_pairs_capped" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3,
          minJ = 0.2, maxShingleDf = Some(5))
        .orderBy("id_a", "id_b")),

    "q_x_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
          Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            n = 3, minJ = 0.2))
        .orderBy("id")),

    // score-based canonical election over the near-dup clusters: keep
    // the LONGEST copy per component (ties → min id), singletons
    // always survive — one row per doc with the keep/drop verdict, the
    // audit log of "which duplicate did we retain and why"
    "q_x_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.electCanonical(docs, "doc_id", "n_chars",
          Dedup.connectedComponents(
            Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJ = 0.2)))
        .orderBy("doc_id")
    }),

    // decontamination: every 10th doc plays the benchmark set; flag
    // corpus docs containing >= 40% of an eval doc's shingles
    "q_x_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containmentPairs(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minContainment = 0.4)
        .orderBy("corpus_id", "eval_id")
    }),

    // same contamination semantics through the 100 TB scale path: a
    // broadcast bloom over the (small) eval side's shingles drops
    // corpus shingles before the shuffle; the exact join removes the
    // bloom's false positives, so the oracle is shared verbatim with
    // q_x_decontaminate
    "q_x_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containmentPairsBloom(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minContainment = 0.4)
        .orderBy("corpus_id", "eval_id")
    }),

    // Gopher line/paragraph duplication rules over injected structure:
    // every doc gets its 40-char head pasted as a second line (plus a
    // third duplicate for doc_id%3==0) and a duplicated paragraph for
    // doc_id%2==0 — count- AND char-weighted fractions, all narrow
    // codegen'd HOFs, mirrored exactly in the oracle
    "q_x_text_replines" -> ((s, dir) => {
      val head40 = substring(col("text"), 1, 40)
      val next40 = substring(col("text"), 41, 40)
      val lined = concat_ws("\n", col("text"), head40,
        when(col("doc_id") % 3 === 0, head40).otherwise(next40))
      val paraed = concat_ws("\n\n", col("text"),
        when(col("doc_id") % 2 === 0, col("text")).otherwise(head40))
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.dupLineFraction(lined).as("dup_line_frac"),
          TextAnalysis.dupLineCharFraction(lined).as("dup_line_char_frac"),
          TextAnalysis.dupParagraphFraction(paraed).as("dup_para_frac"),
          TextAnalysis.dupParagraphCharFraction(paraed).as("dup_para_char_frac"))
        .orderBy("doc_id")
    }),

    // cross-document boilerplate strip over injected structure: every
    // doc of a source carries "NAV <source>" (100% doc-frequency →
    // stripped everywhere) and doc_id%3==0 docs carry
    // "PROMO <source>" (~33% df → kept at maxDocFrac=0.5); the head/
    // next slices of the unique text stay unique → kept
    "q_x_boilerplate" -> ((s, dir) => {
      val head40 = substring(col("text"), 1, 40)
      val next40 = substring(col("text"), 41, 40)
      val lined = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat_ws("\n", concat(lit("NAV "), col("source")), head40,
          when(col("doc_id") % 3 === 0,
            concat(lit("PROMO "), col("source"))).otherwise(next40),
          col("text")).as("ltext"))
      graft.text.Boilerplate.stripCommonSegments(lined, "doc_id", "ltext",
          "source", maxDocFrac = 0.5, minDocs = 3)
        .orderBy("doc_id")
    }),

    // corpus-similarity matrix: vocabulary Jaccard between every pair
    // of languages — distinct (group, token) pass, group-bounded
    // equi-join fan-out, exact-long division
    "q_x_vocab_overlap" -> ((s, dir) =>
      graft.text.CorpusDivergence.vocabOverlap(
          t(s, dir, "documents"), "lang", "text")
        .orderBy("g_a", "g_b")),

    // hybrid search: BM25 (lexical) + brute-force cosine (dense, over
    // the id-aligned embeddings) fused by Reciprocal Rank Fusion —
    // rank-only contributions 1/(60 + rank) summed per (query, doc)
    // in src-tag order, top-10 per query. The upstream rankers carry
    // the corpus-scale work; fusion sees queries × k rows.
    "q_x_hybrid_search" -> ((s, dir) => {
      val lex = graft.text.Bm25.search(t(s, dir, "documents"), "doc_id",
          "text", Seq(("0", "merge join table"), ("1", "fast scan query"),
            ("2", "stream window agg")), topK = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = graft.ann.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 3), k = 20)
        .select(col("query_id").cast("string").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      graft.text.HybridSearch.rrf(Seq(lex, dense), "query_id", "doc_id",
          topK = 10)
        .orderBy("query_id", "rank")
    }),

    // the 100 TB posture of the same fusion: the dense ranker is the
    // IVF index, not the guarded brute-force baseline. Probed at
    // nprobe = numLists here so the exhaustive-search oracle applies
    // exactly (full probe ≡ bruteForceTopK, pinned by SqAnnSpec);
    // production serves nprobe < numLists from the same code path —
    // HybridSearchSpec quantifies that recall trade with
    // RankingMetrics on real embeddings
    "q_x_hybrid_search_ivf" -> ((s, dir) => {
      val lex = graft.text.Bm25.search(t(s, dir, "documents"), "doc_id",
          "text", Seq(("0", "merge join table"), ("1", "fast scan query"),
            ("2", "stream window agg")), topK = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = graft.ann.Similarity.ivfTopK(emb,
          emb.filter(col("vec_id") < 3), k = 20, numLists = 8, nprobe = 8)
        .select(col("query_id").cast("string").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      graft.text.HybridSearch.rrf(Seq(lex, dense), "query_id", "doc_id",
          topK = 10)
        .orderBy("query_id", "rank")
    }),

    // the fully-PERSISTED serve stack end-to-end: lexical side from the
    // stored BM25 inverted index (buildIndex + searchIndexed), dense
    // side from stored IVF lists (writeIvfLists + ivfTopKFromLists) —
    // neither ranker touches the raw corpus at query time. Full probe
    // and serve≡search equalities make the same exact oracle apply;
    // this is the plan a production deployment would actually run
    "q_x_hybrid_search_served" -> ((s, dir) => {
      val root = tmpQueryDir("graft_hybsrv")
      graft.text.Bm25.buildIndex(t(s, dir, "documents"), "doc_id", "text",
        root + "/bm25")
      val lex = graft.text.Bm25.searchIndexed(s, root + "/bm25",
          Seq(("0", "merge join table"), ("1", "fast scan query"),
            ("2", "stream window agg")), topK = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val index = graft.ann.Similarity.buildIvfIndex(emb, numLists = 8)
        .localCheckpoint()
      graft.ann.Similarity.writeIvfLists(emb, index, root + "/ivf")
      val dense = graft.ann.Similarity.ivfTopKFromLists(s, root + "/ivf",
          emb.filter(col("vec_id") < 3), k = 20, nprobe = 8, index)
        .select(col("query_id").cast("string").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      graft.text.HybridSearch.rrf(Seq(lex, dense), "query_id", "doc_id",
          topK = 10)
        .orderBy("query_id", "rank")
    }),

    // WEIGHTED RRF — the tuning lever production stacks actually turn
    // (trust lexical 0.7, dense 0.3 here): ranker i contributes
    // w_i/(60 + rank), one IEEE division per contribution, same
    // src-tag-sorted fold, so the oracle stays bit-exact. The
    // weighted-vs-unweighted quality trade is MEASURED with
    // RankingMetrics in HybridSearchSpec — that is what the metric
    // trio exists for
    "q_x_hybrid_search_weighted" -> ((s, dir) => {
      val lex = graft.text.Bm25.search(t(s, dir, "documents"), "doc_id",
          "text", Seq(("0", "merge join table"), ("1", "fast scan query"),
            ("2", "stream window agg")), topK = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = graft.ann.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 3), k = 20)
        .select(col("query_id").cast("string").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      graft.text.HybridSearch.rrf(Seq(lex, dense), "query_id", "doc_id",
          topK = 10, weights = Seq(0.7, 0.3))
        .orderBy("query_id", "rank")
    }),

    // collocations: PMI over a 2-token lookahead window, pairs seen
    // >= 20 times — marginals from the pair table itself, ln rounded
    // to 6 per the cross-engine convention
    "q_x_pmi" -> ((s, dir) =>
      graft.text.Collocations.pmi(t(s, dir, "documents"), "text",
          window = 2, minCount = 20L)
        .orderBy("tok_a", "tok_b")),

    // concordance (KWIC): every occurrence of "window" with ±4 tokens
    // of context — narrow tokenize+explode+slice, match-proportional
    "q_x_concordance" -> ((s, dir) =>
      TextAnalysis.concordance(t(s, dir, "documents"), "doc_id", "text",
          term = "window", window = 4)
        .orderBy("doc_id", "pos")),

    "q_x_text_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.redactPii(concat(col("text"),
            lit(" contact: user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555 123-4567 now")))
            .as("redacted"))
        .orderBy("doc_id")),

    // the oracle-gated dedup queries run with md5Hash60 (bit-for-bit
    // reproducible in DuckDB, so candidates/pairs/simhash hash-verify
    // end-to-end); the xxhash64 scale default stays covered by the
    // known-dup ScalaTests
    "q_x_minhash_candidates" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
          n = 3, numPerms = 64, bands = 16, hash = TextAnalysis.md5Hash60)
        .orderBy("id_a", "id_b")),

    "q_x_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minJ = 0.4, numPerms = 64, bands = 16,
          hash = TextAnalysis.md5Hash60)
        .orderBy("id_a", "id_b")),

    // the measured LSH S-curve: per exact-jaccard bucket, how often the
    // configured banding (64 perms / 16 bands) surfaces the pair — the
    // evidence a (numPerms, bands) choice is tuned on, as an oracled
    // frame (exact long counts through one IEEE division each)
    "q_x_minhash_calibration" -> ((s, dir) =>
      Dedup.minhashCalibrationReport(t(s, dir, "documents"), "doc_id",
          "text", n = 3, numPerms = 64, bands = 16,
          hash = TextAnalysis.md5Hash60, buckets = 10)
        .orderBy("bucket")),

    "q_x_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text",
          hash = TextAnalysis.md5Hash60)
        .orderBy("id")),

    "q_x_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHam = 3,
          hash = TextAnalysis.md5Hash60)
        .orderBy("id_a", "id_b")),

    // ---- LLM-pipeline: text analysis
    "q_x_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          TextAnalysis.meanTokenLen(col("text")).as("mean_tok_len"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")),

    "q_x_text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "q_x_text_shingles" -> ((s, dir) =>
      TextAnalysis.withShingles(t(s, dir, "documents"), "text", "__sh", 3)
        .select(col("doc_id"), size(col("__sh")).as("n_shingles"))
        .orderBy("doc_id")),

    "q_x_text_bpe" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"))
        .orderBy("doc_id")),

    // trained BPE: distributed pre-token histogram → bounded top-K
    // collect → driver-side pair-merge loop (Bpe.scala scaladoc walks
    // the 100 TB reasoning); output = the learned merge table. Training
    // is a deterministic pure function of the corpus histogram
    // (deterministic top-K and tie-breaks), and the oracle REPLAYS it:
    // an unrolled 30-round merge-loop CTE over the same histogram, so
    // the check holds at any sf with no pinned vocab.
    "q_x_text_bpe_train" -> ((s, dir) => {
      val merges = Bpe.train(t(s, dir, "documents"), "text", numMerges = 30)
      Bpe.mergesDF(s, merges).orderBy("rank")
    }),

    // tokenization under a PINNED merge table (rank-ordered, hierarchy-
    // closed): per-doc subword counts through the native BpeWordEncode
    // expression. The oracle mirrors the encoder ALGORITHMICALLY in
    // DuckDB — sequential rank-order replace over a separator-seeded
    // symbol string is equivalent to the min-rank merge loop for any
    // trained table (each merge's parts are formed by earlier ranks) —
    // so the encoder itself sits under an independent oracle, not a pin.
    "q_x_text_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bpe.tokenCount(col("text"), PinnedBpeMerges).as("n_bpe_sub"))
        .orderBy("doc_id")),

    // the persisted-tokenizer lifecycle end-to-end: 18 merges trained
    // into a TxTable, 12 more appended as a CONTINUATION commit
    // (bit-identical to a 30-merge train — Bpe.extendMerges scaladoc +
    // TextBpeSpec), then the corpus tokenized under the LOADED table.
    // The oracle re-derives the same 30 merges with the bpe_train CTE
    // replay and applies them to every document word with the
    // bpe_tokens bracketed nested-replace construction — persistence,
    // continuation, and serve-side encode all under ONE independent
    // algorithmic mirror, no pinned vocab.
    "q_x_text_bpe_served" -> ((s, dir) => {
      val path = tmpQueryDir("graft_bpesrv") + "/merges"
      val docs = t(s, dir, "documents")
      Bpe.trainToTable(docs, "text", numMerges = 18, path)
      Bpe.extendMerges(s, path, docs, "text", extraMerges = 12)
      val merges = Bpe.loadMerges(s, path)
      docs.select(col("doc_id"),
          Bpe.tokenCount(col("text"), merges).as("n_bpe_sub"))
        .orderBy("doc_id")
    }),

    "q_x_text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // Gopher-style repetition filters: duplicate-token share, top-token
    // dominance, duplicate-3-gram share — all per-row array kernels
    "q_x_text_repetition" -> ((s, dir) =>
      TextAnalysis.withRepetitionSignals(
          t(s, dir, "documents").select("doc_id", "text"), "text", ngram = 3)
        .drop("text")
        .orderBy("doc_id")),

    // vocabulary coverage: top-50 tokens by corpus frequency with the
    // cumulative share of ALL token occurrences they cover — top-k
    // FIRST (TakeOrderedAndProject), then the 50-row cumulative window;
    // the full-vocab total arrives by broadcast, so no global window
    // ever sees the whole vocabulary
    "q_x_vocab" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("__total"))
      val top = graft.ops.Windows.globalTopK(counts,
        Seq(col("n").desc, col("token").asc), 50)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      top.crossJoin(broadcast(total))
        .withColumn("cum_share",
          sum(col("n")).over(w).cast("double") / col("__total").cast("double"))
        .drop("__total")
        .orderBy(col("n").desc, col("token").asc)
    }),

    // TF-IDF keyword extraction: top-3 salient terms per document under
    // the scikit-style smooth idf; ranking on the ROUNDED score keeps
    // two engines' last-ulp ln differences out of the order
    "q_x_tfidf" -> ((s, dir) =>
      graft.text.TfIdf.keywords(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")),

    // Okapi BM25 search: three fixed queries, top-10 docs each —
    // broadcast query terms pick only their posting lists, idf is the
    // one transcendental (rounded to 6 before use), and the
    // per-(query, doc) sum folds the token-sorted term array in one
    // defined order (cross-engine bit parity)
    "q_x_bm25" -> ((s, dir) =>
      graft.text.Bm25.search(t(s, dir, "documents"), "doc_id", "text",
          Seq(("q1", "merge join table"), ("q2", "fast scan query"),
            ("q3", "stream window agg")), topK = 10)
        .orderBy("query_id", "rank")),

    // the PERSISTED index end-to-end (the serve-many 100 TB posture):
    // build the inverted index over 2/3 of the corpus, appendToIndex
    // the other 1/3 (O(batch) ingest, sequence-guarded stats), serve
    // from the stored token-pruned postings — which must equal the
    // per-call search over the FULL corpus bit-exactly, so the same
    // oracle gates the build, the append, and the serve path at once
    "q_x_bm25_indexed" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_bm25idx") + "/index"
      val docs = t(s, dir, "documents")
      graft.text.Bm25.buildIndex(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", idx)
      graft.text.Bm25.appendToIndex(s, idx,
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      graft.text.Bm25.searchIndexed(s, idx,
          Seq(("q1", "merge join table"), ("q2", "fast scan query"),
            ("q3", "stream window agg")), topK = 10)
        .orderBy("query_id", "rank")
    }),

    // the WIRED maintenance lifecycle through the correctness gate:
    // build over 1/6 of the corpus, append the rest in five
    // micro-batches with the maintain policy riding each append
    // (maxFiles = 3 forces real in-query OPTIMIZE commits between
    // appends), serve from the self-compacted index. The same
    // full-corpus oracle as q_x_bm25_indexed gates it: maintenance is
    // layout-only, so however many compactions interleaved with the
    // appends, the served ranking must be bit-equal to an index that
    // was never fragmented
    "q_x_bm25_maintained" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_bm25mt") + "/index"
      val docs = t(s, dir, "documents")
      graft.text.Bm25.buildIndex(docs.filter(col("doc_id") % 6 === 0),
        "doc_id", "text", idx)
      val policy = Some(graft.ops.TxTable.Maintenance(maxFiles = 3))
      (1 to 5).foreach { i =>
        graft.text.Bm25.appendToIndex(s, idx,
          docs.filter(col("doc_id") % 6 === i), "doc_id", "text",
          checkDuplicates = false, maintain = policy)
      }
      graft.text.Bm25.searchIndexed(s, idx,
          Seq(("q1", "merge join table"), ("q2", "fast scan query"),
            ("q3", "stream window agg")), topK = 10)
        .orderBy("query_id", "rank")
    }),

    // the lifecycle's third leg: REMOVE documents (GDPR purge /
    // contamination excision) — build over the full corpus, delete 20
    // doc ids, serve. The oracle is the same BM25 SQL over the
    // surviving documents: df, N and avgdl must all reflect the
    // post-delete corpus exactly (stats are re-derived, not
    // decremented), so serving ≡ an index that never held the docs
    "q_x_bm25_removed" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_bm25rm") + "/index"
      graft.text.Bm25.buildIndex(t(s, dir, "documents"), "doc_id", "text",
        idx)
      graft.text.Bm25.removeFromIndex(s, idx, (1L to 20L))
      graft.text.Bm25.searchIndexed(s, idx,
          Seq(("q1", "merge join table"), ("q2", "fast scan query"),
            ("q3", "stream window agg")), topK = 10)
        .orderBy("query_id", "rank")
    }),

    // EXACT PHRASE search from the positional index — the capability
    // bag-of-words BM25 cannot express (it ranks "join merge" and
    // "merge join" identically): every query token at consecutive
    // positions, in order; ranked by occurrence count. The offset-vote
    // plan is pure equi-joins (posting position p under phrase offset
    // j votes for start p−j; a start with all k votes is an
    // occurrence), integers end to end
    "q_x_bm25_phrase" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_bm25ph") + "/index"
      graft.text.Bm25.buildIndex(t(s, dir, "documents"), "doc_id", "text",
        idx)
      graft.text.Bm25.phraseSearchIndexed(s, idx,
          Seq(("q1", "table hash"), ("q2", "slow hash batch"),
            ("q3", "spark")), topK = 10)
        .orderBy("query_id", "rank")
    }),

    // BOOLEAN retrieval from the persisted index (Lucene's
    // MUST/SHOULD/MUST_NOT): the must gate is a distinct-token count
    // equality, the mustNot gate a left-anti join, and ranking is the
    // searchIndexed BM25 arithmetic over must+should terms — all three
    // roles served from ONE manifest-pruned posting read
    "q_x_bm25_boolean" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_bm25bool") + "/index"
      graft.text.Bm25.buildIndex(t(s, dir, "documents"), "doc_id", "text",
        idx)
      graft.text.Bm25.booleanSearchIndexed(s, idx, Seq(
          graft.text.Bm25.BooleanQuery("b1", must = "merge join",
            should = "table"),
          graft.text.Bm25.BooleanQuery("b2", must = "fast",
            should = "scan query", mustNot = "stream"),
          graft.text.Bm25.BooleanQuery("b3", must = "",
            should = "window agg", mustNot = "merge")),
          topK = 10)
        .orderBy("query_id", "rank")
    }),

    // unordered NEAR/w proximity from the positional index: every
    // query token within one 8-token window, ranked by the count of
    // matching window starts — phrase search's order-free sibling,
    // integers end to end
    "q_x_bm25_near" -> ((s, dir) => {
      val idx = tmpQueryDir("graft_bm25nr") + "/index"
      graft.text.Bm25.buildIndex(t(s, dir, "documents"), "doc_id", "text",
        idx)
      graft.text.Bm25.proximitySearchIndexed(s, idx,
          Seq(("q1", "merge table"), ("q2", "fast query"),
            ("q3", "stream window agg")),
          window = 8, topK = 10)
        .orderBy("query_id", "rank")
    }),

    // hard-negative mining for contrastive training: each (query,
    // positive) paired with the top-3 highest-BM25-scored candidates
    // NOT labeled positive — the standard embedding-training recipe;
    // positives here are the search's own top-2 (a deterministic
    // label set), negatives the re-ranked remainder
    "q_x_hard_negatives" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = graft.text.Bm25.search(docs, "doc_id", "text",
        Seq(("q1", "merge join table"), ("q2", "fast scan query"),
          ("q3", "stream window agg")), topK = 10)
      val pos = cand.filter(col("rank") <= 2).select("query_id", "doc_id")
      graft.pipeline.Contrastive.mineTriplets(cand, pos, k = 3)
        .orderBy("query_id", "positive_id", "neg_rank")
    }),

    "q_x_text_winnow" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "text", "fp",
          k = 8, w = 4, hash = graft.functions.GramHash.Md5Hash60)
        .select(col("doc_id"), size(col("fp")).as("n_fingerprints"),
          array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
        .orderBy("doc_id")),

    // CCNet-style bigram-LM quality score: fit on the corpus, score the
    // corpus — mean per-position ln p under an interpolated bigram model
    // with add-one unigram backoff. Docs with < 2 tokens score NULL.
    "q_x_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val model = LmScore.fit(docs, "text")
      LmScore.scoreDocs(docs, "doc_id", "text", model)
        .select("doc_id", "lm_score").orderBy("doc_id")
    }),

    // CCNet head/middle/tail: per-language percent_rank over the LM
    // score (best-first via the negated score — ties share rank), cut
    // at thirds; the standard perplexity-bucket recipe, composed from
    // two oracled primitives (LmScore, groupPercentRank)
    "q_x_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val model = LmScore.fit(docs.select("doc_id", "text"), "text")
      val scored = LmScore.scoreDocs(docs.select("doc_id", "text"),
          "doc_id", "text", model)
        .select("doc_id", "lm_score").filter(col("lm_score").isNotNull)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("__neg", -col("lm_score"))
      graft.ops.Prefix.groupPercentRank(scored, "lang", "__neg", "pr")
        .withColumn("bucket", when(col("pr") < 1.0 / 3, "head")
          .when(col("pr") < 2.0 / 3, "middle").otherwise("tail"))
        .select("doc_id", "lang", "lm_score", "bucket")
        .orderBy("doc_id")
    }),

    "q_x_events_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // composed training-data pipeline: the oracled variant disables the
    // near-dup stage (its MinHash sampling hash has no DuckDB
    // equivalent) and sampling; the full variant runs everything
    "q_x_training_pipeline" -> ((s, dir) =>
      graft.pipeline.TrainingData.run(t(s, dir, "documents"),
          graft.pipeline.TrainingDataConfig(minQuality = 0.3, nearDup = false))
        .orderBy("doc_id")),

    "q_x_training_pipeline_full" -> ((s, dir) =>
      graft.pipeline.TrainingData.run(t(s, dir, "documents"),
          graft.pipeline.TrainingDataConfig(minQuality = 0.3, nearDup = true,
            minJaccard = 0.5, sampleFraction = 0.8,
            minhashHash = TextAnalysis.md5Hash60,
            sampleHash = (salt, id) =>
              TextAnalysis.md5Hash60(concat_ws(":", salt, id))))
        .orderBy("doc_id")),

    "q_x_training_report" -> ((s, dir) =>
      graft.pipeline.TrainingData.report(
          graft.pipeline.TrainingData.run(t(s, dir, "documents"),
            graft.pipeline.TrainingDataConfig(minQuality = 0.3, nearDup = false)))
        .orderBy("lang_pred")),

    // per-stage survival funnel of the FULL pipeline config (near-dup
    // on, 80% sample) — oracle-reproducible hashes as in _full
    "q_x_funnel" -> ((s, dir) =>
      graft.pipeline.TrainingData.funnel(t(s, dir, "documents"),
          graft.pipeline.TrainingDataConfig(minQuality = 0.3, nearDup = true,
            minJaccard = 0.5, sampleFraction = 0.8,
            minhashHash = TextAnalysis.md5Hash60,
            sampleHash = (salt, id) =>
              TextAnalysis.md5Hash60(concat_ws(":", salt, id))))
        .orderBy("stage_idx")),

    // ---- LLM-pipeline: sequence packing + corpus mixing
    "q_x_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(t(s, dir, "documents"), "doc_id", "n_chars",
          budget = 4096L, streams = 32, hash = TextAnalysis.md5Hash60)
        .select(col("doc_id"), col("pack_stream"), col("pack_offset"),
          col("pack_chunk"))
        .orderBy("doc_id")),

    // composed data-selection recipe over the NEW round-5 operators:
    // LM-score gate → exact dedup (canonical = lowest doc_id per
    // fingerprint) → deterministic hash split → per-split token report.
    // Every stage is individually oracled; this pins the composition.
    "q_x_recipe" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val model = LmScore.fit(docs, "text")
      val gated = LmScore.scoreDocs(docs, "doc_id", "text", model)
        .filter(col("lm_score") >= -3.4)
      val deduped = graft.dedup.Dedup.exactDedup(gated, "text", "doc_id")
      Sampling.splitByHash(deduped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hash = (salt, id) => TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("split")
    }),

    // one-pass per-column profile (exact-distinct mode so DuckDB can
    // mirror it; integral/string columns only — float/timestamp
    // renderings are engine-specific by design)
    "q_x_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
          approxDistinct = false)
        .orderBy("column")),

    // the 100 TB profiling mode, oracled: deterministic stats flow
    // through the HLL plan and `hll_ok` asserts each estimate sits
    // within ±20% (4× rsd) of the exact cardinality — the oracle pins
    // it TRUE, so an out-of-envelope estimator hash-mismatches
    "q_x_profile_approx" -> ((s, dir) =>
      graft.ops.Profile.profileChecked(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")),

    // the 100 TB distinct-count mode, grouped and oracled: mergeable
    // HLL per customer-nation group, envelope-checked in-plan against
    // exact countDistinct — the oracle pins hll_ok TRUE and recomputes
    // the exact counts (the hashable payload)
    "q_x_distinct_approx" -> ((s, dir) =>
      graft.ops.Sketches.approxDistinctChecked(
          t(s, dir, "customer"), "c_nationkey", col("c_custkey"))
        .orderBy("c_nationkey")),

    // persisted HLL sketch table — the incremental-analytics
    // lifecycle: per-(event_type, day) distinct-user sketches built
    // over 2/3 of the days, the rest APPENDED in O(batch) (history
    // never re-read), served per event_type by unioning the stored
    // grain sketches; the in-plan exact check gates the estimate
    // (±20% rel, ±1 abs floor — 4× honest lgK=12 noise) so an
    // out-of-envelope serve hash-mismatches
    "q_x_hll_grains" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("user_id"))
      val root = tmpQueryDir("graft_hllg") + "/sketches"
      graft.ops.Sketches.writeHllGrains(
        ev.filter(dayofmonth(col("d")) % 3 =!= 0), root,
        Seq("event_type", "d"), col("user_id"))
      graft.ops.Sketches.appendHllGrains(s, root,
        ev.filter(dayofmonth(col("d")) % 3 === 0),
        Seq("event_type", "d"), col("user_id"))
      val served = graft.ops.Sketches.hllServe(s, root, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_distinct"))
      served.join(exact, "event_type")
        .select(col("event_type"), col("n_distinct"),
          (abs(col("approx_distinct") - col("n_distinct")) <=
            greatest(lit(1.0), col("n_distinct") * 0.2)).as("hll_ok"))
        .orderBy("event_type")
    }),

    // the 100 TB quantile mode, oracled: mergeable KLL sketches per
    // group, envelope-checked in-plan against exact rank-element
    // quantiles (computed on the distributed group rank, no
    // single-task groups). The oracle pins kll_ok TRUE and recomputes
    // exact_q — an out-of-envelope sketch hash-mismatches
    "q_x_quantiles_approx" -> ((s, dir) =>
      graft.ops.Sketches.approxQuantilesChecked(
          t(s, dir, "orders"), "o_orderstatus", col("o_totalprice"),
          Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("o_orderstatus", "prob")),

    // the KLL member of the sketch-table lifecycle: per-(event_type,
    // day) value-quantile sketches, 2/3 built + 1/3 appended in
    // O(batch), quartiles served per event_type by unioning the
    // stored grains, envelope-checked in-plan against exact
    // rank-element quantiles (the q_x_quantiles_approx convention)
    "q_x_kll_grains" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("value"))
      val root = tmpQueryDir("graft_kllg") + "/sketches"
      graft.ops.Sketches.writeKllGrains(
        ev.filter(dayofmonth(col("d")) % 3 =!= 0), root,
        Seq("event_type", "d"), col("value"))
      graft.ops.Sketches.appendKllGrains(s, root,
        ev.filter(dayofmonth(col("d")) % 3 === 0),
        Seq("event_type", "d"), col("value"))
      graft.ops.Sketches.kllServeChecked(s, root, ev, "event_type",
          col("value"), Seq(0.25, 0.5, 0.75))
        .orderBy("event_type", "prob")
    }),

    // SemDeDup: cluster-then-dedup over embeddings. Centroids here are
    // the 8 lowest-id embeddings (deterministic seed rule the oracle
    // reproduces); production passes buildIvfIndex's k-means lists
    "q_x_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("list_id"),
          col("embedding").cast("array<double>").as("centroid"))
        .withColumn("cent_n", graft.ann.Similarity.norm(col("centroid")))
        .filter(col("cent_n") > 0)
      graft.dedup.SemDedup.semDedup(emb, cents, threshold = 0.42)
        .select("vec_id").orderBy("vec_id")
    }),

    // SemDedup the way a 100 TB pipeline must run it: the clustering
    // is PERSISTED (writeModel: centroids + full assignment, the fit
    // paid once) and the dedup is served from the stored assignments
    // alone — no re-fit, no corpus re-scan, threshold a serve-time
    // knob. Same centroids ⇒ same clusters ⇒ the q_x_semdedup oracle
    // gates the persisted path bit-exactly
    "q_x_semdedup_served" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("list_id"),
          col("embedding").cast("array<double>").as("centroid"))
        .withColumn("cent_n", graft.ann.Similarity.norm(col("centroid")))
        .filter(col("cent_n") > 0)
      val root = tmpQueryDir("graft_semsrv") + "/model"
      graft.dedup.SemDedup.writeModel(emb, cents, root)
      graft.dedup.SemDedup.semDedupServed(s, root, threshold = 0.42)
        .select("vec_id").orderBy("vec_id")
    }),

    // the model's removal leg: write over the FULL corpus, purge 20
    // ids in one atomic manifest-pruned delete (centroids fixed;
    // assignments per-row independent under fixed centroids), serve —
    // which must equal the fit over a corpus never holding the rows,
    // so the oracle is the same SQL with the ids filtered out
    "q_x_semdedup_removed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("list_id"),
          col("embedding").cast("array<double>").as("centroid"))
        .withColumn("cent_n", graft.ann.Similarity.norm(col("centroid")))
        .filter(col("cent_n") > 0)
      val root = tmpQueryDir("graft_semrm") + "/model"
      graft.dedup.SemDedup.writeModel(emb, cents, root)
      graft.dedup.SemDedup.removeFromModel(s, root, (100L to 119L))
      graft.dedup.SemDedup.semDedupServed(s, root, threshold = 0.42)
        .select("vec_id").orderBy("vec_id")
    }),

    // global quality rank + decile labels — row_number over a total
    // order via the distributed prefix sum (scalable curriculum
    // bucketing), integer decile arithmetic mirrored by the oracle
    "q_x_global_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val total = docs.count()
      graft.ops.Prefix.globalRowNumber(docs,
          Seq(col("quality").desc, col("doc_id").asc), "rank")
        .withColumn("decile", ((col("rank") - 1) * 10 / lit(total) + 1).cast("int"))
        .orderBy("doc_id")
    }),

    // per-customer trailing-30-day rolling order stats: RANGE frame on
    // event time, partitioned by key — every partition windows in
    // parallel (count/max only: frame-order-insensitive, so the
    // result is engine-reproducible; a rolling double SUM would not be)
    "q_x_rolling" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("rolling_cnt", count(lit(1)).over(w))
        .withColumn("rolling_max_price", max(col("o_totalprice")).over(w))
        .drop("o_totalprice")
        .orderBy("o_orderkey")
    }),

    // DSIR importance weights: target = the English subcorpus, raw =
    // everything; hashed unigram+bigram features, add-one-smoothed
    // bucket log-ratios — positive weight = more target-like
    "q_x_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      val model = graft.text.Dsir.fit(
        docs.filter(col("lang") === "en"), docs, "text", buckets = 1024)
      graft.text.Dsir.score(docs, "doc_id", "text", model)
        .select("doc_id", "lang", "dsir_weight").orderBy("doc_id")
    }),

    // token-budget corpus selection: best-first by quality score with a
    // running token total — the distributed two-pass prefix sum (range
    // partition + local window + broadcast offsets), never a
    // single-task global window
    "q_x_budget_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      // keep the best 60% of the corpus's tokens, whatever the sf
      val budget = docs.agg(sum("n_tokens")).head().getLong(0) * 6 / 10
      graft.ops.Prefix.budgetSelect(docs, col("quality"), col("doc_id"),
          col("n_tokens"), budget)
        .orderBy("doc_id")
    }),

    // per-LANGUAGE token budget: best-first within each language until
    // half that language's tokens are kept — the grouped prefix sum
    // (range partition spans big groups across tasks + per-(pid,group)
    // window + broadcast offsets), never a language-partitioned window
    // that funnels a whole language through one task
    "q_x_budget_per_group" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val budgets = docs.groupBy("lang")
        .agg(expr("(sum(n_tokens) * 5) div 10").as("lang_budget"))
      graft.ops.Prefix.budgetSelectPerGroup(
          docs.join(broadcast(budgets), Seq("lang")), "lang",
          col("quality"), col("doc_id"), col("n_tokens"), col("lang_budget"))
        .select("doc_id", "lang", "quality", "n_tokens", "running_tokens")
        .orderBy("doc_id")
    }),

    // deterministic train/val/test split: id-hash buckets against
    // cumulative cuts — disjoint and total by construction, and the
    // md5-based hash makes the assignment reproducible in any engine
    "q_x_split" -> ((s, dir) =>
      Sampling.splitByHash(t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hash = (salt, id) => TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .orderBy("doc_id")),

    // deterministic training shards: a salted-hash global shuffle
    // order, then shard = (rank-1) div 64 on the distributed prefix
    // rank — every shard but the last exactly 64 docs, reproducible
    // across runs/partitionings/engines (writeShards lands one FILE
    // per shard; the on-disk contract is spec-asserted)
    "q_x_shards" -> ((s, dir) =>
      Packing.assignShards(
          t(s, dir, "documents").select("doc_id", "lang"),
          Seq(TextAnalysis.md5Hash60(
            concat_ws(":", lit("shard"), col("doc_id"))).asc,
            col("doc_id").asc),
          rowsPerShard = 64)
        .orderBy("doc_id")),

    "q_x_mix_corpora" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val weights = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15,
        "es" -> 0.1, "zh" -> 0.05)
      Sampling.mixCorpora(
          weights.map { case (l, w) => (l, docs.filter(col("lang") === l), w) },
          "doc_id",
          hash = (salt, id) => TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .select(col("doc_id"), col("lang"), col("mix_source"))
        .orderBy("doc_id")
    }),

    // exactly-n deterministic sample: the 120 globally smallest salted
    // id-hashes, planned as TakeOrderedAndProject (per-partition heaps,
    // no global sort)
    "q_x_sample_exact" -> ((s, dir) =>
      Sampling.sampleExact(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", n = 120,
          hash = (salt, id) => TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .orderBy("doc_id")),

    // per-domain cap (RefinedWeb): at most 10 docs per source, the 10
    // smallest salted id-hashes — rides the bounded-heap aggregate, so
    // the shuffle is O(sources*10) however hot a source is
    "q_x_domain_cap" -> ((s, dir) =>
      Sampling.perGroupSample(
          t(s, dir, "documents").select("doc_id", "source"),
          Seq("source"), "doc_id", k = 10,
          hash = (salt, id) => TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .orderBy("doc_id")),

    // temperature-scaled mixing over a deliberately SKEWED fixture
    // (source src<k> keeps only doc_id%4 <= k%4, so group sizes span
    // ~28-100%): sqrt weights over-sample small sources and the
    // smallest hit the f=1 cap at targetFraction=0.8
    "q_x_mix_temperature" -> ((s, dir) => {
      val skewed = t(s, dir, "documents")
        .filter(col("doc_id") % 4 <=
          substring(col("source"), 4, 10).cast("int") % 4)
        .select("doc_id", "source")
      Sampling.temperatureMix(skewed, "source", "doc_id",
          targetFraction = 0.8,
          hash = (salt, id) => TextAnalysis.md5Hash60(concat_ws(":", salt, id)))
        .orderBy("doc_id")
    }),

    // incremental dedup: bootstrap an index from 2/3 of the corpus,
    // ingest the other 1/3 against it — survivors are the batch docs
    // that are novel vs the index AND canonical within the batch
    "q_x_inc_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = tmpQueryDir("graft_incdedup") + "/idx"
      val cfg = graft.dedup.IncDedupConfig(n = 3, numPerms = 64, bands = 16,
        minAgree = 0.5, hash = TextAnalysis.md5Hash60)
      graft.dedup.IncrementalDedup.init(s, idx,
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", cfg)
      graft.dedup.IncrementalDedup.ingest(s, idx,
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", cfg)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // the signature index's removal leg — and a CORRECTNESS property,
    // not just hygiene: a purged doc's lingering signature would keep
    // suppressing near-dups of a document no longer in the corpus.
    // Init over 2/3, purge the indexed ids < 200 (one atomic pruned
    // delete), ingest the last 1/3 — survivors must equal the
    // batch-global decision against the SURVIVING old corpus (a
    // non-vacuous fixture: at sf0.01 four batch docs flip from
    // dropped to surviving because their only near-dup was purged)
    "q_x_inc_dedup_removed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = tmpQueryDir("graft_incrm") + "/idx"
      val cfg = graft.dedup.IncDedupConfig(n = 3, numPerms = 64, bands = 16,
        minAgree = 0.5, hash = TextAnalysis.md5Hash60)
      graft.dedup.IncrementalDedup.init(s, idx,
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", cfg)
      graft.dedup.IncrementalDedup.remove(s, idx, (1L to 199L))
      graft.dedup.IncrementalDedup.ingest(s, idx,
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", cfg)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // embedding-distribution drift between two snapshots (even/odd ids
    // as the two "crawls") under one shared centroid table: per-list
    // masses and shares, absolute drift, and the corpus-level TV
    // distance folded in list_id order — transcendental-free, so the
    // whole monitor hash-oracles (the CorpusDivergence design, dense)
    "q_x_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("list_id"),
          col("embedding").cast("array<double>").as("centroid"))
        .withColumn("cent_n", graft.ann.Similarity.norm(col("centroid")))
        .filter(col("cent_n") > 0)
      graft.ann.EmbeddingDrift.clusterMass(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), cents)
        .orderBy("list_id")
    }),

    // ---- LLM-pipeline: similarity search over embeddings
    "q_x_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_x_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
          numLists = 8, nprobe = 8)
        .orderBy("query_id", "rank")
    }),

    // SQ8 serving: full-precision queries against the 8-bit-quantized
    // corpus — every arithmetic step (train ranges, encode, dequantize,
    // in-order double dot) is mirrored exactly in the oracle, so the
    // hash pins the whole quantization pipeline, not just the ranking
    "q_x_ann_sq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranges = Similarity.sqTrain(emb)
      val codes = Similarity.sqEncode(emb, ranges)
      Similarity.sqTopK(codes, ranges, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),

    // SQ8 × IVF at FULL probe: list routing cannot change the result
    // (every list probed), so the oracle is exactly the sqTopK replay
    // over the zero-norm-filtered corpus — pins that quantized lists
    // serve what the flat quantized scan serves
    "q_x_ann_sq_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sqIvfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
          numLists = 8, nprobe = 8)
        .orderBy("query_id", "rank")
    }),

    // the persisted SQ8 lifecycle end-to-end: train the codebook on 2/3
    // of the corpus (frozen from then on — the FAISS train/add split),
    // sqAppend the other 1/3 encoded under it (values outside the
    // trained range clamp to the edge), sqRemove 20 ids (one atomic
    // pruned delete), serve full-precision queries against the stored
    // codes — every arithmetic step mirrored exactly in the oracle
    "q_x_ann_sq_served" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = tmpQueryDir("graft_sqidx") + "/sq"
      Similarity.writeSqIndex(emb.filter(col("vec_id") % 3 =!= 0), root)
      Similarity.sqAppend(s, root, emb.filter(col("vec_id") % 3 === 0))
      Similarity.sqRemove(s, root, (8L to 27L))
      Similarity.sqTopKFromCodes(s, root, emb.filter(col("vec_id") < 8),
          k = 5)
        .orderBy("query_id", "rank")
    }),

    // product quantization (Jégou et al., FAISS `PQ8`): 8 subspaces ×
    // 8 dims of the 64-dim embeddings, 16 seed codes per subspace
    // (deterministic smallest-id seeds — the SemDedup fixed-seed
    // pattern), ADC lookup-table scoring over 8-byte codes (32× less
    // serving memory than the floats) — every arithmetic step (seed
    // slicing, first-index L2 argmin encode, in-subspace-order LUT
    // folds, reconstruction norms) is mirrored exactly in the oracle
    "q_x_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cbs = Similarity.pqTrainSeed(emb, m = 8, ksub = 16)
      val codes = Similarity.pqEncode(emb, cbs)
      Similarity.pqTopK(codes, cbs, emb.filter(col("vec_id") < 8), k = 5)
        .orderBy("query_id", "rank")
    }),

    // PQ × IVF at FULL probe ≡ flat PQ over the zero-norm-filtered
    // corpus (global codebooks, no residuals — routing cannot change
    // the ADC ranking when every list is probed)
    "q_x_ann_pq_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqIvfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
          numLists = 8, nprobe = 8, m = 8, ksub = 16)
        .orderBy("query_id", "rank")
    }),

    // residual IVF-PQ (FAISS's IVFPQ proper): deterministic seed
    // routing centroids (L2 assignment, first-index ties), residuals
    // v − c(list) PQ-encoded, table-driven ADC serve — at full probe
    // the oracle mirrors the WHOLE pipeline (assignment → residual →
    // encode → lookup folds) bit-exactly
    "q_x_ann_pq_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqIvfResidualTopK(emb, emb.filter(col("vec_id") < 8),
          k = 5, numLists = 8, nprobe = 8, m = 8, ksub = 16)
        .orderBy("query_id", "rank")
    }),

    // the persisted PQ lifecycle end-to-end: seed codebooks on 2/3 of
    // the corpus (frozen from then on — the FAISS train/add split),
    // pqAppend the other 1/3 encoded under them, pqRemove 20 ids (one
    // atomic manifest-pruned delete), serve full-precision queries
    // from the stored 8-byte codes
    "q_x_ann_pq_served" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = tmpQueryDir("graft_pqidx") + "/pq"
      Similarity.writePqIndex(emb.filter(col("vec_id") % 3 =!= 0), root,
        m = 8, ksub = 16)
      Similarity.pqAppend(s, root, emb.filter(col("vec_id") % 3 === 0))
      Similarity.pqRemove(s, root, (8L to 27L))
      Similarity.pqTopKFromCodes(s, root, emb.filter(col("vec_id") < 8),
          k = 5)
        .orderBy("query_id", "rank")
    }),

    // INCREMENTAL index maintenance end-to-end: build centroids + lists
    // over 2/3 of the corpus, ivfAppend the other 1/3 (no rebuild — the
    // streaming ingest path), serve from the persisted lists probing
    // every list — which must equal exhaustive search over the FULL
    // corpus, so the brute-force oracle gates the append path exactly
    "q_x_ann_ivf_inc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lists = tmpQueryDir("graft_ivfinc") + "/lists"
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val index = Similarity.buildIvfIndex(base, numLists = 8)
        .localCheckpoint()
      Similarity.writeIvfLists(base, index, lists)
      Similarity.ivfAppend(s, lists, index,
        emb.filter(col("vec_id") % 3 === 0))
      Similarity.ivfTopKFromLists(s, lists, emb.filter(col("vec_id") < 8),
          k = 5, nprobe = 8, index)
        .orderBy("query_id", "rank")
    }),

    // the WIRED maintenance lifecycle on the VECTOR side (the dense
    // mirror of q_x_bm25_maintained): centroids + lists over 1/6 of
    // the corpus, five maintained ivfAppend micro-batches (maxFiles =
    // 3 forces real in-query compactions between appends — including
    // the fragment-only scope when the head has healthy files to
    // keep), serve probing every list. Maintenance is layout-only and
    // full probe is exhaustive search, so the brute-force oracle gates
    // the whole wired path end-to-end
    "q_x_ann_ivf_maintained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lists = tmpQueryDir("graft_ivfmt") + "/lists"
      val base = emb.filter(col("vec_id") % 6 === 0)
      val index = Similarity.buildIvfIndex(base, numLists = 8)
        .localCheckpoint()
      Similarity.writeIvfLists(base, index, lists)
      val policy = Some(graft.ops.TxTable.Maintenance(maxFiles = 3))
      (1 to 5).foreach { i =>
        Similarity.ivfAppend(s, lists, index,
          emb.filter(col("vec_id") % 6 === i), maintain = policy)
      }
      Similarity.ivfTopKFromLists(s, lists, emb.filter(col("vec_id") < 8),
          k = 5, nprobe = 8, index)
        .orderBy("query_id", "rank")
    }),

    // the dense index lifecycle's third leg (mirroring q_x_bm25_removed
    // on the lexical side): build centroids + persisted lists over the
    // FULL corpus, ivfRemove 20 vector ids (one atomic manifest-pruned
    // copy-on-write delete; centroids stay fixed — FAISS remove_ids
    // semantics), serve probing every list — which must equal
    // exhaustive search over the SURVIVING vectors exactly, so the
    // brute-force-minus-victims oracle pins that removal left no trace
    "q_x_ann_ivf_removed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lists = tmpQueryDir("graft_ivfrm") + "/lists"
      val index = Similarity.buildIvfIndex(emb, numLists = 8)
        .localCheckpoint()
      Similarity.writeIvfLists(emb, index, lists)
      Similarity.ivfRemove(s, lists, (8L to 27L))
      Similarity.ivfTopKFromLists(s, lists, emb.filter(col("vec_id") < 8),
          k = 5, nprobe = 8, index)
        .orderBy("query_id", "rank")
    }),

    "q_x_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5, numPlanes = 4)
        .orderBy("query_id", "rank")
    }),

    // MMR diversity rerank (Carbonell & Goldstein) of brute-force
    // top-20 candidates: greedy λ·rel − (1−λ)·max-cos-to-selected,
    // k=5 picks per query — work is queries × candidates × k by
    // construction, corpus-independent; the oracle unrolls the same
    // five greedy steps with identical IEEE arithmetic
    "q_x_ann_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 4)
      val cands = Similarity.bruteForceTopK(emb, qs, k = 20)
        .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"))
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding")), Seq("neighbor_id"))
      graft.ann.Mmr.rerank(cands, k = 5, lambda = 0.7)
        .orderBy("query_id", "mmr_rank")
    }),

    // ranking metrics: recall@5 and MRR of single-probe LSH against
    // the exact brute-force truth, per query — the measured cost of
    // the bucketing, as an oracled frame (ints and two IEEE divisions)
    "q_x_ranking_metrics" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(emb, qs, k = 5)
      val cand = Similarity.lshTopK(emb, qs, k = 5, numPlanes = 4)
      graft.ann.RankingMetrics.compare(cand, truth, "query_id",
          "neighbor_id", k = 5)
        .orderBy("query_id")
    }),

    // nDCG@5 of the same LSH-vs-brute pairing: graded relevance from
    // truth rank (best truth doc worth k, k-th worth 1), log2 discount
    // rounded to 6 before the division, per-query sums folded in rank
    // order — the metric that ranks rankers, as an oracled frame
    "q_x_ranking_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(emb, qs, k = 5)
      val cand = Similarity.lshTopK(emb, qs, k = 5, numPlanes = 4)
      graft.ann.RankingMetrics.ndcg(cand, truth, "query_id",
          "neighbor_id", k = 5)
        .orderBy("query_id")
    }),

    // average precision @5 of the same pairing — the trio's third
    // metric (recall/MRR see set membership and the first hit, nDCG a
    // graded order; AP rewards putting EVERY truth member early).
    // Transcendental-free: integer counts through IEEE divisions,
    // rank-ordered fold — no rounding convention needed
    "q_x_ranking_ap" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(emb, qs, k = 5)
      val cand = Similarity.lshTopK(emb, qs, k = 5, numPlanes = 4)
      graft.ann.RankingMetrics.averagePrecision(cand, truth, "query_id",
          "neighbor_id", k = 5)
        .orderBy("query_id")
    }),

    "q_x_ann_lsh_mp" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5, numPlanes = 4,
          probeRadius = 1)
        .orderBy("query_id", "rank")
    }),

    "q_x_cosine_dups" -> ((s, dir) =>
      Dedup.cosineDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          minCos = 0.42)
        .orderBy("id_a", "id_b")),

    "q_x_cosine_dups_lsh" -> ((s, dir) =>
      Dedup.cosineDupPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
          minCos = 0.42, numPlanes = 4)
        .orderBy("id_a", "id_b")),

    // the 100 TB posture of the same operator: buckets over the row
    // ceiling are dropped BEFORE the self-join, bounding per-key
    // fan-out at cap²/2 however degenerate the embedding distribution
    // gets (capped semantics — pairs in oversize buckets are missed,
    // the recall trade LSH already makes; the oracle mirrors the cap)
    "q_x_cosine_dups_lsh_capped" -> ((s, dir) =>
      Dedup.cosineDupPairsLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
          minCos = 0.42, numPlanes = 4, maxBucketRows = Some(35))
        .orderBy("id_a", "id_b")),

    // ---- LLM-pipeline: event-time batch windows
    "q_x_events_tumbling" -> ((s, dir) =>
      EventWindows.tumbling(t(s, dir, "events"), "ts", "10 minutes",
          Seq("event_type"),
          Seq(count(lit(1)).as("n"),
            Aggregations.moneySum(col("value")).as("total_value")))
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          date_format(col("wend"), "yyyy-MM-dd HH:mm:ss").as("wend"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("wstart", "event_type")),

    // fixed-step resample + forward fill: one row per user per hour of
    // the user's active span; empty hours carry the last value forward
    "q_x_resample" -> ((s, dir) =>
      EventWindows.resampleFfill(t(s, dir, "events"), "ts", 3600L,
          Seq("user_id"), "value", "event_id")
        .orderBy("user_id", "bucket")),

    "q_x_events_sliding" -> ((s, dir) =>
      EventWindows.sliding(t(s, dir, "events"), "ts", "10 minutes", "5 minutes",
          Seq("event_type"),
          Seq(count(lit(1)).as("n"),
            Aggregations.moneySum(col("value")).as("total_value")))
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          date_format(col("wend"), "yyyy-MM-dd HH:mm:ss").as("wend"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("wstart", "event_type")),

    "q_x_events_session" -> ((s, dir) =>
      EventWindows.sessionize(t(s, dir, "events"), "ts", "30 minutes",
          Seq("user_id"),
          Seq(count(lit(1)).as("n"),
            Aggregations.moneySum(col("value")).as("total_value")))
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          date_format(col("wend"), "yyyy-MM-dd HH:mm:ss").as("wend"),
          col("user_id"), col("n"), col("total_value"))
        .orderBy("user_id", "wstart")),

    "q_x_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.ops.AsofJoin.asof(purchases, errors, Seq("user_id"), "ts",
          Seq("err_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value"), col("err_value"))
        .orderBy("event_id")
    }),

    // forward as-of: the EARLIEST error at-or-after each purchase —
    // pandas merge_asof(direction='forward'), same one-shuffle union
    // plan with the carry reversed (first over the following window)
    "q_x_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.ops.AsofJoin.asof(purchases, errors, Seq("user_id"), "ts",
          Seq("err_value"), direction = "forward")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value"), col("err_value"))
        .orderBy("event_id")
    }),

    // nearest as-of WITH tolerance: the closer of the two per-side
    // candidates (equidistant → backward), nulled when farther than
    // 1 hour — merge_asof(direction='nearest', tolerance=...); two
    // window passes over the same keyed exchange, interval arithmetic
    // exact on both engines
    "q_x_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.ops.AsofJoin.asof(purchases, errors, Seq("user_id"), "ts",
          Seq("err_value"), direction = "nearest",
          tolerance = Some(expr("INTERVAL '1' HOUR")))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value"), col("err_value"))
        .orderBy("event_id")
    }),

    // banded range join: per-user count of event pairs within ±2 h —
    // the banding rewrite (equi-join on (user, 4h-bucket) + refine)
    // must return exactly the inequality join's pairs
    "q_x_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.select(col("event_id").as("l_event_id"), col("user_id"),
        col("ts").as("l_ts"))
      val r = ev.select(col("event_id").as("r_event_id"), col("user_id"),
        col("ts").as("r_ts"))
      graft.ops.RangeJoin.timeBandJoin(l, r, Seq("user_id"),
          "l_ts", "r_ts", -7200L, 7200L)
        .where(col("l_event_id") =!= col("r_event_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // ---- LLM-pipeline: multimodal column plumbing
    "q_x_mm_meta" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "text", "source"))
        .toDF()
        .select("media_id", "media_type", "byte_len")
        .orderBy("media_id")),

    // the normalized feature VECTOR is projected back to 8 scalar bucket
    // counts (exact integers — hist[k]/total*total rounds to the count),
    // because the driver's comparator cannot hash array cells
    "q_x_mm_features" -> ((s, dir) => {
      val feats = Multimodal.extractFeatures(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "text", "source"))
        .toDF()
      val buckets = (0 until 8).map(k =>
        round(element_at(col("features"), k + 1) * col("byte_len"))
          .cast("long").as(s"c$k"))
      feats.select(col("media_id") +: col("byte_len") +: buckets: _*)
        .orderBy("media_id")
    }),

    // REAL image decode: synthesize one deterministic PNG per nation
    // row on the EXECUTORS (ImageIO.write), then decode header-level
    // width/height/channels back out with the javax.imageio reader —
    // the oracle recomputes the synthesized dimensions algebraically,
    // so the codec path (not a stub) is correctness-gated
    "q_x_mm_decode" -> ((s, dir) => {
      import org.apache.spark.sql.{Encoders => E}
      val keys = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"))
        .as[java.lang.Long](E.LONG)
      val media = keys.map((k: java.lang.Long) =>
        graft.multimodal.MediaRecord(k, "image",
          Multimodal.synthesizePng(16 + k.toInt, 8 + (k.toInt % 5), k),
          s"synth:$k"))(E.product[graft.multimodal.MediaRecord])
      Multimodal.extractImageMeta(media).toDF()
        .select("media_id", "format", "width", "height", "channels")
        .orderBy("media_id")
    }),
  )

  // ------------------------------------------------------------- oracle SQL

  /** DuckDB tokenizer mirroring [[TextAnalysis.tokens]]. */
  private val sqlToks =
    raw"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
  /** DuckDB fingerprint mirroring [[TextAnalysis.fingerprintMd5]]. */
  private val sqlFp = raw"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"
  /** DuckDB 3-shingle list mirroring [[TextAnalysis.wordShingles]](_, 3). */
  private def sqlShingles(toks: String) =
    s"list_distinct(list_transform(range(1, greatest(len($toks) - 1, 1)), i -> array_to_string($toks[i:i+2], ' ')))"
  /** DuckDB double dot-product mirroring [[Similarity.dot]] (same
    * element-order accumulation, double math).
    */
  private def sqlDot(a: String, b: String) =
    s"list_aggregate(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
  /** The fixed-seed hyperplanes are deterministic literals baked into the
    * Spark plan ([[Similarity.hyperplanes]]), so they can be interpolated
    * into DuckDB SQL verbatim — Double.toString is shortest-round-trip,
    * so DuckDB parses back the identical bits.
    */
  private def sqlPlaneLit(p: Array[Double]): String = p.mkString("[", ", ", "]")
  /** DuckDB sign-bit LSH bucket mirroring [[Similarity.lshBucket]]:
    * bit i set iff dot(vec, plane_i) > 0 (disjoint bits, so OR == sum).
    */
  private def sqlLshBucket(vec: String, planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${sqlDot(vec, sqlPlaneLit(p))} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  /** DuckDB mirror of [[TextAnalysis.md5Hash60]]: 60-bit bigint from the
    * md5 hex prefix. Spark's `conv(substring(md5(x),1,15),16,10)` and
    * DuckDB's 0x-cast parse the same 15 hex digits of the same digest.
    */
  private def sqlH60(x: String) = s"(('0x'||substr(md5($x),1,15))::BIGINT)"
  /** Shared CTE chain mirroring
    * [[Dedup.minhashSignatures]](n=3, numPerms=64, hash=md5Hash60): the
    * permutation constants are the SAME fixed-seed [[Dedup.perms]]
    * values the Spark plan bakes in, interpolated verbatim; products
    * stay < 2^62 so DuckDB bigint arithmetic matches ANSI Spark exactly.
    */
  private def sqlMinhashSigFrom(src: String, numPerms: Int): String = {
    val aggs = Dedup.perms(numPerms).zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % ${Dedup.P}) AS s$i"
    }.mkString(", ")
    s"""d AS (SELECT doc_id, $sqlToks AS toks FROM $src),
       |idx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
       |        FROM d WHERE len(toks) >= 3),
       |hs AS (SELECT id, ${sqlH60("shingle")} % ${Dedup.P} AS h FROM idx),
       |sig AS (SELECT id, $aggs FROM hs GROUP BY id)""".stripMargin
  }
  private lazy val sqlMinhashSig: String = sqlMinhashSigFrom("documents", 64)
  /** [[sqlMinhashSigFrom]] with suffixed CTE names, for oracles that
    * need TWO signature chains (e.g. corpus vs batch) in one query.
    */
  private def sqlMinhashSigSuffixed(src: String, numPerms: Int,
                                    sfx: String): String = {
    val aggs = Dedup.perms(numPerms).zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % ${Dedup.P}) AS s$i"
    }.mkString(", ")
    s"""d$sfx AS (SELECT doc_id, $sqlToks AS toks FROM $src),
       |idx$sfx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
       |        FROM d$sfx WHERE len(toks) >= 3),
       |hs$sfx AS (SELECT id, ${sqlH60("shingle")} % ${Dedup.P} AS h FROM idx$sfx),
       |sig$sfx AS (SELECT id, $aggs FROM hs$sfx GROUP BY id)""".stripMargin
  }
  /** Band rows over a named signature CTE (mirrors
    * [[graft.dedup.IncrementalDedup]]'s banding, which hashes the same
    * comma-joined signature slices).
    */
  private def sqlBandRowsOver(bands: Int, r: Int, sig: String,
                              out: String): String = {
    val branches = (0 until bands).map { b =>
      val cols = (b * r until b * r + r).map(i => s"s$i").mkString(", ")
      s"SELECT id, $b AS band, ${sqlH60(s"concat_ws(',', $cols)")} AS bucket FROM $sig"
    }.mkString(" UNION ALL ")
    s"$out AS ($branches)"
  }
  /** Signature-agreement estimate between aliases sa/sb (mirrors
    * IncrementalDedup's zip_with count / numPerms).
    */
  private def sqlSigAgree(numPerms: Int): String =
    "CAST(" + (0 until numPerms)
      .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)")
      .mkString(" + ") +
      s" AS DOUBLE) / CAST($numPerms AS DOUBLE)"
  /** Band rows mirroring [[Dedup.minhashCandidates]] banding: bucket =
    * md5Hash60 of the comma-joined signature slice (bigint→string
    * rendering is plain decimal in both engines).
    */
  private def sqlMinhashBandRowsOf(bands: Int, r: Int): String = {
    val branches = (0 until bands).map { b =>
      val cols = (b * r until b * r + r).map(i => s"s$i").mkString(", ")
      s"SELECT id, $b AS band, ${sqlH60(s"concat_ws(',', $cols)")} AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"bandrows AS ($branches)"
  }
  private lazy val sqlMinhashBandRows: String = sqlMinhashBandRowsOf(16, 4)
  private lazy val sqlMinhashCand: String =
    s"""cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bandrows a JOIN bandrows b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)""".stripMargin
  /** CTE chain mirroring [[Dedup.simhash]] with the 60-bit md5 hash:
    * bits 60..63 of a 60-bit hash are all-zero, every token contributes
    * -1 there, the sign test fails, and the simhash never sets them —
    * so the 60-term SQL equals the Spark plan's 64-term form.
    */
  private lazy val sqlSimhash: String = {
    val sums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val hash = (0 until 60).map(b =>
      s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tok AS (SELECT doc_id AS id, unnest($sqlToks) AS t FROM documents),
       |th AS (SELECT id, ${sqlH60("t")} AS h FROM tok),
       |bits AS (SELECT id, $sums FROM th GROUP BY id),
       |sh AS (SELECT id, $hash AS simhash FROM bits)""".stripMargin
  }

  /** Annotation CTEs shared by every training-pipeline oracle: m0 =
    * per-doc raw counts, m = derived annotations (lang, quality).
    */
  /** Shared by q_x_decontaminate and q_x_decontaminate_bloom — the
    * bloom path changes the plan, not the result.
    */
  private lazy val decontaminateSql: String =
    s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |cidx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
       |         FROM d WHERE doc_id % 10 <> 0 AND len(toks) >= 3),
       |eidx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
       |         FROM d WHERE doc_id % 10 = 0 AND len(toks) >= 3),
       |esizes AS (SELECT id, COUNT(*) AS n_e FROM eidx GROUP BY id),
       |inter AS (SELECT c.id AS corpus_id, e.id AS eval_id, COUNT(*) AS inter
       |          FROM cidx c JOIN eidx e ON c.shingle = e.shingle
       |          GROUP BY c.id, e.id)
       |SELECT i.corpus_id, i.eval_id,
       |  CAST(i.inter AS DOUBLE) / CAST(s.n_e AS DOUBLE) AS containment
       |FROM inter i JOIN esizes s ON i.eval_id = s.id
       |WHERE CAST(i.inter AS DOUBLE) / CAST(s.n_e AS DOUBLE) >= 0.4
       |ORDER BY corpus_id, eval_id""".stripMargin

  /** Shared by q_x_lm_score and q_x_ccnet_buckets: the bigram-LM CTE
    * chain ending in `sc(doc_id, lm_score)` (docs with >= 2 tokens).
    */
  private lazy val lmScoreCtes: String =
    s"""d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |u AS (SELECT t AS token, COUNT(*) AS c
       |      FROM (SELECT unnest(toks) AS t FROM d) GROUP BY 1),
       |nv AS (SELECT SUM(c) + COUNT(*) AS nv FROM u),
       |p AS (SELECT doc_id, i, toks[i] AS prev, toks[i+1] AS cur
       |      FROM d, unnest(generate_series(1, len(toks)-1)) AS g(i)
       |      WHERE len(toks) >= 2),
       |b AS (SELECT prev, cur, COUNT(*) AS c_bi FROM p GROUP BY 1, 2),
       |s AS (SELECT p.doc_id, p.i,
       |  ln(CASE WHEN u1.c > 0
       |       THEN 0.75*(CAST(COALESCE(b.c_bi, 0) AS DOUBLE)/CAST(u1.c AS DOUBLE))
       |       ELSE 0.0 END
       |     + 0.25*(CAST(COALESCE(u2.c, 0)+1 AS DOUBLE)/CAST(nv.nv AS DOUBLE))) AS logp
       |  FROM p
       |  LEFT JOIN b ON b.prev = p.prev AND b.cur = p.cur
       |  LEFT JOIN u u1 ON u1.token = p.prev
       |  LEFT JOIN u u2 ON u2.token = p.cur, nv),
       |sc AS (SELECT doc_id,
       |  round(list_reduce(list(logp ORDER BY i), (a, x) -> a + x)
       |        / CAST(COUNT(*) AS DOUBLE), 6) AS lm_score
       |  FROM s GROUP BY doc_id)""".stripMargin

  private lazy val trainingAnnotateCtes: String =
    s"""m0 AS (SELECT doc_id, text, source,
       |  CAST(len($sqlToks) AS BIGINT) AS n,
       |  CAST(len(list_filter($sqlToks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS en,
       |  CAST(len(list_filter($sqlToks, t -> t IN ('el','la','de','y','que','en','los'))) AS BIGINT) AS es,
       |  CAST(len(list_filter($sqlToks, t -> t IN ('der','die','das','und','zu','den','ist'))) AS BIGINT) AS de,
       |  CAST(len(list_filter($sqlToks, t -> t IN ('le','la','de','et','les','des','est'))) AS BIGINT) AS fr,
       |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
       |  CAST(length(text) AS BIGINT) AS chars,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonsp,
       |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}')) AS INTEGER) AS n_bpe_tokens,
       |  $sqlFp AS fingerprint
       |  FROM documents),
       |m AS (SELECT doc_id, text, source, CAST(n AS INTEGER) AS n_tokens,
       |  n_bpe_tokens, fingerprint,
       |  CASE WHEN en + es + de + fr = 0 THEN 'und'
       |       WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       |       WHEN es > en AND es >= de AND es >= fr THEN 'es'
       |       WHEN de > en AND de > es AND de >= fr THEN 'de'
       |       WHEN fr > en AND fr > es AND fr > de THEN 'fr'
       |       ELSE 'und' END AS lang_pred,
       |  0.4*(CASE WHEN n = 0 THEN 0.0 ELSE CAST(en AS DOUBLE)/CAST(n AS DOUBLE) END)
       |  + 0.4*(CASE WHEN chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE)/CAST(chars AS DOUBLE) END)
       |  + 0.2*least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(nonsp AS DOUBLE)/CAST(n AS DOUBLE) END)/8.0, 1.0) AS quality
       |  FROM m0)""".stripMargin

  /** Oracle for the (nearDup=false) training pipeline — also reused as
    * the input CTE of the q_x_training_report oracle.
    */
  private lazy val trainingPipelineSql: String =
    s"""WITH $trainingAnnotateCtes
       |SELECT doc_id, text, source, n_tokens, n_bpe_tokens, fingerprint,
       |  lang_pred, quality
       |FROM m WHERE quality >= 0.3
       |QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1""".stripMargin

  /** Shared by q_x_bm25 / q_x_bm25_indexed / q_x_bm25_removed: the
    * persisted index serves bit-identically to the per-call search
    * over the same (possibly filtered) corpus — df is a posting-list
    * length either way; N and avgdl are exact (re)derived sums — so
    * ONE exact oracle shape gates the build, the append, the removal,
    * and the serve. `docWhere` filters the corpus CTE (removal's
    * surviving-documents view); empty for the full corpus. */
  private val Bm25QtValues: String =
    """('q1', 'merge'), ('q1', 'join'), ('q1', 'table'),
      |    ('q2', 'fast'), ('q2', 'scan'), ('q2', 'query'),
      |    ('q3', 'stream'), ('q3', 'window'), ('q3', 'agg')""".stripMargin

  private def bm25OracleSql(docWhere: String,
                            qtValues: String = Bm25QtValues): String =
      s"""WITH pd AS (SELECT doc_id, unnest($sqlToks) AS token
         |            FROM documents $docWhere),
         |tf AS (SELECT doc_id, token, COUNT(*) AS c FROM pd GROUP BY 1, 2),
         |dl AS (SELECT doc_id, SUM(c) AS len FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n, SUM(len) AS tot FROM dl),
         |qt AS (SELECT * FROM (VALUES
         |    $qtValues)
         |  AS t(query_id, token)),
         |qidf AS (SELECT query_id, f.token,
         |    round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf,
         |    CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
         |  FROM (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1) f
         |  JOIN qt USING (token) CROSS JOIN st),
         |m AS (SELECT query_id, tf.doc_id, tf.token,
         |    idf * (CAST(c AS DOUBLE) * (1.2 + 1.0))
         |      / (CAST(c AS DOUBLE) + 1.2 * (1.0 - 0.75
         |        + (0.75 * CAST(len AS DOUBLE)) / avgdl)) AS s
         |  FROM tf JOIN qidf USING (token) JOIN dl USING (doc_id)),
         |sc AS (SELECT query_id, doc_id,
         |    list_aggregate(list_transform(
         |      list(struct_pack(token := token, s := s) ORDER BY token),
         |      x -> x.s), 'sum') AS score
         |  FROM m GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |  FROM sc)
         |SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin

  private lazy val bm25Oracle: String = bm25OracleSql("")

  /** Shared by q_x_tx_diff and its graft_diff TVF spelling
    * q_x_sql_diff: both snapshots are pure filters of orders, so the
    * diff IS EXCEPT ALL both ways, multiset semantics mirrored.
    */
  private lazy val txDiffOracle: String =
    """WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |            FROM orders WHERE o_orderkey % 3 <> 0),
      |v2 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |       FROM orders WHERE o_orderkey % 2 <> 0),
      |ins AS (SELECT *, 'insert' AS _change_type FROM
      |  (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)),
      |del AS (SELECT *, 'delete' AS _change_type FROM
      |  (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2))
      |SELECT * FROM ins UNION ALL SELECT * FROM del
      |ORDER BY o_orderkey, _change_type""".stripMargin

  /** Shared by q_x_semdedup / q_x_semdedup_served (docFilter "TRUE")
    * and q_x_semdedup_removed (docFilter excluding the purged ids —
    * removal of per-row-independent assignments under fixed centroids
    * ≡ a model whose corpus never held the rows): the persisted-model
    * serve runs the same pair join over the same fixed-centroid
    * assignment, so one exact SQL shape gates the fit-per-call path,
    * the stored-assignment path, and the post-removal path alike.
    * Same shapes as the operator: norms once per row, cos =
    * dot/(na·nb), assignment tie-break (cs DESC, list_id), drop rule
    * "exists a smaller-id near-dup in my cluster". Note the CENTROID
    * CTE stays unfiltered — centroids were fit before the removal and
    * stay fixed (the q_x_semdedup_removed fixture purges ids ≥ 100,
    * never the seed ids < 8, so this is exact, not approximate). */
  private def semDedupOracleSql(docFilter: String => String): String =
      s"""WITH c AS (SELECT vec_id AS list_id, embedding AS centroid,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn
         |  FROM embeddings WHERE vec_id < 8
         |    AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |p AS (SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS n
         |  FROM embeddings
         |  WHERE (${docFilter("vec_id")})
         |    AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |asg AS (SELECT vec_id, embedding, n, list_id FROM (
         |  SELECT p.vec_id, p.embedding, p.n, c.list_id,
         |    ${sqlDot("p.embedding", "c.centroid")} / (p.n * c.cn) AS cs
         |  FROM p, c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, list_id) = 1),
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.n * b.n) >= 0.42)
         |SELECT e.vec_id FROM embeddings e
         |LEFT JOIN dropped d ON e.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL AND (${docFilter("e.vec_id")})
         |ORDER BY e.vec_id""".stripMargin

  private lazy val semDedupOracle: String = semDedupOracleSql(_ => "TRUE")

  /** Shared by q_x_ann_pq / q_x_ann_pq_ivf / q_x_ann_pq_served —
    * mirrors pqTrainSeed/pqEncode/pqTopK EXACTLY: seeds = the 16
    * smallest-id BUILD-corpus vectors (double-cast), codebooks = their
    * 8-dim subvector slices, encode = first-index L2 argmin per
    * subspace (in-order squared-diff folds), ADC cos = the
    * subspace-order LUT fold over codes divided by qn times the
    * looked-up reconstruction norm. `seedWhere` filters the codebook's
    * training corpus (the served variant trains on 2/3); `codesWhere`
    * filters the encoded corpus (the ivf variant drops zero-norm rows
    * — routing never assigns them; the served variant drops the
    * removed ids). */
  private def pqOracleSql(seedWhere: String, codesWhere: String): String =
      s"""WITH sv AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings $seedWhere ORDER BY vec_id LIMIT 16),
         |cb AS (SELECT list(v ORDER BY vec_id) AS seeds FROM sv),
         |enc AS (
         |  SELECT c.vec_id,
         |    list_transform(
         |      list_transform(range(0, 8), j ->
         |        list_transform(r.seeds, s ->
         |          list_aggregate(list_transform(range(1, 9), i ->
         |            (CAST(c.embedding[j*8+i] AS DOUBLE) - s[j*8+i])
         |            * (CAST(c.embedding[j*8+i] AS DOUBLE) - s[j*8+i])),
         |            'sum'))),
         |      d -> list_position(d, list_min(d)) - 1) AS codes
         |  FROM embeddings c CROSS JOIN cb r $codesWhere),
         |sqn AS (
         |  SELECT list_transform(range(0, 8), j ->
         |    list_transform(r.seeds, s ->
         |      list_aggregate(list_transform(range(1, 9), i ->
         |        s[j*8+i] * s[j*8+i]), 'sum'))) AS sqns
         |  FROM cb r),
         |cs AS (
         |  SELECT e.vec_id AS neighbor_id, e.codes,
         |    sqrt(list_aggregate(list_transform(range(1, 9), j ->
         |      n.sqns[j][e.codes[j] + 1]), 'sum')) AS cn
         |  FROM enc e CROSS JOIN sqn n),
         |ql AS (
         |  SELECT q.vec_id AS query_id,
         |    sqrt(${sqlDot("q.embedding", "q.embedding")}) AS qn,
         |    list_transform(range(0, 8), j ->
         |      list_transform(r.seeds, s ->
         |        list_aggregate(list_transform(range(1, 9), i ->
         |          CAST(q.embedding[j*8+i] AS DOUBLE) * s[j*8+i]), 'sum')))
         |      AS luts
         |  FROM embeddings q CROSS JOIN cb r
         |  WHERE q.vec_id < 8
         |    AND sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0),
         |scored AS (
         |  SELECT ql.query_id, cs.neighbor_id,
         |    list_aggregate(list_transform(range(1, 9), j ->
         |      ql.luts[j][cs.codes[j] + 1]), 'sum') / (ql.qn * cs.cn) AS cos
         |  FROM cs JOIN ql ON ql.query_id <> cs.neighbor_id
         |  WHERE cs.cn > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  /** Shared by q_x_inc_dedup (`oldWhere` = the full indexed corpus)
    * and q_x_inc_dedup_removed (`oldWhere` excluding the purged ids):
    * after `IncrementalDedup.remove` the index IS the surviving
    * signatures, so the incremental ingest must reproduce the
    * batch-global minhash decision against the smaller old corpus —
    * one SQL shape gates both the grow and the purge paths. Mirrors
    * the ingest semantics exactly: drop batch docs agreeing with any
    * OLD doc at minAgree, then keep the min id of each within-batch
    * agreement component (recursive reachability). */
  private def incDedupOracleSql(oldWhere: String): String =
      s"""WITH RECURSIVE
         |${sqlMinhashSigSuffixed(s"(SELECT * FROM documents WHERE $oldWhere)", 64, "_old")},
         |${sqlMinhashSigSuffixed("(SELECT * FROM documents WHERE doc_id % 3 = 0)", 64, "_new")},
         |${sqlBandRowsOver(16, 4, "sig_old", "band_old")},
         |${sqlBandRowsOver(16, 4, "sig_new", "band_new")},
         |dupold AS (SELECT DISTINCT p.id FROM
         |  (SELECT DISTINCT a.id AS id, b.id AS oid FROM band_new a
         |   JOIN band_old b ON a.band = b.band AND a.bucket = b.bucket
         |     AND a.id <> b.id) p
         |  JOIN sig_new sa ON sa.id = p.id
         |  JOIN sig_old sb ON sb.id = p.oid
         |  WHERE ${sqlSigAgree(64)} >= 0.5),
         |fresh AS (SELECT id FROM sig_new
         |  WHERE id NOT IN (SELECT id FROM dupold)),
         |pairs AS (SELECT p.id_a, p.id_b FROM
         |  (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM band_new a
         |   JOIN band_new b ON a.band = b.band AND a.bucket = b.bucket
         |     AND a.id < b.id) p
         |  JOIN sig_new sa ON sa.id = p.id_a
         |  JOIN sig_new sb ON sb.id = p.id_b
         |  WHERE p.id_a IN (SELECT id FROM fresh)
         |    AND p.id_b IN (SELECT id FROM fresh)
         |    AND ${sqlSigAgree(64)} >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |losers AS (SELECT id FROM
         |  (SELECT id, MIN(r) AS comp FROM reach GROUP BY id) WHERE id <> comp)
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id % 3 = 0
         |  AND doc_id NOT IN (SELECT id FROM dupold)
         |  AND doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin

  /** Shared by q_x_hybrid_search / q_x_hybrid_search_ivf /
    * q_x_hybrid_search_served (weights "1.0"/"1.0" ≡ classic RRF) and
    * q_x_hybrid_search_weighted: probing every IVF list IS exhaustive
    * search (pinned by SqAnnSpec) and persisted serve ≡ per-call
    * search, so the brute-force dense CTE is the exact oracle for all
    * four fixtures; `wLex`/`wDense` are the per-ranker wRRF weights,
    * spelled as SQL double literals so the single w/(k+rank) division
    * mirrors the engine's expression verbatim. */
  private def hybridSearchOracleSql(wLex: String,
                                    wDense: String): String =
      s"""WITH pd AS (SELECT doc_id, unnest($sqlToks) AS token
         |            FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS c FROM pd GROUP BY 1, 2),
         |dl AS (SELECT doc_id, SUM(c) AS len FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n, SUM(len) AS tot FROM dl),
         |qt AS (SELECT * FROM (VALUES
         |    ('0', 'merge'), ('0', 'join'), ('0', 'table'),
         |    ('1', 'fast'), ('1', 'scan'), ('1', 'query'),
         |    ('2', 'stream'), ('2', 'window'), ('2', 'agg'))
         |  AS t(query_id, token)),
         |qidf AS (SELECT query_id, f.token,
         |    round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf,
         |    CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
         |  FROM (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1) f
         |  JOIN qt USING (token) CROSS JOIN st),
         |bm AS (SELECT query_id, tf.doc_id, tf.token,
         |    idf * (CAST(c AS DOUBLE) * (1.2 + 1.0))
         |      / (CAST(c AS DOUBLE) + 1.2 * (1.0 - 0.75
         |        + (0.75 * CAST(len AS DOUBLE)) / avgdl)) AS s
         |  FROM tf JOIN qidf USING (token) JOIN dl USING (doc_id)),
         |bmsc AS (SELECT query_id, doc_id,
         |    list_aggregate(list_transform(
         |      list(struct_pack(token := token, s := s) ORDER BY token),
         |      x -> x.s), 'sum') AS score
         |  FROM bm GROUP BY 1, 2),
         |lexr AS (SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |  FROM bmsc QUALIFY rank <= 20),
         |dsc AS (SELECT CAST(q.vec_id AS VARCHAR) AS query_id,
         |    c.vec_id AS doc_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 3 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |denser AS (SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id) AS INTEGER) AS rank
         |  FROM dsc QUALIFY rank <= 20),
         |contrib AS (
         |  SELECT query_id, doc_id, 'r000' AS src,
         |    $wLex / (60.0 + CAST(rank AS DOUBLE)) AS c FROM lexr
         |  UNION ALL
         |  SELECT query_id, doc_id, 'r001' AS src,
         |    $wDense / (60.0 + CAST(rank AS DOUBLE)) AS c FROM denser),
         |fused AS (SELECT query_id, doc_id,
         |    list_aggregate(list_transform(
         |      list(struct_pack(src := src, c := c) ORDER BY src),
         |      x -> x.c), 'sum') AS rrf_score,
         |    CAST(COUNT(*) AS INTEGER) AS n_rankers
         |  FROM contrib GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, rrf_score, n_rankers,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
         |  FROM fused)
         |SELECT query_id, rank, doc_id, rrf_score, n_rankers FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private lazy val hybridSearchOracle: String =
    hybridSearchOracleSql("1.0", "1.0")

  /** Shared by q_x_span_decontaminate / q_x_span_decontaminate_indexed:
    * the index-backed candidate election is SOUND (every contaminated
    * doc contains its windows' rarest tokens), so pruning never changes
    * the output and one exact SQL gates both paths. Mirrors
    * SpanDedup.maskContaminatedSpans over the injected fixture: corpus
    * windows semi-joined against the eval side's distinct window
    * fingerprints, then the span_dedup coverage tail. */
  private lazy val spanDecontaminateOracle: String =
      s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |inj AS (SELECT c.doc_id,
         |    CASE WHEN c.doc_id % 7 = 1 AND e.text IS NOT NULL
         |      THEN c.text || ' ' || substr(e.text, 1, 120)
         |      ELSE c.text END AS text
         |  FROM documents c LEFT JOIN ev e ON (c.doc_id // 10) * 10 = e.doc_id
         |  WHERE c.doc_id % 10 <> 0),
         |b AS (SELECT doc_id, $sqlToks AS toks FROM inj),
         |b2 AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n_tokens
         |       FROM b),
         |eb AS (SELECT $sqlToks AS toks FROM ev),
         |efp AS (SELECT DISTINCT md5(array_to_string(toks[i : i+7], ' ')) AS fp
         |        FROM (SELECT toks, len(toks) AS n FROM eb)
         |          CROSS JOIN unnest(range(1, n - 6)) t(i)
         |        WHERE n >= 8),
         |w AS (SELECT doc_id, i - 1 AS pos,
         |        md5(array_to_string(toks[i : i+7], ' ')) AS fp
         |      FROM b2 CROSS JOIN unnest(range(1, n_tokens - 6)) t(i)
         |      WHERE n_tokens >= 8),
         |hit AS (SELECT doc_id, pos FROM w SEMI JOIN efp USING (fp)),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS tp
         |        FROM hit CROSS JOIN unnest(range(0, 8)) u(j)),
         |st AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_masked_tokens,
         |        CAST(SUM(brk) AS INTEGER) AS n_spans FROM (
         |          SELECT doc_id, CASE WHEN tp - lag(tp) OVER (
         |            PARTITION BY doc_id ORDER BY tp) = 1
         |            THEN 0 ELSE 1 END AS brk FROM cov)
         |        GROUP BY doc_id),
         |tok AS (SELECT doc_id, i - 1 AS tp, toks[i] AS tok
         |        FROM b2 CROSS JOIN unnest(range(1, n_tokens + 1)) t(i)),
         |keep AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp)
         |           AS text_clean
         |         FROM tok ANTI JOIN cov USING (doc_id, tp)
         |         GROUP BY doc_id)
         |SELECT b2.doc_id, b2.n_tokens,
         |  coalesce(st.n_masked_tokens, 0) AS n_masked_tokens,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(keep.text_clean, '') AS text_clean
         |FROM b2 LEFT JOIN st USING (doc_id) LEFT JOIN keep USING (doc_id)
         |ORDER BY b2.doc_id""".stripMargin

  lazy val oracleSql: Map[String, String] = Map(
    "q_s1_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_p1_drop" ->
      "SELECT c_custkey, c_name, c_nationkey FROM customer ORDER BY c_custkey",

    "q_p2_wide_select" ->
      """SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_acctbal, o.o_orderpriority
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_p3_rename" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name, c_nationkey,
        |  c_acctbal AS account_balance, c_mktsegment
        |FROM customer ORDER BY customer_id""".stripMargin,

    "q_p4_derived" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  l_extendedprice * (1 - l_discount) AS net_price,
        |  (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS gross_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_p6_conditional" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal IS NOT NULL AND c_acctbal > 0 THEN 1
        |       WHEN c_acctbal < 0 THEN -1 ELSE 0 END AS balance_sign
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_d1_downcast" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey,
        |  CAST(l_partkey AS INTEGER) AS l_partkey,
        |  CAST(l_suppkey AS INTEGER) AS l_suppkey, l_linenumber
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_j1_join_key" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_j2_computed_key" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  CAST(year(l.l_shipdate) AS INTEGER) AS ship_year, o.o_orderstatus
        |FROM lineitem l LEFT JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey AND year(l.l_shipdate) = year(o.o_orderdate)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_j3_derived_key" ->
      """SELECT c.c_custkey, concat_ws('-', 'nat', CAST(c.c_nationkey AS VARCHAR)) AS nat_tag,
        |  n.n_name
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "q_j4_using" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_name
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_a1_multisum" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_a2_dynamic" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS l_linenumber
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_a4_countdistinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS distinct_customers,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_a5_dropdup" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_a7_postagg" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_x_scd2" ->
      """WITH snaps AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |    ORDER BY o_orderkey DESC) = 1),
        |s AS (SELECT o_custkey, o_orderdate, o_orderstatus,
        |  CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |         OR lag(o_orderstatus) OVER w <> o_orderstatus
        |       THEN 1 ELSE 0 END AS chg
        |  FROM snaps WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)),
        |r AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |  ROWS UNBOUNDED PRECEDING) AS run FROM s),
        |g AS (SELECT o_custkey, run, MIN(o_orderdate) AS vf,
        |  MIN(o_orderstatus) AS o_orderstatus
        |  FROM r GROUP BY o_custkey, run)
        |SELECT o_custkey, strftime(vf, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(vf) OVER wn, '%Y-%m-%d') AS valid_to,
        |  o_orderstatus,
        |  lead(vf) OVER wn IS NULL AS is_current
        |FROM g WINDOW wn AS (PARTITION BY o_custkey ORDER BY vf)
        |ORDER BY o_custkey, valid_from""".stripMargin,

    "q_x_quantiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.25) AS p25,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.75) AS p75,
        |  quantile_cont(o_totalprice, 0.99) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_x_validate" ->
      """WITH t AS (SELECT
        |  CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS positive_price,
        |  CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS custkey_not_null,
        |  CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS known_status,
        |  CAST(SUM(CASE WHEN COALESCE(year(o_orderdate) BETWEEN 1990 AND 2000, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS date_in_range,
        |  COUNT(*) AS total FROM orders)
        |SELECT rule, violations, total FROM (
        |  SELECT 'positive_price' AS rule, positive_price AS violations, total FROM t
        |  UNION ALL SELECT 'custkey_not_null', custkey_not_null, total FROM t
        |  UNION ALL SELECT 'known_status', known_status, total FROM t
        |  UNION ALL SELECT 'date_in_range', date_in_range, total FROM t)
        |ORDER BY rule""".stripMargin,

    "q_x_weighted_mean" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * l_quantity * 10000) AS BIGINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT)) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_w1_latest" ->
      """SELECT o_custkey, o_orderkey AS latest_order_key,
        |  CAST(o_orderdate AS DATE) AS latest_order_date,
        |  o_totalprice AS latest_price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,

    "q_x_global_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q_x_set_ops" ->
      """SELECT c_custkey, 1 AS has_orders FROM
        |  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 0 AS has_orders FROM
        |  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q_x_semi_anti" ->
      """SELECT c_custkey, 'semi' AS side FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'anti' AS side FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey, side""".stripMargin,

    "q_x_bloom_join" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,

    // plain (unsalted) join: salting must be correctness-invisible
    "q_x_skew_join" ->
      """WITH fact AS (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 7
        |    ELSE l_partkey % 100 END AS k, l_quantity FROM lineitem),
        |dim AS (SELECT i AS k, 'grp_' || CAST(i % 10 AS VARCHAR) AS grp
        |        FROM range(0, 100) t(i))
        |SELECT grp, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM fact LEFT JOIN dim USING (k)
        |GROUP BY grp ORDER BY grp""".stripMargin,

    "q_x_analyze" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (17, 118, 211, 304)
        |ORDER BY doc_id""".stripMargin,

    "q_x_bloom_prune" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (17, 118, 211, 304)
        |ORDER BY doc_id""".stripMargin,

    "q_x_data_skipping" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the retraction-maintained view must equal a from-scratch groupBy
    // of the post-DML state (same algebra as the q_x_tx_dml oracle)
    "q_x_agg_view" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus))
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey
        |FROM merged WHERE NOT (o_orderkey % 7 = 3)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_x_agg_view_minmax" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus))
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_o_orderkey,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_o_orderkey
        |FROM merged WHERE NOT (o_orderkey % 7 = 3)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the violating append must contribute NOTHING to the final count;
    // rejected is pinned TRUE (a non-enforcing build hash-mismatches)
    "q_x_constraints" ->
      """SELECT CAST((SELECT COUNT(*) FROM orders)
        |    + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 1000 = 0)
        |    AS BIGINT) AS n_rows,
        |  TRUE AS rejected,
        |  CAST(1 AS INTEGER) AS n_constraints""".stripMargin,

    // same append + delete algebra recomputed over the source rows —
    // the metadata path must agree exactly with a real scan
    "q_x_meta_count" ->
      """WITH live AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END
        |      AS o_custkey
        |  FROM orders WHERE o_orderkey % 7 <> 3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(o_custkey) AS BIGINT) AS n_custkey,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
        |FROM live""".stripMargin,

    // the two snapshots are pure filters of orders, so the diff IS
    // EXCEPT ALL both ways — multiset semantics mirrored exactly
    "q_x_tx_diff" -> txDiffOracle,

    // the TVF spelling runs the identical fixture
    "q_x_sql_diff" -> txDiffOracle,

    // graft_search is searchIndexed with query_id = the query text —
    // the q_x_bm25 oracle with text-labeled query ids
    "q_x_sql_search" -> bm25OracleSql("", qtValues =
      """('merge join table', 'merge'), ('merge join table', 'join'),
        |    ('merge join table', 'table'),
        |    ('fast scan query', 'fast'), ('fast scan query', 'scan'),
        |    ('fast scan query', 'query'),
        |    ('stream window agg', 'stream'), ('stream window agg', 'window'),
        |    ('stream window agg', 'agg')""".stripMargin),

    "q_x_tx_dml" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus))
        |SELECT o_orderkey, o_orderstatus FROM merged
        |WHERE NOT (o_orderkey % 7 = 3)
        |ORDER BY o_orderkey""".stripMargin,

    "q_x_merge_into" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(-1 AS BIGINT), 'N', CAST(1.0 AS DOUBLE)),
        |      (-2, 'N', 1.0), (-3, 'N', 1.0))
        |    t(o_orderkey, o_orderstatus, o_totalprice)),
        |m AS (
        |  SELECT t.o_orderkey, t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus <> 'F'
        |         THEN s.o_totalprice + 1.0 ELSE t.o_totalprice END
        |      AS o_totalprice,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'F'
        |         THEN 1 ELSE 0 END AS del
        |  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM m WHERE del = 0
        |UNION ALL
        |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
        |FROM src s LEFT JOIN orders t ON s.o_orderkey = t.o_orderkey
        |WHERE t.o_orderkey IS NULL
        |ORDER BY o_orderkey""".stripMargin,

    // identical algebra to q_x_merge_into: the SQL clause form lowers
    // onto the same mergeInto call
    "q_x_sql_merge_clauses" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(-1 AS BIGINT), 'N', CAST(1.0 AS DOUBLE)),
        |      (-2, 'N', 1.0), (-3, 'N', 1.0))
        |    t(o_orderkey, o_orderstatus, o_totalprice)),
        |m AS (
        |  SELECT t.o_orderkey, t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus <> 'F'
        |         THEN s.o_totalprice + 1.0 ELSE t.o_totalprice END
        |      AS o_totalprice,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'F'
        |         THEN 1 ELSE 0 END AS del
        |  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM m WHERE del = 0
        |UNION ALL
        |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
        |FROM src s LEFT JOIN orders t ON s.o_orderkey = t.o_orderkey
        |WHERE t.o_orderkey IS NULL
        |ORDER BY o_orderkey""".stripMargin,

    // matched keys (%3=0) update, source-absent 'F' rows delete, the
    // new key inserts — the by-source clause algebra in plain SQL
    "q_x_sql_merge_by_source" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderstatus <> 'F'
        |UNION ALL
        |SELECT CAST(-5 AS BIGINT), 'N', CAST(1.0 AS DOUBLE)
        |ORDER BY o_orderkey""".stripMargin,

    // the replica equals the source head after the DML cycle — same
    // algebra as q_x_tx_dml (merge CASE + inserted keys, delete filter)
    "q_x_cdf_replica" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus))
        |SELECT o_orderkey, o_orderstatus FROM merged
        |WHERE NOT (o_orderkey % 7 = 3)
        |ORDER BY o_orderkey""".stripMargin,

    "q_x_cdf" ->
      """WITH pre AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 100 = 0),
        |merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus)),
        |changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    'update_preimage' AS _change_type,
        |    CAST(2 AS BIGINT) AS _commit_version FROM pre
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 'update_postimage', 2 FROM pre
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(-1 AS BIGINT), 'N', 'insert', CAST(2 AS BIGINT)),
        |      (-2, 'N', 'insert', 2), (-3, 'N', 'insert', 2))
        |    t(o_orderkey, o_orderstatus, _change_type, _commit_version)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'delete', 3 FROM merged
        |  WHERE o_orderkey % 7 = 3)
        |SELECT o_orderkey, o_orderstatus, _change_type, _commit_version
        |FROM changes
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,

    // identical change algebra to q_x_cdf — the query differs only in
    // the READ path (SQL table_changes TVF vs TxTable.readChanges)
    "q_x_sql_cdf" ->
      """WITH pre AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 100 = 0),
        |merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus)),
        |changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    'update_preimage' AS _change_type,
        |    CAST(2 AS BIGINT) AS _commit_version FROM pre
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 'update_postimage', 2 FROM pre
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(-1 AS BIGINT), 'N', 'insert', CAST(2 AS BIGINT)),
        |      (-2, 'N', 'insert', 2), (-3, 'N', 'insert', 2))
        |    t(o_orderkey, o_orderstatus, _change_type, _commit_version)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'delete', 3 FROM merged
        |  WHERE o_orderkey % 7 = 3)
        |SELECT o_orderkey, o_orderstatus, _change_type, _commit_version
        |FROM changes
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,

    // identical change algebra to q_x_cdf — the query differs only in
    // the READ path (V2 readChangeFeed scan vs TxTable.readChanges)
    "q_x_cdf_scan" ->
      """WITH pre AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 100 = 0),
        |merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus)),
        |changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    'update_preimage' AS _change_type,
        |    CAST(2 AS BIGINT) AS _commit_version FROM pre
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 'update_postimage', 2 FROM pre
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |      (CAST(-1 AS BIGINT), 'N', 'insert', CAST(2 AS BIGINT)),
        |      (-2, 'N', 'insert', 2), (-3, 'N', 'insert', 2))
        |    t(o_orderkey, o_orderstatus, _change_type, _commit_version)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'delete', 3 FROM merged
        |  WHERE o_orderkey % 7 = 3)
        |SELECT o_orderkey, o_orderstatus, _change_type, _commit_version
        |FROM changes
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,

    "q_x_tx_maintenance" ->
      """SELECT doc_id, n_chars, source FROM documents
        |WHERE n_chars >= 500 ORDER BY doc_id""".stripMargin,

    "q_x_sql_dml" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N'))
        |    t(o_orderkey, o_orderstatus))
        |SELECT o_orderkey, o_orderstatus FROM merged
        |WHERE NOT (o_orderkey % 7 = 3)
        |ORDER BY o_orderkey""".stripMargin,

    "q_x_partitioned" ->
      """SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderkey % 4 IN (1, 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_x_evolve" ->
      """SELECT flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM (
        |  SELECT CAST(-1 AS INTEGER) AS flag, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT CAST(o_orderkey % 2 AS INTEGER) AS flag, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    // n_described_cols pins DESCRIBE's view of the evolved schema: all
    // three columns (incl. the ALTER-added `flag`) must be served
    "q_x_sql_evolve" ->
      """SELECT flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(3 AS BIGINT) AS n_described_cols
        |FROM (
        |  SELECT CAST(-1 AS INTEGER) AS flag, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT CAST(o_orderkey % 2 AS INTEGER) AS flag, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    // the three batches partition orders by o_orderkey % 3, so the
    // exactly-once union is just the whole table
    "q_x_copy_into" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // clone ≡ algebra: the source ends at odd custkeys, the v1-pinned
    // clone at custkeys not divisible by 3 — both reconstructed from
    // the input table (the vacuum must not change either side)
    "q_x_clone" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_src,
        |  CAST(SUM(CASE WHEN c_custkey % 3 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clone
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_x_time_travel" ->
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE c_custkey % 2 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_x_sql_count_meta" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(COUNT(o_orderstatus) AS BIGINT) AS n_status
        |FROM orders""".stripMargin,

    "q_x_cluster_by" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin,

    "q_x_rename" ->
      """SELECT c_custkey, c_name, c_acctbal AS balance
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_x_dropcol" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_x_meta_by_part" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(COUNT(o_custkey) AS BIGINT) AS n_cust
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_x_sql_select" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 3 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_x_v2_write" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer WHERE c_acctbal >= 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_x_stream_sink" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // same ANSI spelling in DuckDB; GROUPING() disambiguates set
    // placeholders from real NULL keys, so the hash compare is total
    "q_x_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,

    "q_x_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_x_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,

    // same exponential-race key arithmetic as Sampling.weightedSample
    // under the md5 hash: u = (h % 1e6 + 0.5)/1e6, key = -ln(u)/w,
    // 100 smallest keys win (ties on doc_id)
    "q_x_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    -ln(((${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")}
         |      % 1000000) + 0.5) / 1000000)
         |      / CAST(n_chars AS DOUBLE) AS k
         |  FROM documents WHERE n_chars > 0
         |  ORDER BY k, doc_id LIMIT 100)
         |ORDER BY doc_id""".stripMargin,

    // brute-force cartesian semantics — the completeness gate for the
    // blocked plan
    "q_x_fuzzy_join" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 24) AS head
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.head, b.head) AS INTEGER) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_x_topk_agg" ->
      """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders)
        |SELECT o_orderstatus, rank, o_orderkey, o_totalprice FROM r
        |WHERE rank <= 3 ORDER BY o_orderstatus, rank""".stripMargin,

    "q_x_ntile" ->
      """SELECT doc_id, n_chars,
        |  CAST(NTILE(10) OVER (ORDER BY n_chars DESC, doc_id ASC)
        |       AS INTEGER) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the engine computes rank via distinct-value counts + running sum;
    // (rank-1)/(n-1) is the same bigint->double division both ways
    "q_x_pct_rank" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
        |    AS pct_rank
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_x_histogram" ->
      """WITH b AS (SELECT CAST(MIN(n_chars) AS DOUBLE) AS lo,
        |                  CAST(MAX(n_chars) AS DOUBLE) AS hi
        |           FROM documents),
        |c AS (SELECT LEAST(CAST(FLOOR((CAST(n_chars AS DOUBLE) - b.lo)
        |                              / ((b.hi - b.lo) / 8)) AS INTEGER), 7) AS bin,
        |             COUNT(*) AS cnt
        |      FROM documents, b GROUP BY 1),
        |g AS (SELECT CAST(UNNEST(range(8)) AS INTEGER) AS bin)
        |SELECT g.bin,
        |  b.lo + g.bin * ((b.hi - b.lo) / 8) AS bin_lo,
        |  b.lo + (g.bin + 1) * ((b.hi - b.lo) / 8) AS bin_hi,
        |  COALESCE(c.cnt, 0) AS cnt
        |FROM g CROSS JOIN b LEFT JOIN c ON c.bin = g.bin
        |ORDER BY g.bin""".stripMargin,

    // mirrors Outliers.groupCorr verbatim: exact BIGINT moments, same
    // left-associated (n*sxy - sx*sy) / (sqrt(...) * sqrt(...))
    "q_x_corr" ->
      s"""WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS x,
         |    CAST(len($sqlToks) AS BIGINT) AS y
         |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |st AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |  CAST(SUM(x*y) AS BIGINT) AS sxy,
         |  CAST(SUM(x*x) AS BIGINT) AS sxx,
         |  CAST(SUM(y*y) AS BIGINT) AS syy FROM d GROUP BY 1)
         |SELECT lang, n,
         |  CASE WHEN n < 2
         |    OR CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
         |       - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) <= 0.0
         |    OR CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
         |       - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) <= 0.0
         |  THEN NULL
         |  ELSE (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
         |       * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
         |              - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
         |  END AS corr
         |FROM st ORDER BY lang""".stripMargin,

    // mirrors Outliers.minMaxNorm: exact BIGINT extrema, one division
    "q_x_minmax_norm" ->
      """WITH st AS (SELECT lang,
        |  CAST(MIN(n_chars) AS BIGINT) AS lo,
        |  CAST(MAX(n_chars) AS BIGINT) AS hi
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CASE WHEN d.n_chars IS NULL OR st.hi = st.lo THEN 0.0
        |       ELSE (CAST(d.n_chars AS DOUBLE) - CAST(st.lo AS DOUBLE))
        |            / (CAST(st.hi AS DOUBLE) - CAST(st.lo AS DOUBLE))
        |  END AS mm
        |FROM documents d JOIN st USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    // mirrors Outliers.zscore verbatim: exact BIGINT sums, then the
    // SAME left-associated double expression (s2 - s1*s1/n)/n etc.
    "q_x_zscore" ->
      """WITH st AS (SELECT lang, CAST(COUNT(n_chars) AS BIGINT) AS n,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
        |  CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
        |    AS BIGINT) AS s2
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CASE WHEN d.n_chars IS NULL OR st.n <= 1
        |         OR (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |             * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |            / CAST(n AS DOUBLE) <= 0.0
        |       THEN 0.0
        |       ELSE (CAST(d.n_chars AS DOUBLE)
        |             - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |            / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |                    * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |                   / CAST(n AS DOUBLE))
        |  END AS z
        |FROM documents d JOIN st USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    "q_x_outliers" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |r AS (SELECT lang, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |        COUNT(*) OVER (PARTITION BY lang) AS n
        |      FROM d WHERE n_chars IS NOT NULL),
        |med AS (SELECT lang, CAST(n_chars AS DOUBLE) AS med
        |        FROM r WHERE rn = (n + 1) // 2),
        |dv AS (SELECT d.doc_id, d.lang, m.med,
        |         ABS(CAST(d.n_chars AS DOUBLE) - m.med) AS dev
        |       FROM d LEFT JOIN med m ON d.lang = m.lang),
        |r2 AS (SELECT lang, dev,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dev) AS rn2,
        |         COUNT(*) OVER (PARTITION BY lang) AS n2
        |       FROM dv WHERE dev IS NOT NULL),
        |mad AS (SELECT lang, dev AS mad FROM r2 WHERE rn2 = (n2 + 1) // 2)
        |SELECT v.doc_id, v.lang, v.med, a.mad,
        |  CASE WHEN v.dev IS NULL THEN FALSE
        |       ELSE v.dev > a.mad * 3.0 END AS is_outlier
        |FROM dv v LEFT JOIN mad a ON v.lang = a.lang
        |ORDER BY v.doc_id""".stripMargin,

    "q_x_harmonize" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, 'even' AS src
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
        |         o_orderpriority, 'odd' AS src
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT src, o_orderstatus, COUNT(*) AS n,
        |  COUNT(o_totalprice) AS n_price,
        |  COUNT(o_orderpriority) AS n_priority
        |FROM u GROUP BY src, o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin,

    // mirrors Dataset.unpivot's row order source (UNION ALL of the
    // four measures; metric names = source column names)
    "q_x_unpivot" ->
      """WITH base AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    'l_quantity' AS metric, l_quantity AS value FROM base
        |  UNION ALL SELECT l_orderkey, l_linenumber,
        |    'l_extendedprice', l_extendedprice FROM base
        |  UNION ALL SELECT l_orderkey, l_linenumber,
        |    'l_discount', l_discount FROM base
        |  UNION ALL SELECT l_orderkey, l_linenumber,
        |    'l_tax', l_tax FROM base)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q_x_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_f1_dates" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%b %d, %Y') AS us_date,
        |  CAST(strptime(strftime(o_orderdate, '%b %d, %Y'), '%b %d, %Y') AS DATE) AS parsed_date,
        |  CAST(strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S') AS DATE) AS iso_parsed,
        |  CAST(year(o_orderdate) AS INTEGER) AS order_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_f6_split" ->
      """WITH m AS (SELECT o_orderkey,
        |  concat_ws(':', lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0'),
        |                 lpad(CAST(o_custkey % 60 AS VARCHAR), 2, '0')) AS mmss
        |  FROM orders)
        |SELECT o_orderkey, mmss,
        |  CAST(string_split(mmss, ':')[1] AS INTEGER) AS mins,
        |  CAST(string_split(mmss, ':')[2] AS INTEGER) AS secs,
        |  CAST(string_split(mmss, ':')[1] AS INTEGER) * 60
        |    + CAST(string_split(mmss, ':')[2] AS INTEGER) AS total_seconds
        |FROM m ORDER BY o_orderkey""".stripMargin,

    "q_flagship_gold_customer" ->
      """WITH sums AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
        |    COUNT(DISTINCT o_orderdate) AS order_days,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_spend
        |  FROM orders GROUP BY o_custkey),
        |latest AS (
        |  SELECT o_custkey, o_orderkey AS latest_order_key,
        |    CAST(o_orderdate AS DATE) AS latest_order_date
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
        |SELECT s.o_custkey, s.total_spend, s.order_days, s.n_orders, s.avg_spend,
        |  l.latest_order_key, l.latest_order_date, c.c_name
        |FROM sums s
        |LEFT JOIN latest l USING (o_custkey)
        |LEFT JOIN customer c ON s.o_custkey = c.c_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_x_training_pipeline" ->
      s"$trainingPipelineSql\nORDER BY doc_id",

    // the FULL pipeline: quality → exact dedup → MinHash(128 perms,
    // 32 bands, md5Hash60) candidates → jaccard>=0.5 verify → recursive
    // connected components → drop non-canonical ids → 80% salted-hash
    // sample → annotations. Every stage mirrors a Spark operator whose
    // standalone oracle is already green.
    "q_x_training_pipeline_full" ->
      s"""WITH RECURSIVE $trainingAnnotateCtes,
         |ex AS (SELECT doc_id, text, source, n_tokens, n_bpe_tokens,
         |         fingerprint, lang_pred, quality
         |  FROM m WHERE quality >= 0.3
         |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
         |${sqlMinhashSigFrom("ex", 128)},
         |${sqlMinhashBandRowsOf(32, 4)},
         |$sqlMinhashCand,
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN idx a ON a.id = c.id_a
         |  JOIN idx b ON b.id = c.id_b AND a.shingle = b.shingle
         |  GROUP BY c.id_a, c.id_b),
         |pairs AS (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id
         |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |losers AS (SELECT id FROM
         |  (SELECT id, MIN(r) AS comp FROM reach GROUP BY id) WHERE id <> comp)
         |SELECT doc_id, text, source, n_tokens, n_bpe_tokens, fingerprint,
         |  lang_pred, quality
         |FROM ex
         |WHERE doc_id NOT IN (SELECT id FROM losers)
         |  AND ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")} % 1000000 < 800000
         |ORDER BY doc_id""".stripMargin,

    // funnel mirror: the exact q_x_training_pipeline_full CTE chain,
    // aggregated per stage instead of projected per doc
    "q_x_funnel" ->
      s"""WITH RECURSIVE $trainingAnnotateCtes,
         |ex AS (SELECT doc_id, text, source, n_tokens, n_bpe_tokens,
         |         fingerprint, lang_pred, quality
         |  FROM m WHERE quality >= 0.3
         |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
         |${sqlMinhashSigFrom("ex", 128)},
         |${sqlMinhashBandRowsOf(32, 4)},
         |$sqlMinhashCand,
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN idx a ON a.id = c.id_a
         |  JOIN idx b ON b.id = c.id_b AND a.shingle = b.shingle
         |  GROUP BY c.id_a, c.id_b),
         |pairs AS (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id
         |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |losers AS (SELECT id FROM
         |  (SELECT id, MIN(r) AS comp FROM reach GROUP BY id) WHERE id <> comp),
         |kept AS (SELECT doc_id, n_tokens FROM ex
         |  WHERE doc_id NOT IN (SELECT id FROM losers)),
         |fin AS (SELECT doc_id, n_tokens FROM kept
         |  WHERE ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")} % 1000000 < 800000)
         |SELECT 0 AS stage_idx, 'input' AS stage, COUNT(*) AS n_docs,
         |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens FROM m
         |UNION ALL SELECT 1, 'quality', COUNT(*),
         |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM m WHERE quality >= 0.3
         |UNION ALL SELECT 2, 'exact_dedup', COUNT(*),
         |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM ex
         |UNION ALL SELECT 3, 'near_dedup', COUNT(*),
         |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM kept
         |UNION ALL SELECT 4, 'sample', COUNT(*),
         |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM fin
         |ORDER BY stage_idx""".stripMargin,

    // mirror of IncrementalDedup.init + ingest: two signature chains
    // (corpus = doc_id % 3 <> 0, batch = % 3 = 0), LSH band join batch
    // vs corpus → dupold, band self-join among the remainder →
    // agreement pairs → connected components → min-id canonical.
    // Short docs (< 3 tokens, no signature) appear in no drop set and
    // pass through — same as the operator.
    "q_x_inc_dedup" -> incDedupOracleSql("doc_id % 3 <> 0"),

    // same decision SQL with the purged ids gone from the OLD side:
    // after remove(), the index is exactly the surviving signatures,
    // so the incremental ingest must reproduce the batch-global
    // verdict against the smaller corpus
    "q_x_inc_dedup_removed" -> incDedupOracleSql(
      "doc_id % 3 <> 0 AND doc_id >= 200"),

    "q_x_training_report" ->
      s"""WITH corpus AS ($trainingPipelineSql)
         |SELECT lang_pred, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
         |  CAST(SUM(CAST(round(quality * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS avg_quality
         |FROM corpus GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    // mirror of Packing.packSequences: same md5Hash60 stream routing,
    // same exclusive prefix sum, same floor-division chunking
    "q_x_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  ${sqlH60("CAST(doc_id AS VARCHAR)")} % 32 AS pack_stream
         |  FROM documents),
         |o AS (SELECT doc_id, pack_stream,
         |  COALESCE(SUM(n_chars) OVER (PARTITION BY pack_stream ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pack_offset
         |  FROM t)
         |SELECT doc_id, pack_stream, CAST(pack_offset AS BIGINT) AS pack_offset,
         |  CAST(FLOOR(pack_offset / 4096) AS BIGINT) AS pack_chunk
         |FROM o ORDER BY doc_id""".stripMargin,

    // mirror of Sampling.mixCorpora: per-source cut = the same IEEE
    // double expression (weight * perUnit / count, clamped, rounded)
    // evaluated left-to-right, then the same salted-hash threshold
    // the lm CTEs mirror q_x_lm_score; the gate compares the ROUNDED
    // score (both engines round to 6 first, so the threshold cut is
    // identical); dedup + split + report reuse their proven shapes
    "q_x_recipe" ->
      s"""WITH d AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
         |u AS (SELECT t AS token, COUNT(*) AS c
         |      FROM (SELECT unnest(toks) AS t FROM d) GROUP BY 1),
         |nv AS (SELECT SUM(c) + COUNT(*) AS nv FROM u),
         |p AS (SELECT doc_id, i, toks[i] AS prev, toks[i+1] AS cur
         |      FROM d, unnest(generate_series(1, len(toks)-1)) AS g(i)
         |      WHERE len(toks) >= 2),
         |b AS (SELECT prev, cur, COUNT(*) AS c_bi FROM p GROUP BY 1, 2),
         |s AS (SELECT p.doc_id, p.i,
         |  ln(CASE WHEN u1.c > 0
         |       THEN 0.75*(CAST(COALESCE(b.c_bi, 0) AS DOUBLE)/CAST(u1.c AS DOUBLE))
         |       ELSE 0.0 END
         |     + 0.25*(CAST(COALESCE(u2.c, 0)+1 AS DOUBLE)/CAST(nv.nv AS DOUBLE))) AS logp
         |  FROM p
         |  LEFT JOIN b ON b.prev = p.prev AND b.cur = p.cur
         |  LEFT JOIN u u1 ON u1.token = p.prev
         |  LEFT JOIN u u2 ON u2.token = p.cur, nv),
         |sc AS (SELECT doc_id,
         |  round(list_reduce(list(logp ORDER BY i), (a, x) -> a + x)
         |        / CAST(COUNT(*) AS DOUBLE), 6) AS lm_score
         |  FROM s GROUP BY doc_id),
         |gated AS (SELECT d.doc_id, d.text, d.toks
         |  FROM d JOIN sc USING (doc_id) WHERE sc.lm_score >= -3.4),
         |deduped AS (SELECT doc_id, text, toks FROM gated
         |  QUALIFY row_number() OVER (PARTITION BY $sqlFp ORDER BY doc_id) = 1),
         |labeled AS (SELECT doc_id, toks,
         |  CASE WHEN h < 800000 THEN 'train'
         |       WHEN h < 900000 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text, toks,
         |    ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h
         |    FROM deduped))
         |SELECT split, COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM labeled GROUP BY split ORDER BY split""".stripMargin,

    "q_x_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT($c) AS n_nonnull,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_str,
           |  CAST(MAX($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // the deterministic columns are recomputed exactly; hll_ok is
    // pinned TRUE — the Spark side must land every HLL estimate inside
    // the ±20% envelope or the hash mismatches
    "q_x_profile_approx" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT($c) AS n_nonnull,
           |  CAST(MIN($c) AS VARCHAR) AS min_str,
           |  CAST(MAX($c) AS VARCHAR) AS max_str,
           |  TRUE AS hll_ok
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q_x_fk_orphans" ->
      """SELECT l.l_orderkey, l.l_partkey, l.l_linenumber
        |FROM lineitem l
        |WHERE l.l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 50 <> 0)
        |ORDER BY l.l_orderkey, l.l_partkey, l.l_linenumber""".stripMargin,

    "q_x_distinct_approx" ->
      """SELECT c_nationkey,
        |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
        |  TRUE AS hll_ok
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    // the persisted-sketch serve is gated the same way: exact distinct
    // is the hashable payload, hll_ok pins the union-of-stored-grains
    // estimate inside the envelope
    "q_x_hll_grains" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
        |  TRUE AS hll_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_x_quantiles_approx" ->
      """WITH d AS (SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS v
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT o_orderstatus, v,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY v) AS rn,
        |        COUNT(*) OVER (PARTITION BY o_orderstatus) AS n FROM d),
        |p AS (SELECT CAST(prob AS DOUBLE) AS prob
        |      FROM (VALUES (0.25), (0.5), (0.75), (0.95)) t(prob))
        |SELECT r.o_orderstatus, p.prob, r.v AS exact_q, TRUE AS kll_ok
        |FROM r JOIN p ON r.rn = GREATEST(1, CAST(CEIL(p.prob * r.n) AS BIGINT))
        |ORDER BY o_orderstatus, prob""".stripMargin,

    // the served sketch table is gated the same way as the one-shot
    // sketch: exact rank-element quantiles are the payload, kll_ok
    // pins the union-of-stored-grains estimate inside the envelope
    "q_x_kll_grains" ->
      """WITH d AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, v,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
        |p AS (SELECT CAST(prob AS DOUBLE) AS prob
        |      FROM (VALUES (0.25), (0.5), (0.75)) t(prob))
        |SELECT r.event_type, p.prob, r.v AS exact_q, TRUE AS kll_ok
        |FROM r JOIN p ON r.rn = GREATEST(1, CAST(CEIL(p.prob * r.n) AS BIGINT))
        |ORDER BY event_type, prob""".stripMargin,

    // same shapes as the operator: norms once per row, cos =
    // dot/(na*nb), assignment tie-break (cs DESC, list_id), drop rule
    // "exists a smaller-id near-dup in my cluster"
    "q_x_semdedup" -> semDedupOracle,

    // persisted-model serve ≡ fit-per-call under the same centroids
    // (same clusters, same pair join), so the same exact SQL gates it
    "q_x_semdedup_served" -> semDedupOracle,

    // removal of per-row-independent assignments under fixed centroids
    // ≡ a model never holding the rows: same SQL minus the purged ids
    "q_x_semdedup_removed" -> semDedupOracleSql(v =>
      s"$v NOT BETWEEN 100 AND 119"),

    // same asg CTE shape as the semdedup oracle, once per snapshot;
    // exact long counts through one IEEE division each, drift = one
    // abs of two doubles, tv = 0.5 x the list_id-ordered fold
    "q_x_embedding_drift" ->
      s"""WITH c AS (SELECT vec_id AS list_id, embedding AS centroid,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn
         |  FROM embeddings WHERE vec_id < 8
         |    AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |pa AS (SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS n
         |  FROM embeddings WHERE vec_id % 2 = 0
         |    AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |pb AS (SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS n
         |  FROM embeddings WHERE vec_id % 2 = 1
         |    AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |asga AS (SELECT vec_id, list_id FROM (
         |  SELECT pa.vec_id, c.list_id,
         |    ${sqlDot("pa.embedding", "c.centroid")} / (pa.n * c.cn) AS cs
         |  FROM pa, c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, list_id) = 1),
         |asgb AS (SELECT vec_id, list_id FROM (
         |  SELECT pb.vec_id, c.list_id,
         |    ${sqlDot("pb.embedding", "c.centroid")} / (pb.n * c.cn) AS cs
         |  FROM pb, c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, list_id) = 1),
         |na AS (SELECT list_id, COUNT(*) AS n FROM asga GROUP BY 1),
         |nb AS (SELECT list_id, COUNT(*) AS n FROM asgb GROUP BY 1),
         |base AS (SELECT c.list_id,
         |    CAST(COALESCE(na.n, 0) AS BIGINT) AS n_a,
         |    CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_b
         |  FROM c LEFT JOIN na ON c.list_id = na.list_id
         |         LEFT JOIN nb ON c.list_id = nb.list_id),
         |t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM base),
         |s AS (SELECT list_id, n_a, n_b,
         |    CASE WHEN ta > 0
         |      THEN CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
         |      ELSE 0.0 END AS share_a,
         |    CASE WHEN tb > 0
         |      THEN CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)
         |      ELSE 0.0 END AS share_b
         |  FROM base CROSS JOIN t),
         |d AS (SELECT *, abs(share_a - share_b) AS drift FROM s),
         |tv AS (SELECT 0.5 * list_aggregate(list_transform(
         |    list(struct_pack(l := list_id, dd := drift) ORDER BY list_id),
         |    x -> x.dd), 'sum') AS tv FROM d)
         |SELECT list_id, n_a, n_b, share_a, share_b, drift, tv
         |FROM d CROSS JOIN tv ORDER BY list_id""".stripMargin,

    "q_x_global_rank" ->
      s"""WITH s AS (SELECT doc_id, text,
         |  CAST(len($sqlToks) AS BIGINT) AS n,
         |  CAST(len(list_filter($sqlToks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS sw,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonsp
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  0.4*(CASE WHEN n = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE)/CAST(n AS DOUBLE) END)
         |  + 0.4*(CASE WHEN chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE)/CAST(chars AS DOUBLE) END)
         |  + 0.2*least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(nonsp AS DOUBLE)/CAST(n AS DOUBLE) END)/8.0, 1.0) AS quality
         |  FROM s),
         |r AS (SELECT doc_id, quality,
         |  CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS rank
         |  FROM q)
         |SELECT doc_id, quality, rank,
         |  CAST((rank - 1) * 10 // (SELECT COUNT(*) FROM q) + 1 AS INTEGER) AS decile
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_x_rolling" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS rolling_cnt,
        |  MAX(o_totalprice) OVER w AS rolling_max_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    // Mirrors Dsir exactly: same feature stream (unigrams + adjacent
    // bigrams, md5-hashed mod 1024), same smoothed log-ratio shape,
    // ORDER-BY-bucket list fold, round(…,6) for the ln ulp gap
    "q_x_dsir" ->
      s"""WITH d AS (SELECT doc_id, lang, $sqlToks AS toks FROM documents),
         |f AS (SELECT doc_id, lang,
         |  ${sqlH60("g")} % 1024 AS bucket FROM (
         |    SELECT doc_id, lang, unnest(toks) AS g FROM d
         |    UNION ALL
         |    SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS g
         |    FROM d, unnest(generate_series(1, len(toks)-1)) AS gs(i)
         |    WHERE len(toks) >= 2)),
         |ct AS (SELECT bucket, COUNT(*) AS c FROM f WHERE lang = 'en' GROUP BY 1),
         |cr AS (SELECT bucket, COUNT(*) AS c FROM f GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n FROM f WHERE lang = 'en'),
         |nr AS (SELECT COUNT(*) AS n FROM f),
         |lr AS (SELECT bk.bucket,
         |  ln(CAST(COALESCE(ct.c, 0)+1 AS DOUBLE)/CAST(nt.n + 1024 AS DOUBLE))
         |  - ln(CAST(COALESCE(cr.c, 0)+1 AS DOUBLE)/CAST(nr.n + 1024 AS DOUBLE)) AS lr
         |  FROM (SELECT unnest(generate_series(0, 1023)) AS bucket) bk
         |  LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket), nt, nr),
         |s AS (SELECT doc_id, bucket, COUNT(*) AS n FROM f GROUP BY 1, 2),
         |w AS (SELECT s.doc_id,
         |  round(list_reduce(list(CAST(s.n AS DOUBLE) * lr.lr ORDER BY s.bucket),
         |    (a, x) -> a + x), 6) AS dsir_weight
         |  FROM s JOIN lr USING (bucket) GROUP BY s.doc_id)
         |SELECT d.doc_id, d.lang, COALESCE(w.dsir_weight, 0.0) AS dsir_weight
         |FROM d LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the running total is an integer cumsum over the (quality desc,
    // doc_id) total order — the two-pass prefix sum must equal the
    // single-window spelling exactly
    "q_x_budget_select" ->
      s"""WITH s AS (SELECT doc_id, text,
         |  CAST(len($sqlToks) AS BIGINT) AS n,
         |  CAST(len(list_filter($sqlToks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS sw,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonsp
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  0.4*(CASE WHEN n = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE)/CAST(n AS DOUBLE) END)
         |  + 0.4*(CASE WHEN chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE)/CAST(chars AS DOUBLE) END)
         |  + 0.2*least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(nonsp AS DOUBLE)/CAST(n AS DOUBLE) END)/8.0, 1.0) AS quality,
         |  n AS n_tokens FROM s),
         |r AS (SELECT doc_id, quality, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_tokens FROM q)
         |SELECT doc_id, quality, n_tokens, running_tokens
         |FROM r
         |WHERE running_tokens <= (SELECT (CAST(SUM(n_tokens) AS BIGINT)*6)//10 FROM q)
         |ORDER BY doc_id""".stripMargin,

    "q_x_budget_per_group" ->
      s"""WITH s AS (SELECT doc_id, lang, text,
         |  CAST(len($sqlToks) AS BIGINT) AS n,
         |  CAST(len(list_filter($sqlToks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS sw,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonsp
         |  FROM documents),
         |q AS (SELECT doc_id, lang,
         |  0.4*(CASE WHEN n = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE)/CAST(n AS DOUBLE) END)
         |  + 0.4*(CASE WHEN chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE)/CAST(chars AS DOUBLE) END)
         |  + 0.2*least((CASE WHEN n = 0 THEN 0.0 ELSE CAST(nonsp AS DOUBLE)/CAST(n AS DOUBLE) END)/8.0, 1.0) AS quality,
         |  n AS n_tokens FROM s),
         |b AS (SELECT lang, (CAST(SUM(n_tokens) AS BIGINT)*5)//10 AS lang_budget
         |      FROM q GROUP BY lang),
         |r AS (SELECT doc_id, lang, quality, n_tokens,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_tokens FROM q)
         |SELECT r.doc_id, r.lang, r.quality, r.n_tokens, r.running_tokens
         |FROM r JOIN b ON r.lang = b.lang
         |WHERE r.running_tokens <= b.lang_budget
         |ORDER BY r.doc_id""".stripMargin,

    "q_x_shards" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  ${sqlH60("'shard:' || CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM documents),
         |r AS (SELECT doc_id, lang,
         |  ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rn FROM h)
         |SELECT doc_id, lang, CAST((rn - 1) // 64 AS INTEGER) AS shard
         |FROM r ORDER BY doc_id""".stripMargin,

    // cuts are round(cum_fraction * 1e6): 0.8 → 800000, 0.9 → 900000
    "q_x_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < 800000 THEN 'train'
         |       WHEN h < 900000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |  ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_x_mix_corpora" ->
      s"""WITH w AS (
         |  SELECT 'en' AS lang, CAST(0.5 AS DOUBLE) AS wt UNION ALL
         |  SELECT 'de', CAST(0.2 AS DOUBLE) UNION ALL
         |  SELECT 'fr', CAST(0.15 AS DOUBLE) UNION ALL
         |  SELECT 'es', CAST(0.1 AS DOUBLE) UNION ALL
         |  SELECT 'zh', CAST(0.05 AS DOUBLE)),
         |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM documents GROUP BY lang),
         |j AS (SELECT w.lang, w.wt, c.n FROM w JOIN c USING (lang)),
         |nv AS (SELECT MIN(n / wt) AS perunit FROM j),
         |cuts AS (SELECT lang,
         |  CAST(FLOOR(LEAST(wt * (SELECT perunit FROM nv) / n,
         |    CAST(1.0 AS DOUBLE)) * 1000000 + CAST(0.5 AS DOUBLE))
         |    AS BIGINT) AS cut FROM j)
         |SELECT d.doc_id, d.lang, d.lang AS mix_source
         |FROM documents d JOIN cuts ON cuts.lang = d.lang
         |WHERE ${sqlH60("'graft:' || d.lang || ':' || CAST(d.doc_id AS VARCHAR)")}
         |  % 1000000 < cut
         |ORDER BY doc_id""".stripMargin,

    // mirrors sampleExact's global heap order: (hash asc, id asc), n=120
    "q_x_sample_exact" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source FROM documents
         |  ORDER BY ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")}, doc_id
         |  LIMIT 120)
         |ORDER BY doc_id""".stripMargin,

    // mirrors perGroupSample's heap order exactly: (hash asc, id asc)
    "q_x_domain_cap" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |    AS rk
         |  FROM documents)
         |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    // mirrors Sampling.temperatureMix: Σ sqrt(n) via the SAME
    // source-sorted in-order list fold the Spark plan uses (a bare
    // SUM of doubles is accumulation-order-dependent), identical
    // left-associated double expression for the per-group cut
    "q_x_mix_temperature" ->
      s"""WITH sk AS (SELECT doc_id, source FROM documents
         |  WHERE doc_id % 4 <= CAST(substr(source, 4) AS INTEGER) % 4),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM sk GROUP BY 1),
         |arr AS (SELECT list(struct_pack(g := source, n := n)
         |          ORDER BY source, n) AS a FROM sz),
         |tot AS (SELECT (SELECT SUM(n) FROM sz) AS nn,
         |  list_aggregate(list_transform(a,
         |    s -> sqrt(CAST(s.n AS DOUBLE))), 'sum') AS w FROM arr),
         |cuts AS (SELECT sz.source,
         |  CAST(round(least(CAST(1.0 AS DOUBLE),
         |    sqrt(CAST(sz.n AS DOUBLE)) / t.w * 0.8
         |      * CAST(t.nn AS DOUBLE) / CAST(sz.n AS DOUBLE))
         |    * 1000000) AS BIGINT) AS cut
         |  FROM sz CROSS JOIN tot t)
         |SELECT sk.doc_id, sk.source FROM sk JOIN cuts USING (source)
         |WHERE ${sqlH60("'graft:' || CAST(doc_id AS VARCHAR)")} % 1000000 < cut
         |ORDER BY doc_id""".stripMargin,

    "q_x_dedup_exact" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |QUALIFY row_number() OVER (PARTITION BY $sqlFp ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin,

    // Mirrors ChunkDedup.dedupChunks(c=8): same md5-fingerprint
    // election, same (doc_id, position) first-wins order, same
    // position-ordered reassembly.
    "q_x_chunk_dedup" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  CAST((len(toks) + 7) // 8 AS INTEGER) AS n_chunks,
         |  list_transform(range(1, CAST((len(toks) + 7) // 8 AS INTEGER) + 1),
         |    i -> array_to_string(toks[(i-1)*8+1 : i*8], ' ')) AS chunks
         |  FROM d),
         |e AS (SELECT doc_id, u.i AS idx, u.ch AS chunk FROM
         |  (SELECT doc_id, unnest(list_transform(range(1, len(chunks) + 1),
         |     i -> {'i': i, 'ch': chunks[i]})) AS u FROM c)),
         |k AS (SELECT doc_id, idx, chunk,
         |  row_number() OVER (PARTITION BY md5(chunk)
         |    ORDER BY doc_id, idx) AS rn FROM e),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_kept,
         |  string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
         |  FROM k WHERE rn = 1 GROUP BY 1)
         |SELECT c.doc_id, c.n_chunks,
         |  coalesce(g.n_kept, 0) AS n_kept,
         |  coalesce(g.text_dedup, '') AS text_dedup
         |FROM c LEFT JOIN g USING (doc_id) ORDER BY c.doc_id""".stripMargin,

    // Mirrors CorpusDivergence.divergence(topK=256): same union-count
    // vocab election, same <oov> pool, same token-sorted single-array
    // fold with identical IEEE expression shapes (divide/subtract/
    // sqrt only — no transcendentals)
    "q_x_corpus_divergence" ->
      s"""WITH tp AS (SELECT unnest($sqlToks) AS token FROM documents
         |            WHERE lang = 'en'),
         |tq AS (SELECT unnest($sqlToks) AS token FROM documents
         |       WHERE lang = 'de'),
         |cpc AS (SELECT token, COUNT(*) AS c FROM tp GROUP BY 1),
         |cqc AS (SELECT token, COUNT(*) AS c FROM tq GROUP BY 1),
         |u AS (SELECT coalesce(cpc.token, cqc.token) AS token,
         |        coalesce(cpc.c, 0) + coalesce(cqc.c, 0) AS ct,
         |        coalesce(cpc.c, 0) AS cp, coalesce(cqc.c, 0) AS cq
         |      FROM cpc FULL OUTER JOIN cqc ON cpc.token = cqc.token),
         |v AS (SELECT token, cp, cq FROM u
         |      ORDER BY ct DESC, token LIMIT 256),
         |oov AS (SELECT '<oov>' AS token,
         |        coalesce(SUM(cp), 0) AS cp, coalesce(SUM(cq), 0) AS cq
         |        FROM u ANTI JOIN v USING (token)),
         |allv AS (SELECT * FROM v UNION ALL SELECT * FROM oov),
         |arr AS (SELECT list(struct_pack(token := token, cp := cp,
         |          cq := cq) ORDER BY token) AS a FROM allv),
         |tot AS (SELECT a, CAST(len(a) AS BIGINT) AS vocab_size,
         |  CAST(list_aggregate(list_transform(a, s -> s.cp), 'sum')
         |    AS BIGINT) AS np,
         |  CAST(list_aggregate(list_transform(a, s -> s.cq), 'sum')
         |    AS BIGINT) AS nq FROM arr)
         |SELECT vocab_size, np AS n_tokens_p, nq AS n_tokens_q,
         |  list_aggregate(list_transform(a, s ->
         |    abs(CAST(s.cp + 1 AS DOUBLE) / CAST(np + vocab_size AS DOUBLE)
         |      - CAST(s.cq + 1 AS DOUBLE) / CAST(nq + vocab_size AS DOUBLE))
         |    ), 'sum') * 0.5 AS tv,
         |  sqrt(list_aggregate(list_transform(a, s ->
         |    (sqrt(CAST(s.cp + 1 AS DOUBLE) / CAST(np + vocab_size AS DOUBLE))
         |     - sqrt(CAST(s.cq + 1 AS DOUBLE) / CAST(nq + vocab_size AS DOUBLE)))
         |    * (sqrt(CAST(s.cp + 1 AS DOUBLE) / CAST(np + vocab_size AS DOUBLE))
         |     - sqrt(CAST(s.cq + 1 AS DOUBLE) / CAST(nq + vocab_size AS DOUBLE)))
         |    ), 'sum') * 0.5) AS hellinger,
         |  list_aggregate(list_transform(a, s ->
         |    (CAST(s.cp + 1 AS DOUBLE) / CAST(np + vocab_size AS DOUBLE)
         |     - CAST(s.cq + 1 AS DOUBLE) / CAST(nq + vocab_size AS DOUBLE))
         |    * (CAST(s.cp + 1 AS DOUBLE) / CAST(np + vocab_size AS DOUBLE)
         |     - CAST(s.cq + 1 AS DOUBLE) / CAST(nq + vocab_size AS DOUBLE))
         |    / (CAST(s.cp + 1 AS DOUBLE) / CAST(np + vocab_size AS DOUBLE)
         |     + CAST(s.cq + 1 AS DOUBLE) / CAST(nq + vocab_size AS DOUBLE))
         |    ), 'sum') AS chi2
         |FROM tot""".stripMargin,

    // Mirrors SpanDedup.stripDuplicatedSpans(k=8): same sliding md5
    // windows, same (doc_id, pos) first-wins election, same distinct
    // coverage + lag-islands span merge, same position-ordered
    // reassembly of surviving tokens.
    "q_x_span_dedup" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |b AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n_tokens
         |      FROM d),
         |w AS (SELECT doc_id, i - 1 AS pos,
         |        md5(array_to_string(toks[i : i+7], ' ')) AS fp
         |      FROM b CROSS JOIN unnest(range(1, n_tokens - 6)) t(i)
         |      WHERE n_tokens >= 8),
         |dup AS (SELECT doc_id, pos FROM (
         |  SELECT doc_id, pos, row_number() OVER (PARTITION BY fp
         |    ORDER BY doc_id, pos) AS rn FROM w) WHERE rn > 1),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS tp
         |        FROM dup CROSS JOIN unnest(range(0, 8)) u(j)),
         |st AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_dup_tokens,
         |        CAST(SUM(brk) AS INTEGER) AS n_spans FROM (
         |          SELECT doc_id, CASE WHEN tp - lag(tp) OVER (
         |            PARTITION BY doc_id ORDER BY tp) = 1
         |            THEN 0 ELSE 1 END AS brk FROM cov)
         |        GROUP BY doc_id),
         |tok AS (SELECT doc_id, i - 1 AS tp, toks[i] AS tok
         |        FROM b CROSS JOIN unnest(range(1, n_tokens + 1)) t(i)),
         |keep AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp)
         |           AS text_stripped
         |         FROM tok ANTI JOIN cov USING (doc_id, tp)
         |         GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  coalesce(st.n_dup_tokens, 0) AS n_dup_tokens,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(keep.text_stripped, '') AS text_stripped
         |FROM b LEFT JOIN st USING (doc_id) LEFT JOIN keep USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,

    // mirrors SpanDedup.maskContaminatedSpans over the same injected
    // fixture: corpus windows semi-joined against the eval side's
    // distinct window fingerprints, then the span_dedup coverage tail
    "q_x_span_decontaminate" -> spanDecontaminateOracle,

    // index-backed candidate pruning is output-invisible (sound rare-
    // token election), so the same exact SQL gates the served path
    "q_x_span_decontaminate_indexed" -> spanDecontaminateOracle,

    // chr(769) = U+0301 COMBINING ACUTE; nfc_normalize composes it with
    // the preceding 'e' exactly as java.text.Normalizer NFC does
    "q_x_text_nfc" ->
      """SELECT doc_id,
        |  nfc_normalize(text || ' cafe' || chr(769)) AS nfc_text,
        |  CAST(length(nfc_normalize(text || ' cafe' || chr(769))) AS INTEGER)
        |    AS n_chars_nfc
        |FROM documents ORDER BY doc_id""".stripMargin,

    // stride = 12 - 4 = 8; chunk count = 1 + max(0, floor((n-4-1)/8));
    // DuckDB list slicing is 1-based inclusive and end-clamped, exactly
    // like Spark's slice()
    "q_x_chunk_split" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0)
         |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |  array_to_string(toks[i*8+1 : i*8+12], ' ') AS chunk_text,
         |  CAST(least(12, n - i*8) AS INTEGER) AS n_tokens
         |FROM n CROSS JOIN
         |  unnest(range(1 + greatest(0, CAST(floor((n - 5.0) / 8) AS BIGINT)))) t(i)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_x_jaccard_pairs" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |idx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
         |        FROM d WHERE len(toks) >= 3),
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
         |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |          GROUP BY a.id, b.id)
         |SELECT i.id_a, i.id_b,
         |  CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON i.id_a = sa.id
         |JOIN sizes sb ON i.id_b = sb.id
         |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,

    // CAPPED semantics end-to-end: shingles with df > 5 leave both the
    // inverted index and the per-doc denominators (post-filter counts)
    "q_x_jaccard_pairs_capped" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |idx0 AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
         |         FROM d WHERE len(toks) >= 3),
         |hot AS (SELECT shingle FROM idx0 GROUP BY 1 HAVING COUNT(*) > 5),
         |idx AS (SELECT id, shingle FROM idx0 ANTI JOIN hot USING (shingle)),
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
         |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |          GROUP BY a.id, b.id)
         |SELECT i.id_a, i.id_b,
         |  CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON i.id_a = sa.id
         |JOIN sizes sb ON i.id_b = sb.id
         |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,

    "q_x_decontaminate" -> decontaminateSql,
    // the bloom prefilter is false-negative-free and the exact join
    // removes false positives — output is bit-identical, oracle shared
    "q_x_decontaminate_bloom" -> decontaminateSql,

    // mirrors CorpusDivergence.vocabOverlap: distinct (lang, token),
    // a < b pair join, |A|+|B|-|inter| denominator; the all-pairs
    // frame left-joins the intersection so disjoint-vocab pairs
    // surface as jaccard 0.0 instead of vanishing
    "q_x_vocab_overlap" ->
      s"""WITH v AS (SELECT DISTINCT lang AS g, unnest($sqlToks) AS tok
         |           FROM documents),
         |sz AS (SELECT g, COUNT(*) AS n FROM v GROUP BY 1),
         |i AS (SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS n_inter
         |      FROM v a JOIN v b ON a.tok = b.tok AND a.g < b.g
         |      GROUP BY 1, 2),
         |ap AS (SELECT sa.g AS g_a, sa.n AS na, sb.g AS g_b, sb.n AS nb
         |       FROM sz sa JOIN sz sb ON sa.g < sb.g)
         |SELECT ap.g_a, ap.g_b, COALESCE(i.n_inter, 0) AS n_inter,
         |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
         |    / CAST(ap.na + ap.nb - COALESCE(i.n_inter, 0) AS DOUBLE)
         |    AS jaccard
         |FROM ap LEFT JOIN i ON ap.g_a = i.g_a AND ap.g_b = i.g_b
         |ORDER BY 1, 2""".stripMargin,

    // mirrors HybridSearch.rrf over Bm25.search + bruteForceTopK: the
    // same BM25 chain at top-20, the same cosine brute force over the
    // id-aligned embeddings at top-20, contributions 1.0/(60.0 + rank)
    // summed per (query, doc) in src-tag order — all doubles derive
    // from integer ranks, so the fold is bit-exact cross-engine
    "q_x_hybrid_search" -> hybridSearchOracle,

    "q_x_hybrid_search_ivf" -> hybridSearchOracle,

    "q_x_hybrid_search_served" -> hybridSearchOracle,

    // wRRF: same fusion SQL with the engine's exact per-ranker weights
    "q_x_hybrid_search_weighted" -> hybridSearchOracleSql("0.7", "0.3"),

    // the offset-vote phrase plan mirrored on token positions: start =
    // pos − j, an occurrence iff all k offsets voted — integer counts
    // end to end, rank by (n_occurrences DESC, doc_id)
    "q_x_bm25_phrase" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |pd AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS token
         |       FROM d CROSS JOIN unnest(range(1, len(toks) + 1)) t(i)),
         |qt AS (SELECT * FROM (VALUES
         |    ('q1', 0, 'table'), ('q1', 1, 'hash'),
         |    ('q2', 0, 'slow'), ('q2', 1, 'hash'), ('q2', 2, 'batch'),
         |    ('q3', 0, 'spark')) t(query_id, j, token)),
         |k AS (SELECT query_id, COUNT(*) AS k FROM qt GROUP BY 1),
         |st AS (SELECT query_id, doc_id, pos - j AS strt
         |       FROM pd JOIN qt USING (token) WHERE pos - j >= 0),
         |hit AS (SELECT query_id, doc_id, strt, COUNT(*) AS nj
         |        FROM st GROUP BY 1, 2, 3),
         |occ AS (SELECT h.query_id, h.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |  FROM hit h JOIN k USING (query_id)
         |  WHERE h.nj = k.k GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, n_occurrences,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY n_occurrences DESC, doc_id) AS INTEGER) AS rank
         |  FROM occ)
         |SELECT query_id, rank, doc_id, n_occurrences FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // wraps the q_x_bm25 oracle (identical scores), then mirrors
    // mineTriplets: positives = top-2, negatives = the anti-joined
    // remainder re-ranked (score DESC, id), k = 3, cross-paired
    "q_x_hard_negatives" ->
      s"""WITH base AS ($bm25Oracle),
         |pos AS (SELECT query_id, doc_id FROM base WHERE rank <= 2),
         |negs AS (SELECT b.query_id, b.doc_id, b.score,
         |    CAST(row_number() OVER (PARTITION BY b.query_id
         |      ORDER BY b.score DESC, b.doc_id) AS INTEGER) AS neg_rank
         |  FROM base b LEFT JOIN pos p
         |    ON p.query_id = b.query_id AND p.doc_id = b.doc_id
         |  WHERE p.doc_id IS NULL)
         |SELECT p.query_id, p.doc_id AS positive_id,
         |  n.doc_id AS negative_id, n.neg_rank, n.score AS neg_score
         |FROM pos p JOIN negs n ON n.query_id = p.query_id
         |WHERE n.neg_rank <= 3
         |ORDER BY p.query_id, positive_id, neg_rank""".stripMargin,

    // mirrors booleanSearchIndexed exactly: the same tf/dl/st CTEs and
    // rounded-idf/sorted-fold scoring as the q_x_bm25 oracle over the
    // must+should terms, gated by a per-(query, doc) distinct-must
    // count equality and a mustNot anti-join — both integer-exact
    "q_x_bm25_boolean" ->
      s"""WITH pd AS (SELECT doc_id, unnest($sqlToks) AS token
         |            FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS c FROM pd GROUP BY 1, 2),
         |dl AS (SELECT doc_id, SUM(c) AS len FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n, SUM(len) AS tot FROM dl),
         |qt AS (SELECT * FROM (VALUES
         |    ('b1', 'merge', 'm'), ('b1', 'join', 'm'), ('b1', 'table', 's'),
         |    ('b2', 'fast', 'm'), ('b2', 'scan', 's'), ('b2', 'query', 's'),
         |    ('b2', 'stream', 'n'),
         |    ('b3', 'window', 's'), ('b3', 'agg', 's'), ('b3', 'merge', 'n'))
         |  AS t(query_id, token, role)),
         |qidf AS (SELECT q.query_id, f.token,
         |    round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf,
         |    CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
         |  FROM (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1) f
         |  JOIN (SELECT query_id, token FROM qt WHERE role <> 'n') q
         |    USING (token) CROSS JOIN st),
         |m AS (SELECT query_id, tf.doc_id, tf.token,
         |    idf * (CAST(c AS DOUBLE) * (1.2 + 1.0))
         |      / (CAST(c AS DOUBLE) + 1.2 * (1.0 - 0.75
         |        + (0.75 * CAST(len AS DOUBLE)) / avgdl)) AS s
         |  FROM tf JOIN qidf USING (token) JOIN dl USING (doc_id)),
         |sc AS (SELECT query_id, doc_id,
         |    list_aggregate(list_transform(
         |      list(struct_pack(token := token, s := s) ORDER BY token),
         |      x -> x.s), 'sum') AS score
         |  FROM m GROUP BY 1, 2),
         |excl AS (SELECT DISTINCT q.query_id, tf.doc_id
         |  FROM tf JOIN qt q USING (token) WHERE q.role = 'n'),
         |nm AS (SELECT query_id, COUNT(*) AS nm FROM qt
         |  WHERE role = 'm' GROUP BY 1),
         |mh AS (SELECT q.query_id, tf.doc_id, COUNT(*) AS mh
         |  FROM tf JOIN qt q USING (token) WHERE q.role = 'm' GROUP BY 1, 2),
         |gated AS (SELECT sc.query_id, sc.doc_id, sc.score
         |  FROM sc
         |  LEFT JOIN excl e ON e.query_id = sc.query_id
         |    AND e.doc_id = sc.doc_id
         |  LEFT JOIN nm ON nm.query_id = sc.query_id
         |  LEFT JOIN mh ON mh.query_id = sc.query_id
         |    AND mh.doc_id = sc.doc_id
         |  WHERE e.doc_id IS NULL
         |    AND (COALESCE(nm.nm, 0) = 0
         |         OR COALESCE(mh.mh, 0) = COALESCE(nm.nm, 0))),
         |r AS (SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         |  FROM gated)
         |SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors proximitySearchIndexed: position p of token t votes for
    // starts [max(0, p-7), p]; a start whose DISTINCT-token vote count
    // equals the query's distinct token count is a matching window
    "q_x_bm25_near" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |pd AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS token
         |       FROM d CROSS JOIN unnest(range(1, len(toks) + 1)) t(i)),
         |qt AS (SELECT * FROM (VALUES
         |    ('q1', 'merge'), ('q1', 'table'),
         |    ('q2', 'fast'), ('q2', 'query'),
         |    ('q3', 'stream'), ('q3', 'window'), ('q3', 'agg'))
         |  AS t(query_id, token)),
         |qk AS (SELECT query_id, COUNT(DISTINCT token) AS k FROM qt
         |  GROUP BY 1),
         |v AS (SELECT q.query_id, pd.doc_id, pd.token, s.s AS strt
         |  FROM pd JOIN qt q USING (token)
         |  CROSS JOIN unnest(generate_series(GREATEST(0, pos - 7), pos))
         |    AS s(s)),
         |hit AS (SELECT query_id, doc_id, strt,
         |    COUNT(DISTINCT token) AS nt
         |  FROM v GROUP BY 1, 2, 3),
         |occ AS (SELECT h.query_id, h.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_windows
         |  FROM hit h JOIN qk USING (query_id)
         |  WHERE h.nt = qk.k GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, n_windows,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY n_windows DESC, doc_id) AS INTEGER) AS rank
         |  FROM occ)
         |SELECT query_id, rank, doc_id, n_windows FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // mirrors Collocations.pmi: 1-based list_transform index i pairs
    // with toks[i+1 : i+window]; identical marginal joins and the same
    // (n*N)/(na*nb) order under round(ln(...), 6)
    "q_x_pmi" ->
      s"""WITH d AS (SELECT $sqlToks AS toks FROM documents),
         |p AS (SELECT u.a AS a, u.b AS b FROM
         |  (SELECT unnest(flatten(list_transform(toks, (t, i) ->
         |     list_transform(toks[i+1 : least(i+2, len(toks))],
         |       v -> {'a': t, 'b': v})))) AS u FROM d)),
         |pc AS (SELECT a, b, COUNT(*) AS n_pair FROM p GROUP BY 1, 2),
         |la AS (SELECT a, SUM(n_pair) AS na FROM pc GROUP BY 1),
         |rb AS (SELECT b, SUM(n_pair) AS nb FROM pc GROUP BY 1),
         |tot AS (SELECT SUM(n_pair) AS np FROM pc)
         |SELECT pc.a AS tok_a, pc.b AS tok_b,
         |  CAST(pc.n_pair AS BIGINT) AS n_pair,
         |  round(ln(CAST(pc.n_pair AS DOUBLE) * CAST(tot.np AS DOUBLE)
         |    / (CAST(la.na AS DOUBLE) * CAST(rb.nb AS DOUBLE))), 6) AS pmi
         |FROM pc JOIN la USING (a) JOIN rb USING (b) CROSS JOIN tot
         |WHERE pc.n_pair >= 20 ORDER BY tok_a, tok_b""".stripMargin,

    // mirrors TextAnalysis.concordance: same 0-based pos, same clamped
    // 1-based inclusive slice (DuckDB list slicing clamps like Spark's)
    "q_x_concordance" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |e AS (SELECT doc_id, toks, i - 1 AS pos
         |      FROM d CROSS JOIN unnest(range(1, len(toks) + 1)) t(i)
         |      WHERE toks[i] = 'window')
         |SELECT doc_id, CAST(pos AS INTEGER) AS pos,
         |  array_to_string(
         |    toks[greatest(1, pos + 1 - 4) : least(pos + 1 + 4, len(toks))],
         |    ' ') AS context
         |FROM e ORDER BY doc_id, pos""".stripMargin,

    // mirrors Boilerplate.stripCommonSegments: group-scoped segment
    // doc-frequency, >= minDocs AND > maxDocFrac of group size →
    // removed everywhere; oracle groups on the raw segment where the
    // engine groups on md5 (same equivalence classes)
    "q_x_boilerplate" ->
      """WITH lined AS (SELECT doc_id, source,
        |  concat_ws(chr(10), 'NAV ' || source, substr(text, 1, 40),
        |    CASE WHEN doc_id % 3 = 0 THEN 'PROMO ' || source
        |         ELSE substr(text, 41, 40) END, text) AS ltext
        |  FROM documents),
        |c AS (SELECT doc_id, source, string_split(ltext, chr(10)) AS l
        |  FROM lined),
        |e AS (SELECT doc_id, source, u.i AS pos, u.s AS seg FROM
        |  (SELECT doc_id, source, unnest(list_transform(range(1, len(l) + 1),
        |     i -> {'i': i, 's': l[i]})) AS u FROM c)),
        |gsz AS (SELECT source, COUNT(*) AS gdocs FROM lined GROUP BY 1),
        |dfreq AS (SELECT source, seg, COUNT(DISTINCT doc_id) AS docs
        |  FROM e WHERE trim(seg) <> '' GROUP BY 1, 2),
        |boiler AS (SELECT d.source, d.seg FROM dfreq d JOIN gsz g USING (source)
        |  WHERE d.docs >= 3 AND d.docs > g.gdocs * 0.5),
        |kept AS (SELECT e.doc_id, e.pos, e.seg FROM e
        |  ANTI JOIN boiler b ON e.source = b.source AND e.seg = b.seg),
        |re AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_kept,
        |  string_agg(seg, chr(10) ORDER BY pos) AS txt
        |  FROM kept GROUP BY 1)
        |SELECT c.doc_id, CAST(len(c.l) AS INTEGER) AS n_segments,
        |  coalesce(re.n_kept, 0) AS n_kept,
        |  coalesce(re.txt, '') AS text_stripped
        |FROM c LEFT JOIN re USING (doc_id) ORDER BY c.doc_id""".stripMargin,

    "q_x_text_replines" ->
      raw"""WITH base AS (SELECT doc_id, text,
           |  substr(text, 1, 40) AS h40, substr(text, 41, 40) AS n40
           |  FROM documents),
           |built AS (SELECT doc_id,
           |  concat_ws(chr(10), text, h40,
           |    CASE WHEN doc_id % 3 = 0 THEN h40 ELSE n40 END) AS lined,
           |  concat_ws(chr(10) || chr(10), text,
           |    CASE WHEN doc_id % 2 = 0 THEN text ELSE h40 END) AS paraed
           |  FROM base),
           |segs AS (SELECT doc_id,
           |  list_filter(list_transform(string_split_regex(lined, '\n'),
           |    s -> trim(s)), s -> length(s) > 0) AS lines,
           |  list_filter(list_transform(string_split_regex(paraed, '\n{2,}'),
           |    s -> trim(s)), s -> length(s) > 0) AS paras
           |  FROM built),
           |sums AS (SELECT doc_id, lines, paras,
           |  COALESCE(list_aggregate(list_transform(lines, s -> length(s)), 'sum'), 0) AS lt,
           |  COALESCE(list_aggregate(list_transform(list_distinct(lines), s -> length(s)), 'sum'), 0) AS ld,
           |  COALESCE(list_aggregate(list_transform(paras, s -> length(s)), 'sum'), 0) AS pt,
           |  COALESCE(list_aggregate(list_transform(list_distinct(paras), s -> length(s)), 'sum'), 0) AS pd
           |  FROM segs)
           |SELECT doc_id,
           |  CASE WHEN len(lines) = 0 THEN 0.0 ELSE
           |    1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) END
           |    AS dup_line_frac,
           |  CASE WHEN lt = 0 THEN 0.0 ELSE
           |    CAST(lt - ld AS DOUBLE) / CAST(lt AS DOUBLE) END AS dup_line_char_frac,
           |  CASE WHEN len(paras) = 0 THEN 0.0 ELSE
           |    1.0 - CAST(len(list_distinct(paras)) AS DOUBLE) / CAST(len(paras) AS DOUBLE) END
           |    AS dup_para_frac,
           |  CASE WHEN pt = 0 THEN 0.0 ELSE
           |    CAST(pt - pd AS DOUBLE) / CAST(pt AS DOUBLE) END AS dup_para_char_frac
           |FROM sums ORDER BY doc_id""".stripMargin,

    "q_x_text_redact" ->
      raw"""SELECT doc_id,
           |  regexp_replace(regexp_replace(
           |    concat(text, ' contact: user', doc_id, '@example.com or +1 555 123-4567 now'),
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS redacted
           |FROM documents ORDER BY doc_id""".stripMargin,

    "q_x_dedup_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |idx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
         |        FROM d WHERE len(toks) >= 3),
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
         |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |          GROUP BY a.id, b.id),
         |pairs AS (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id
         |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
         |SELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q_x_canonical" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |idx AS (SELECT doc_id AS id, unnest(${sqlShingles("toks")}) AS shingle
         |        FROM d WHERE len(toks) >= 3),
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
         |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |          GROUP BY a.id, b.id),
         |pairs AS (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id
         |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         |lab AS (SELECT doc_id, COALESCE(c.comp, doc_id) AS comp, n_chars
         |        FROM documents LEFT JOIN comps c ON c.id = doc_id)
         |SELECT doc_id, comp,
         |  (ROW_NUMBER() OVER (PARTITION BY comp
         |     ORDER BY n_chars DESC, doc_id ASC) = 1) AS keep
         |FROM lab ORDER BY doc_id""".stripMargin,

    "q_x_minhash_candidates" ->
      s"""WITH $sqlMinhashSig,
         |$sqlMinhashBandRows,
         |$sqlMinhashCand
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,

    // truth = the exact inverted-index jaccard over ALL shingle-sharing
    // pairs; flag = left join against the banded candidates; buckets =
    // least(floor(j*10), 9) — every number an exact count through one
    // IEEE division, so the whole S-curve hash-matches
    "q_x_minhash_calibration" ->
      s"""WITH $sqlMinhashSig,
         |$sqlMinhashBandRows,
         |$sqlMinhashCand,
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
         |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |          GROUP BY a.id, b.id),
         |truth AS (SELECT i.id_a, i.id_b,
         |    CAST(i.inter AS DOUBLE)
         |      / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
         |  FROM inter i
         |  JOIN sizes sa ON i.id_a = sa.id
         |  JOIN sizes sb ON i.id_b = sb.id),
         |fl AS (SELECT t.jaccard,
         |    CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS isc
         |  FROM truth t LEFT JOIN cand c
         |    ON t.id_a = c.id_a AND t.id_b = c.id_b),
         |g AS (SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INTEGER), 9) AS bucket,
         |    COUNT(*) AS n_pairs, SUM(isc) AS n_candidates
         |  FROM fl GROUP BY 1)
         |SELECT CAST(bucket AS INTEGER) AS bucket,
         |  CAST(bucket AS DOUBLE) / 10.0 AS j_lo,
         |  CAST(bucket + 1 AS DOUBLE) / 10.0 AS j_hi, n_pairs,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_candidates AS DOUBLE) / CAST(n_pairs AS DOUBLE)
         |    AS detect_rate
         |FROM g ORDER BY bucket""".stripMargin,

    "q_x_minhash_pairs" ->
      s"""WITH $sqlMinhashSig,
         |$sqlMinhashBandRows,
         |$sqlMinhashCand,
         |sizes AS (SELECT id, COUNT(*) AS n_sh FROM idx GROUP BY id),
         |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN idx a ON a.id = c.id_a
         |  JOIN idx b ON b.id = c.id_b AND a.shingle = b.shingle
         |  GROUP BY c.id_a, c.id_b)
         |SELECT i.id_a, i.id_b,
         |  CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON i.id_a = sa.id
         |JOIN sizes sb ON i.id_b = sb.id
         |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.inter AS DOUBLE) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_x_simhash" ->
      s"""WITH $sqlSimhash
         |SELECT id, simhash FROM sh ORDER BY id""".stripMargin,

    "q_x_simhash_pairs" ->
      s"""WITH $sqlSimhash,
         |cr AS (SELECT id, simhash, c AS chunk,
         |         (simhash >> (c * 16)) & 65535 AS key
         |       FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM cr a JOIN cr b
         |  ON a.chunk = b.chunk AND a.key = b.key AND a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_x_text_winnow" ->
      s"""WITH h AS (SELECT doc_id,
         |  CASE WHEN length(text) < 8 THEN CAST([] AS BIGINT[])
         |       ELSE list_transform(range(1, length(text) - 6),
         |              i -> ${sqlH60("substr(text, i, 8)")}) END AS hs
         |  FROM documents),
         |f AS (SELECT doc_id,
         |  CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
         |       WHEN len(hs) <= 4 THEN [list_min(hs)]
         |       ELSE list_distinct(list_transform(range(1, len(hs) - 2),
         |              j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3]))) END AS fp
         |  FROM h)
         |SELECT doc_id, CAST(len(fp) AS INTEGER) AS n_fingerprints,
         |  list_min(fp) AS fp_min, list_max(fp) AS fp_max
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_x_text_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($sqlToks) AS INTEGER) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INTEGER) AS n_punct,
         |  CASE WHEN len($sqlToks) = 0 THEN 0.0
         |       ELSE CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |            / CAST(len($sqlToks) AS DOUBLE) END AS mean_tok_len,
         |  $sqlFp AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_x_text_langid" ->
      s"""WITH s AS (SELECT doc_id,
         |  len(list_filter($sqlToks, t -> t IN ('the','a','of','and','to','in','is'))) AS en,
         |  len(list_filter($sqlToks, t -> t IN ('el','la','de','y','que','en','los'))) AS es,
         |  len(list_filter($sqlToks, t -> t IN ('der','die','das','und','zu','den','ist'))) AS de,
         |  len(list_filter($sqlToks, t -> t IN ('le','la','de','et','les','des','est'))) AS fr
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN en + es + de + fr = 0 THEN 'und'
         |       WHEN en >= es AND en >= de AND en >= fr THEN 'en'
         |       WHEN es > en AND es >= de AND es >= fr THEN 'es'
         |       WHEN de > en AND de > es AND de >= fr THEN 'de'
         |       WHEN fr > en AND fr > es AND fr > de THEN 'fr'
         |       ELSE 'und' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_x_text_shingles" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(CASE WHEN len(toks) < 3 THEN 0
         |            ELSE len(${sqlShingles("toks")}) END AS INTEGER) AS n_shingles
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_x_ann_brute" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // Mirrors sqTrain/sqEncode/sqDequantize/sqTopK exactly: per-dim
    // [min,max] over the whole corpus, u8 = floor((x-mn)/(mx-mn)*255
    // + 0.5), reconstruction mn + u8*(mx-mn)/255 (constant dims → mn),
    // asymmetric cosine with in-order double accumulation
    "q_x_ann_sq" ->
      s"""WITH rngcols AS (
         |  SELECT i AS pos, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
         |    MAX(CAST(embedding[i] AS DOUBLE)) AS mx
         |  FROM embeddings
         |  CROSS JOIN unnest(range(1, len(embedding) + 1)) t(i)
         |  GROUP BY i),
         |rng AS (SELECT list(mn ORDER BY pos) AS mins,
         |               list(mx ORDER BY pos) AS maxs FROM rngcols),
         |deq AS (
         |  SELECT c.vec_id, list_transform(range(1, len(c.embedding) + 1),
         |    i -> CASE WHEN r.maxs[i] > r.mins[i]
         |      THEN r.mins[i] + floor((CAST(c.embedding[i] AS DOUBLE)
         |             - r.mins[i]) / (r.maxs[i] - r.mins[i]) * 255.0 + 0.5)
         |           * (r.maxs[i] - r.mins[i]) / 255.0
         |      ELSE r.mins[i] END) AS dv
         |  FROM embeddings c CROSS JOIN rng r),
         |scored AS (
         |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "d.dv")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("d.dv", "d.dv")})) AS cos
         |  FROM embeddings q JOIN deq d
         |    ON q.vec_id < 8 AND q.vec_id <> d.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("d.dv", "d.dv")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // the persisted lifecycle: codebook trained on the 2/3 BUILD corpus
    // only (frozen — appends encode under it, with the out-of-range
    // clamp mirrored as LEAST/GREATEST), codes = everything minus the
    // removed ids; queries stay full-precision over the full table
    "q_x_ann_sq_served" ->
      s"""WITH rngcols AS (
         |  SELECT i AS pos, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
         |    MAX(CAST(embedding[i] AS DOUBLE)) AS mx
         |  FROM embeddings
         |  CROSS JOIN unnest(range(1, len(embedding) + 1)) t(i)
         |  WHERE vec_id % 3 <> 0
         |  GROUP BY i),
         |rng AS (SELECT list(mn ORDER BY pos) AS mins,
         |               list(mx ORDER BY pos) AS maxs FROM rngcols),
         |deq AS (
         |  SELECT c.vec_id, list_transform(range(1, len(c.embedding) + 1),
         |    i -> CASE WHEN r.maxs[i] > r.mins[i]
         |      THEN r.mins[i] + LEAST(GREATEST(
         |             floor((CAST(c.embedding[i] AS DOUBLE)
         |               - r.mins[i]) / (r.maxs[i] - r.mins[i]) * 255.0
         |               + 0.5), 0.0), 255.0)
         |           * (r.maxs[i] - r.mins[i]) / 255.0
         |      ELSE r.mins[i] END) AS dv
         |  FROM embeddings c CROSS JOIN rng r
         |  WHERE c.vec_id NOT BETWEEN 8 AND 27),
         |scored AS (
         |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "d.dv")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("d.dv", "d.dv")})) AS cos
         |  FROM embeddings q JOIN deq d
         |    ON q.vec_id < 8 AND q.vec_id <> d.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("d.dv", "d.dv")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // full-probe SQ-IVF ≡ flat SQ over the zero-norm-filtered corpus:
    // identical dequant arithmetic, plus the routing step's original-
    // norm filter (zero vectors are never assigned to a list)
    "q_x_ann_sq_ivf" ->
      s"""WITH rngcols AS (
         |  SELECT i AS pos, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
         |    MAX(CAST(embedding[i] AS DOUBLE)) AS mx
         |  FROM embeddings
         |  CROSS JOIN unnest(range(1, len(embedding) + 1)) t(i)
         |  GROUP BY i),
         |rng AS (SELECT list(mn ORDER BY pos) AS mins,
         |               list(mx ORDER BY pos) AS maxs FROM rngcols),
         |deq AS (
         |  SELECT c.vec_id, list_transform(range(1, len(c.embedding) + 1),
         |    i -> CASE WHEN r.maxs[i] > r.mins[i]
         |      THEN r.mins[i] + floor((CAST(c.embedding[i] AS DOUBLE)
         |             - r.mins[i]) / (r.maxs[i] - r.mins[i]) * 255.0 + 0.5)
         |           * (r.maxs[i] - r.mins[i]) / 255.0
         |      ELSE r.mins[i] END) AS dv
         |  FROM embeddings c CROSS JOIN rng r
         |  WHERE sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "d.dv")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("d.dv", "d.dv")})) AS cos
         |  FROM embeddings q JOIN deq d
         |    ON q.vec_id < 8 AND q.vec_id <> d.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("d.dv", "d.dv")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q_x_ann_pq" -> pqOracleSql("", ""),

    // mirrors Mmr.rerank: brute top-20 candidates (the q_x_ann_brute
    // shape at k=20, queries vec_id < 4), then the SAME five greedy
    // steps unrolled — per step, remaining = cand minus selected,
    // maxsim = MAX over selected of the in-order cosine, pick = argmax
    // of λ·rel − (1−λ)·maxsim with id tie-break. λ and 1−λ are the
    // exact Scala doubles (shortest-round-trip toString)
    "q_x_ann_mmr" -> {
      val lam = 0.7
      val oneMinus = 1.0 - lam
      val base =
        s"""WITH sc0 AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${sqlDot("q.embedding", "c.embedding")}
           |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
           |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS rel,
           |    c.embedding AS emb,
           |    sqrt(${sqlDot("c.embedding", "c.embedding")}) AS n
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 4 AND q.vec_id <> c.vec_id
           |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
           |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
           |cand AS (SELECT query_id, neighbor_id, rel, emb, n FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY rel DESC, neighbor_id) AS rk FROM sc0)
           |  WHERE rk <= 20),
           |s1 AS (SELECT query_id, 1 AS mmr_rank, neighbor_id,
           |    $lam * rel AS mmr_score, emb, n FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY $lam * rel DESC, neighbor_id) AS rr FROM cand)
           |  WHERE rr = 1)""".stripMargin
      val steps = (2 to 5).map { i =>
        val acc = (1 until i).map(j => s"SELECT * FROM s$j")
          .mkString(" UNION ALL ")
        s"""a$i AS ($acc),
           |r$i AS (SELECT c.* FROM cand c LEFT JOIN a$i s
           |  ON s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id
           |  WHERE s.neighbor_id IS NULL),
           |m$i AS (SELECT r.query_id, r.neighbor_id,
           |    MAX(${sqlDot("r.emb", "s.emb")} / (r.n * s.n)) AS maxsim
           |  FROM r$i r JOIN a$i s USING (query_id) GROUP BY 1, 2),
           |s$i AS (SELECT query_id, $i AS mmr_rank, neighbor_id,
           |    mmr AS mmr_score, emb, n FROM (
           |    SELECT r.query_id, r.neighbor_id,
           |      $lam * r.rel - $oneMinus * m.maxsim AS mmr, r.emb, r.n,
           |      row_number() OVER (PARTITION BY r.query_id
           |        ORDER BY ($lam * r.rel - $oneMinus * m.maxsim) DESC,
           |          r.neighbor_id) AS rr
           |    FROM r$i r JOIN m$i m ON m.query_id = r.query_id
           |      AND m.neighbor_id = r.neighbor_id)
           |  WHERE rr = 1)""".stripMargin
      }.mkString(",\n", ",\n", "")
      val sel = (1 to 5).map(i =>
        "SELECT query_id, mmr_rank, neighbor_id, mmr_score FROM s" + i)
        .mkString(" UNION ALL ")
      s"""$base$steps
         |SELECT query_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
         |  neighbor_id, mmr_score
         |FROM ($sel) ORDER BY query_id, mmr_rank""".stripMargin
    },

    // full-probe PQ-IVF ≡ flat PQ over the zero-norm-filtered corpus
    // (global codebooks: routing cannot change the ADC ranking when
    // every list is probed; zero-norm rows are never assigned a list)
    "q_x_ann_pq_ivf" -> pqOracleSql("",
      s"WHERE sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0"),

    // mirrors pqIvfResidualTopK end to end: seed centroids = 8
    // smallest-id vectors, L2 argmin assignment (first-index ties),
    // residual v − c(list), PQ seeds = the 16 smallest-id residuals,
    // argmin encode, then the table-driven ADC fold
    // (qc + Σ qlut) / (qn · sqrt(cc + 2·Σ cdot + Σ sqn)) — every
    // number an in-order lookup fold, full probe so routing never
    // filters
    "q_x_ann_pq_residual" ->
      s"""WITH cents AS (SELECT list(v ORDER BY vec_id) AS cents FROM (
         |    SELECT vec_id, list_transform(embedding,
         |      x -> CAST(x AS DOUBLE)) AS v
         |    FROM embeddings ORDER BY vec_id LIMIT 8)),
         |a0 AS (SELECT e.vec_id,
         |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    r.cents AS cents
         |  FROM embeddings e CROSS JOIN cents r),
         |a1 AS (SELECT vec_id, v, cents,
         |    list_transform(cents, c ->
         |      list_aggregate(list_transform(range(1, 65), i ->
         |        (v[i] - c[i]) * (v[i] - c[i])), 'sum')) AS dl
         |  FROM a0),
         |asg AS (SELECT vec_id, v, cents,
         |    list_position(dl, list_min(dl)) AS lp
         |  FROM a1),
         |res AS (SELECT vec_id, lp,
         |    list_transform(range(1, 65), i -> v[i] - cents[lp][i]) AS r
         |  FROM asg),
         |sv AS (SELECT list(r ORDER BY vec_id) AS seeds FROM (
         |    SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 16)),
         |enc AS (SELECT t.vec_id, t.lp,
         |    list_transform(
         |      list_transform(range(0, 8), j ->
         |        list_transform(s.seeds, sd ->
         |          list_aggregate(list_transform(range(1, 9), i ->
         |            (t.r[j*8+i] - sd[j*8+i]) * (t.r[j*8+i] - sd[j*8+i])),
         |            'sum'))),
         |      d -> list_position(d, list_min(d)) - 1) AS codes
         |  FROM res t CROSS JOIN sv s),
         |sqn AS (SELECT list_transform(range(0, 8), j ->
         |    list_transform(s.seeds, sd ->
         |      list_aggregate(list_transform(range(1, 9), i ->
         |        sd[j*8+i] * sd[j*8+i]), 'sum'))) AS sqns
         |  FROM sv s),
         |cct AS (SELECT
         |    list_transform(r.cents, c ->
         |      list_aggregate(list_transform(range(1, 65), i ->
         |        c[i] * c[i]), 'sum')) AS cc,
         |    list_transform(r.cents, c ->
         |      list_transform(range(0, 8), j ->
         |        list_transform(s.seeds, sd ->
         |          list_aggregate(list_transform(range(1, 9), i ->
         |            c[j*8+i] * sd[j*8+i]), 'sum')))) AS cdots
         |  FROM cents r CROSS JOIN sv s),
         |cs AS (SELECT e.vec_id AS neighbor_id, e.codes, e.lp,
         |    sqrt(t.cc[e.lp]
         |      + 2.0 * list_aggregate(list_transform(range(1, 9), j ->
         |          t.cdots[e.lp][j][e.codes[j] + 1]), 'sum')
         |      + list_aggregate(list_transform(range(1, 9), j ->
         |          n.sqns[j][e.codes[j] + 1]), 'sum')) AS cn
         |  FROM enc e CROSS JOIN cct t CROSS JOIN sqn n),
         |ql AS (SELECT q.vec_id AS query_id,
         |    sqrt(${sqlDot("q.embedding", "q.embedding")}) AS qn,
         |    list_transform(r.cents, c ->
         |      list_aggregate(list_transform(range(1, 65), i ->
         |        CAST(q.embedding[i] AS DOUBLE) * c[i]), 'sum')) AS qcl,
         |    list_transform(range(0, 8), j ->
         |      list_transform(s.seeds, sd ->
         |        list_aggregate(list_transform(range(1, 9), i ->
         |          CAST(q.embedding[j*8+i] AS DOUBLE) * sd[j*8+i]),
         |          'sum'))) AS luts
         |  FROM embeddings q CROSS JOIN cents r CROSS JOIN sv s
         |  WHERE q.vec_id < 8
         |    AND sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0),
         |scored AS (SELECT ql.query_id, cs.neighbor_id,
         |    (ql.qcl[cs.lp]
         |      + list_aggregate(list_transform(range(1, 9), j ->
         |          ql.luts[j][cs.codes[j] + 1]), 'sum'))
         |    / (ql.qn * cs.cn) AS cos
         |  FROM cs JOIN ql ON ql.query_id <> cs.neighbor_id
         |  WHERE cs.cn > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // the persisted lifecycle: codebooks seeded from the 2/3 BUILD
    // corpus only (frozen — appends encode under them), codes =
    // everything minus the removed ids; queries stay full-precision
    "q_x_ann_pq_served" -> pqOracleSql("WHERE vec_id % 3 <> 0",
      "WHERE c.vec_id NOT BETWEEN 8 AND 27"),

    "q_x_text_bpe" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}')) AS INTEGER) AS n_bpe_tokens,
         |  CAST(len($sqlToks) AS INTEGER) AS n_ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the encoder mirrored ALGORITHMICALLY: per pre-token, seed a
    // BRACKETED symbol string chr(1)<sym>chr(2) — brackets on BOTH
    // sides, exactly like the bpe_train oracle, so a merge replace can
    // never match a longer symbol's SUFFIX against a pattern's left
    // side (an unbracketed chr(31) form merged 'the'+'r' through the
    // trailing 'e' of the SYMBOL 'the' on words like 'there') — and
    // apply the pinned merges as nested replaces in rank order
    // (equivalent to the min-rank loop for a hierarchy-closed table —
    // see the query comment); token count = bracketed symbols left
    "q_x_text_bpe_tokens" -> {
      val seed = "array_to_string(list_transform(string_split(w, ''), " +
        "c -> chr(1)||c||chr(2)), '')"
      val chain = PinnedBpeMerges.foldLeft(seed) { case (acc, (l, r)) =>
        s"replace($acc, chr(1)||'$l'||chr(2)||chr(1)||'$r'||chr(2), " +
          s"chr(1)||'$l$r'||chr(2))"
      }
      s"""SELECT doc_id, CAST(coalesce(list_sum(list_transform(
         |    regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}'),
         |    w -> len(string_split($chain, chr(2)||chr(1))))), 0) AS INTEGER)
         |  AS n_bpe_sub
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // training mirrored ALGORITHMICALLY, unrolled: the oracle recomputes
    // the word histogram (same deterministic top-K order), seeds each
    // word as a bracketed symbol string chr(1)<sym>chr(2) — brackets on
    // BOTH sides, so a merge replace can never match inside a longer
    // symbol or consume a neighbouring delimiter — then runs 30 chained
    // CTE rounds of count-adjacent-pairs / pick (max count, lexicographic
    // tie-break) / single-pass replace. Left-to-right non-overlapping
    // replace is exactly the trainer's greedy within-word merge, so this
    // holds for ANY corpus at ANY sf (no pinned vocab). The merge loop is
    // additionally unit-pinned by TextBpeSpec's known-sequence tests.
    "q_x_text_bpe_train" -> {
      val pat = TextAnalysis.bpePattern.replace("'", "''")
      val rounds = (1 to 30).map { k =>
        s"""sp$k AS (SELECT string_split(substr(ws, 2, length(ws) - 2),
           |    chr(2)||chr(1)) AS syms, c FROM s${k - 1}),
           |p$k AS (SELECT sp.syms[g.i] AS l, sp.syms[g.i + 1] AS r,
           |    SUM(sp.c) AS cnt
           |  FROM sp$k sp, unnest(generate_series(1, len(sp.syms) - 1)) AS g(i)
           |  GROUP BY 1, 2),
           |b$k AS MATERIALIZED (SELECT l, r, l||r AS m FROM p$k
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
           |s$k AS MATERIALIZED (SELECT replace(ws, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
           |    chr(1)||b.m||chr(2)) AS ws, c FROM s${k - 1}, b$k b)""".stripMargin
      }.mkString(",\n")
      val union = (1 to 30).map(k =>
        s"""SELECT CAST(${k - 1} AS BIGINT) AS "rank", l AS "left",""" +
          s""" r AS "right", m AS merged FROM b$k""")
        .mkString("\nUNION ALL\n")
      s"""WITH h0 AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT unnest(regexp_extract_all(text, '$pat')) AS w
         |    FROM documents)
         |  GROUP BY 1 ORDER BY c DESC, w ASC LIMIT 20000),
         |s0 AS MATERIALIZED (SELECT regexp_replace(w, '(?s)(.)', chr(1)||'\\1'||chr(2), 'g') AS ws, c
         |  FROM h0),
         |$rounds
         |$union
         |ORDER BY "rank"""".stripMargin
    },

    // bpe_train's 30-round merge replay + bpe_tokens' bracketed
    // nested-replace encode, composed: derive the merges from the
    // corpus histogram (identical CTEs to the bpe_train oracle), then
    // apply them rank-by-rank to EVERY document word. LEFT JOIN ON
    // TRUE per round so an exhausted vocabulary (empty b_k) leaves
    // words unchanged instead of emptying the chain — mirroring the
    // trainer stopping early.
    "q_x_text_bpe_served" -> {
      val pat = TextAnalysis.bpePattern.replace("'", "''")
      val rounds = (1 to 30).map { k =>
        s"""sp$k AS (SELECT string_split(substr(ws, 2, length(ws) - 2),
           |    chr(2)||chr(1)) AS syms, c FROM s${k - 1}),
           |p$k AS (SELECT sp.syms[g.i] AS l, sp.syms[g.i + 1] AS r,
           |    SUM(sp.c) AS cnt
           |  FROM sp$k sp, unnest(generate_series(1, len(sp.syms) - 1)) AS g(i)
           |  GROUP BY 1, 2),
           |b$k AS MATERIALIZED (SELECT l, r, l||r AS m FROM p$k
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
           |s$k AS MATERIALIZED (SELECT replace(ws, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
           |    chr(1)||b.m||chr(2)) AS ws, c FROM s${k - 1}, b$k b)""".stripMargin
      }.mkString(",\n")
      val encodeRounds = (1 to 30).map { k =>
        s"""w$k AS (SELECT doc_id,
           |    CASE WHEN b.l IS NULL THEN ws
           |      ELSE replace(ws, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
           |        chr(1)||b.m||chr(2)) END AS ws
           |  FROM w${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT unnest(regexp_extract_all(text, '$pat')) AS w
         |    FROM documents)
         |  GROUP BY 1 ORDER BY c DESC, w ASC LIMIT 20000),
         |s0 AS MATERIALIZED (SELECT regexp_replace(w, '(?s)(.)', chr(1)||'\\1'||chr(2), 'g') AS ws, c
         |  FROM h0),
         |$rounds,
         |w0 AS (SELECT doc_id, regexp_replace(w, '(?s)(.)', chr(1)||'\\1'||chr(2), 'g') AS ws
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS w
         |        FROM documents)),
         |$encodeRounds,
         |counts AS (SELECT doc_id,
         |    SUM(len(string_split(ws, chr(2)||chr(1)))) AS n
         |  FROM w30 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(c.n, 0) AS INTEGER) AS n_bpe_sub
         |FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_x_text_quality" ->
      s"""WITH s AS (SELECT doc_id, text,
         |  CAST(len($sqlToks) AS BIGINT) AS n,
         |  CAST(len(list_filter($sqlToks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS sw,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonsp
         |  FROM documents),
         |r AS (SELECT doc_id,
         |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(sw AS DOUBLE)/CAST(n AS DOUBLE) END AS stopword_ratio,
         |  CASE WHEN chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE)/CAST(chars AS DOUBLE) END AS alpha_ratio,
         |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(nonsp AS DOUBLE)/CAST(n AS DOUBLE) END AS mtl
         |  FROM s)
         |SELECT doc_id, stopword_ratio, alpha_ratio,
         |  0.4*stopword_ratio + 0.4*alpha_ratio + 0.2*least(mtl/8.0, 1.0) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,

    // same IEEE shape on both sides: 1.0 - (double)distinct / (double)total
    "q_x_text_repetition" ->
      s"""WITH d AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |g AS (SELECT doc_id, toks,
         |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
         |       ELSE list_transform(range(1, len(toks) - 1),
         |              i -> array_to_string(toks[i:i+2], ' ')) END AS grams
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |                  / CAST(len(toks) AS DOUBLE) END AS dup_token_fraction,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_max(list_transform(list_distinct(toks),
         |              t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
         |            / CAST(len(toks) AS DOUBLE) END AS top_token_fraction,
         |  CASE WHEN len(grams) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
         |                  / CAST(len(grams) AS DOUBLE) END AS dup_3gram_fraction
         |FROM g ORDER BY doc_id""".stripMargin,

    // Same IEEE shape as TfIdf.keywords: tf = cnt/len (one division),
    // idf = ln((N+1)/(df+1)) + 1, score = round(tf*idf, 6); rank on the
    // rounded value with token tiebreak.
    "q_x_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($sqlToks) AS token FROM documents),
         |per_doc AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |doc_len AS (
         |  SELECT doc_id, SUM(tf) AS len FROM per_doc GROUP BY 1),
         |doc_freq AS (
         |  SELECT token, COUNT(*) AS df FROM per_doc GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (
         |  SELECT p.doc_id, p.token,
         |    round((CAST(p.tf AS DOUBLE) / CAST(l.len AS DOUBLE)) *
         |      (ln((CAST(n.n AS DOUBLE) + 1.0) / (CAST(f.df AS DOUBLE) + 1.0))
         |       + 1.0), 6) AS tfidf
         |  FROM per_doc p
         |  JOIN doc_len l USING (doc_id)
         |  JOIN doc_freq f USING (token)
         |  CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, token, tfidf,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, token) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, token, tfidf FROM ranked WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    // mirrors Bm25.search: same rounded idf (round(ln, 6) before use),
    // same parenthesization of the IEEE-exact tail, and the SAME
    // token-sorted per-(query, doc) summation order (list ORDER BY
    // token, then an in-order fold — the corpus_divergence pattern)
    "q_x_bm25" -> bm25Oracle,

    "q_x_bm25_indexed" -> bm25Oracle,
    "q_x_bm25_maintained" -> bm25Oracle,

    "q_x_bm25_removed" -> bm25OracleSql("WHERE doc_id NOT BETWEEN 1 AND 20"),

    "q_x_vocab" ->
      s"""WITH c AS (
         |  SELECT token, COUNT(*) AS n
         |  FROM (SELECT unnest($sqlToks) AS token FROM documents)
         |  GROUP BY 1),
         |r AS (SELECT token, n,
         |  SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM c)
         |SELECT token, n,
         |  CAST(cum AS DOUBLE) / CAST((SELECT SUM(n) FROM c) AS DOUBLE) AS cum_share
         |FROM r ORDER BY n DESC, token LIMIT 50""".stripMargin,

    // Mirrors LmScore exactly: same IEEE shape for p, ln on the same
    // double, ORDER-BY-position list fold (matches the sort_array
    // aggregate; a bare SUM would be order-dependent), round(…,6) to
    // absorb the two engines' last-ulp ln differences.
    "q_x_lm_score" ->
      s"""WITH $lmScoreCtes
         |SELECT d.doc_id, sc.lm_score FROM d LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // CCNet-style perplexity buckets: per-language percent_rank of the
    // LM score (DESC ties-share ≡ the engine's groupPercentRank over
    // the negated score), thirds -> head/middle/tail; docs too short
    // to score (< 2 tokens, no sc row) are excluded on both sides
    "q_x_ccnet_buckets" ->
      s"""WITH $lmScoreCtes,
         |j AS (SELECT sc.doc_id, doc.lang, sc.lm_score
         |      FROM sc JOIN documents doc ON doc.doc_id = sc.doc_id),
         |pct AS (SELECT doc_id, lang, lm_score,
         |  percent_rank() OVER (PARTITION BY lang ORDER BY lm_score DESC)
         |    AS pr FROM j)
         |SELECT doc_id, lang, lm_score,
         |  CASE WHEN pr < 1.0/3 THEN 'head'
         |       WHEN pr < 2.0/3 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM pct ORDER BY doc_id""".stripMargin,

    "q_x_events_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_x_cosine_dups" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${sqlDot("a.embedding", "b.embedding")}
         |    / (sqrt(${sqlDot("a.embedding", "a.embedding")})
         |       * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE sqrt(${sqlDot("a.embedding", "a.embedding")}) > 0
         |  AND sqrt(${sqlDot("b.embedding", "b.embedding")}) > 0
         |  AND ${sqlDot("a.embedding", "b.embedding")}
         |    / (sqrt(${sqlDot("a.embedding", "a.embedding")})
         |       * sqrt(${sqlDot("b.embedding", "b.embedding")})) >= 0.42
         |ORDER BY id_a, id_b""".stripMargin,

    "q_x_ann_lsh" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |q AS (SELECT vec_id AS query_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS qn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE vec_id < 8 AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |scored AS (SELECT q.query_id, c.neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")} / (q.qn * c.cn) AS cos
         |  FROM c JOIN q ON c.bucket = q.bucket AND q.query_id <> c.neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // mirrors RankingMetrics.compare(lshTopK, bruteForceTopK): both
    // rankings replayed with their own proven CTE chains, then
    // truth-side counts LEFT-join candidate hits — recall/mrr from
    // integer counts and ranks, one IEEE division each
    "q_x_ranking_metrics" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH cb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rnk FROM cb)
         |  WHERE rnk <= 5),
         |lc AS (SELECT vec_id AS neighbor_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |lq AS (SELECT vec_id AS query_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS qn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE vec_id < 8 AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |res AS (SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT lq.query_id, lc.neighbor_id,
         |      row_number() OVER (PARTITION BY lq.query_id
         |        ORDER BY ${sqlDot("lq.embedding", "lc.embedding")}
         |          / (lq.qn * lc.cn) DESC, lc.neighbor_id) AS rnk
         |    FROM lc JOIN lq ON lc.bucket = lq.bucket
         |      AND lq.query_id <> lc.neighbor_id)
         |  WHERE rnk <= 5),
         |nt AS (SELECT query_id, COUNT(*) AS n_truth FROM tr GROUP BY 1),
         |h AS (SELECT r.query_id, COUNT(*) AS n_hits,
         |    MIN(r.rnk) AS first
         |  FROM res r JOIN tr USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT nt.query_id, n_truth,
         |  COALESCE(n_hits, 0) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |    AS recall,
         |  COALESCE(1.0 / CAST(first AS DOUBLE), 0.0) AS mrr
         |FROM nt LEFT JOIN h ON nt.query_id = h.query_id
         |ORDER BY nt.query_id""".stripMargin
    },

    // mirrors RankingMetrics.ndcg(lshTopK, bruteForceTopK): graded
    // relevance rel = k + 1 - truth_rank, discount round(log2(r+1), 6)
    // BEFORE the division (the repo's 6-decimal transcendental
    // convention), per-query sums folded in rank order — bit parity
    // with the sorted-struct aggregate on the Spark side
    "q_x_ranking_ndcg" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH cb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |tr AS (SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rnk FROM cb)
         |  WHERE rnk <= 5),
         |lc AS (SELECT vec_id AS neighbor_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |lq AS (SELECT vec_id AS query_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS qn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE vec_id < 8 AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |res AS (SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT lq.query_id, lc.neighbor_id,
         |      row_number() OVER (PARTITION BY lq.query_id
         |        ORDER BY ${sqlDot("lq.embedding", "lc.embedding")}
         |          / (lq.qn * lc.cn) DESC, lc.neighbor_id) AS rnk
         |    FROM lc JOIN lq ON lc.bucket = lq.bucket
         |      AND lq.query_id <> lc.neighbor_id)
         |  WHERE rnk <= 5),
         |it AS (SELECT query_id, COUNT(*) AS n_truth,
         |    list_aggregate(list_transform(
         |      list(struct_pack(r := rnk, g :=
         |        (CAST(6 AS DOUBLE) - CAST(rnk AS DOUBLE))
         |          / round(log2(CAST(rnk AS DOUBLE) + 1.0), 6))
         |        ORDER BY rnk), x -> x.g), 'sum') AS idcg
         |  FROM tr GROUP BY 1),
         |h AS (SELECT r.query_id,
         |    list_aggregate(list_transform(
         |      list(struct_pack(r := r.rnk, g :=
         |        (CAST(6 AS DOUBLE) - CAST(t.rnk AS DOUBLE))
         |          / round(log2(CAST(r.rnk AS DOUBLE) + 1.0), 6))
         |        ORDER BY r.rnk), x -> x.g), 'sum') AS dcg
         |  FROM res r JOIN tr t USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT it.query_id, n_truth,
         |  COALESCE(dcg, 0.0) AS dcg, idcg,
         |  COALESCE(dcg, 0.0) / idcg AS ndcg
         |FROM it LEFT JOIN h ON it.query_id = h.query_id
         |ORDER BY it.query_id""".stripMargin
    },

    // mirrors RankingMetrics.averagePrecision(lshTopK, bruteForceTopK):
    // per hit, precision@rank = (1-based hit position ordered by rank)
    // / rank — integer counts through IEEE divisions, summed in rank
    // order, normalized by n_truth; transcendental-free so no rounding
    "q_x_ranking_ap" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH cb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rnk FROM cb)
         |  WHERE rnk <= 5),
         |lc AS (SELECT vec_id AS neighbor_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |lq AS (SELECT vec_id AS query_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS qn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE vec_id < 8 AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |res AS (SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT lq.query_id, lc.neighbor_id,
         |      row_number() OVER (PARTITION BY lq.query_id
         |        ORDER BY ${sqlDot("lq.embedding", "lc.embedding")}
         |          / (lq.qn * lc.cn) DESC, lc.neighbor_id) AS rnk
         |    FROM lc JOIN lq ON lc.bucket = lq.bucket
         |      AND lq.query_id <> lc.neighbor_id)
         |  WHERE rnk <= 5),
         |nt AS (SELECT query_id, COUNT(*) AS n_truth FROM tr GROUP BY 1),
         |h AS (SELECT r.query_id, r.rnk,
         |    CAST(row_number() OVER (PARTITION BY r.query_id
         |      ORDER BY r.rnk) AS DOUBLE) / CAST(r.rnk AS DOUBLE) AS p
         |  FROM res r JOIN tr USING (query_id, neighbor_id)),
         |apx AS (SELECT query_id,
         |    list_aggregate(list_transform(
         |      list(struct_pack(r := rnk, g := p) ORDER BY rnk),
         |      x -> x.g), 'sum') AS s
         |  FROM h GROUP BY 1)
         |SELECT nt.query_id, n_truth,
         |  COALESCE(s, 0.0) / CAST(n_truth AS DOUBLE) AS ap
         |FROM nt LEFT JOIN apx ON nt.query_id = apx.query_id
         |ORDER BY nt.query_id""".stripMargin
    },

    // multi-probe: each query also probes the 4 buckets at Hamming
    // distance 1 (xor with each single-bit mask) — probe list unnested
    // query-side, corpus bucketed once, mirroring lshTopK(probeRadius=1)
    "q_x_ann_lsh_mp" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |q AS (SELECT vec_id AS query_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS qn,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE vec_id < 8 AND sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |probes AS (SELECT query_id, embedding, qn,
         |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |            xor(bucket, 4), xor(bucket, 8)]) AS bucket
         |  FROM q),
         |scored AS (SELECT p.query_id, c.neighbor_id,
         |    ${sqlDot("p.embedding", "c.embedding")} / (p.qn * c.cn) AS cos
         |  FROM c JOIN probes p ON c.bucket = p.bucket
         |    AND p.query_id <> c.neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    "q_x_cosine_dups_lsh" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH b AS (SELECT vec_id AS id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nm,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0)
         |SELECT a.id AS id_a, c.id AS id_b,
         |  ${sqlDot("a.embedding", "c.embedding")} / (a.nm * c.nm) AS cos
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
         |WHERE ${sqlDot("a.embedding", "c.embedding")} / (a.nm * c.nm) >= 0.42
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_x_cosine_dups_lsh_capped" -> {
      val planes = Similarity.hyperplanes(4, 64)
      s"""WITH b0 AS (SELECT vec_id AS id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nm,
         |    ${sqlLshBucket("embedding", planes)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(${sqlDot("embedding", "embedding")}) > 0),
         |keep AS (SELECT bucket FROM b0 GROUP BY bucket
         |  HAVING count(*) <= 35),
         |b AS (SELECT b0.* FROM b0 JOIN keep USING (bucket))
         |SELECT a.id AS id_a, c.id AS id_b,
         |  ${sqlDot("a.embedding", "c.embedding")} / (a.nm * c.nm) AS cos
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
         |WHERE ${sqlDot("a.embedding", "c.embedding")} / (a.nm * c.nm) >= 0.42
         |ORDER BY id_a, id_b""".stripMargin
    },

    // identical SQL to q_x_ann_brute: probing every IVF list IS
    // exhaustive search, so the exact oracle applies
    "q_x_ann_ivf" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // exhaustive search over the SURVIVING vectors: the victims'
    // postings are gone from the lists, the centroids (fixed) only
    // route, and full probe is brute force over whatever the lists
    // hold — so removal ≡ an index never containing vec_ids 8..27
    "q_x_ann_ivf_removed" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0
         |    AND c.vec_id NOT BETWEEN 8 AND 27),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // same exhaustive-search oracle as q_x_ann_ivf: however many
    // maintenance compactions interleaved with the five appends, the
    // lists hold the FULL corpus and full probe is brute force —
    // maintenance that changed anything but layout would hash-mismatch
    "q_x_ann_ivf_maintained" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // same exhaustive-search oracle as q_x_ann_ivf: after the append
    // the persisted lists hold the FULL corpus, and probing every list
    // is brute force regardless of where the centroids sit
    "q_x_ann_ivf_inc" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("q.embedding", "c.embedding")}
         |      / (sqrt(${sqlDot("q.embedding", "q.embedding")})
         |         * sqrt(${sqlDot("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
         |  WHERE sqrt(${sqlDot("q.embedding", "q.embedding")}) > 0
         |    AND sqrt(${sqlDot("c.embedding", "c.embedding")}) > 0),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q_x_events_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes',
        |           '%Y-%m-%d %H:%M:%S') AS wend,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY wstart, event_type""".stripMargin,

    // Mirrors resampleFfill(step=3600): same floor-epoch bucketing,
    // same (ts, event_id)-desc per-bucket election, same per-key grid
    // and IGNORE NULLS forward fill
    "q_x_resample" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b,
        |    ts, event_id, CAST(value AS DOUBLE) AS v
        |  FROM events),
        |obs AS (SELECT user_id, b, n, v FROM (
        |  SELECT user_id, b, v,
        |    COUNT(*) OVER (PARTITION BY user_id, b) AS n,
        |    row_number() OVER (PARTITION BY user_id, b
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e) WHERE rn = 1),
        |span AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi
        |         FROM e GROUP BY 1),
        |grid AS (SELECT user_id, lo + i AS b FROM span
        |         CROSS JOIN unnest(range(0, hi - lo + 1)) t(i)),
        |j AS (SELECT g.user_id, g.b, coalesce(o.n, 0) AS n_events, o.v
        |      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id
        |        AND g.b = o.b)
        |SELECT user_id, b AS bucket, CAST(n_events AS BIGINT) AS n_events,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_ffill
        |FROM j ORDER BY user_id, bucket""".stripMargin,

    "q_x_events_sliding" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws, event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes') AS ws,
        |    event_type, value FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart,
        |  strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS wend,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2, 3 ORDER BY wstart, event_type""".stripMargin,

    "q_x_events_session" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT user_id, ts, value,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS wend,
        |  user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, wstart""".stripMargin,

    "q_x_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
        |  (SELECT e.value FROM events e
        |   WHERE e.user_id = p.user_id AND e.event_type = 'error'
        |     AND e.ts <= p.ts
        |   ORDER BY e.ts DESC, e.value DESC LIMIT 1) AS err_value
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // earliest at-or-after; forward ties pick the SMALLEST value tuple
    // (the first() carry), hence value ASC
    "q_x_asof_forward" ->
      """SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
        |  (SELECT e.value FROM events e
        |   WHERE e.user_id = p.user_id AND e.event_type = 'error'
        |     AND e.ts >= p.ts
        |   ORDER BY e.ts ASC, e.value ASC LIMIT 1) AS err_value
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // nearest within 1 h: distance ordered by exact INTERVAL
    // arithmetic (no epoch() doubles — their rounding could flip a
    // boundary tie the engines' interval math agrees on); equidistant
    // rows prefer the backward side, then each side's own tie rule
    // (backward greatest value, forward smallest — the per-side
    // carries)
    "q_x_asof_nearest" ->
      """SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
        |  (SELECT e.value FROM events e
        |   WHERE e.user_id = p.user_id AND e.event_type = 'error'
        |     AND e.ts BETWEEN p.ts - INTERVAL '1' HOUR
        |                  AND p.ts + INTERVAL '1' HOUR
        |   ORDER BY (CASE WHEN e.ts <= p.ts THEN p.ts - e.ts
        |                  ELSE e.ts - p.ts END) ASC,
        |     (CASE WHEN e.ts <= p.ts THEN 0 ELSE 1 END) ASC,
        |     (CASE WHEN e.ts <= p.ts THEN e.value END) DESC,
        |     (CASE WHEN e.ts > p.ts THEN e.value END) ASC
        |   LIMIT 1) AS err_value
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_x_range_join" ->
      """SELECT l.user_id AS user_id, COUNT(*) AS n_pairs
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id AND l.event_id <> r.event_id
        | AND r.ts BETWEEN l.ts - INTERVAL '2 hours' AND l.ts + INTERVAL '2 hours'
        |GROUP BY 1 ORDER BY l.user_id""".stripMargin,

    "q_x_mm_meta" ->
      """SELECT doc_id AS media_id, 'text' AS media_type,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin,

    // the stub decoder's 8-bucket byte histogram over the UTF-8 payload:
    // bucket of a byte = (b & 0xff) >> 5 = value of its first hex digit
    // div 2, so counts are countable from the hex encoding
    "q_x_mm_features" ->
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
         |  octet_length(encode(text)) AS n FROM documents)
         |SELECT doc_id AS media_id, CAST(n AS INTEGER) AS byte_len,
         |${(0 until 8).map { k =>
             val d0 = "0123456789ABCDEF" (2 * k); val d1 = "0123456789ABCDEF" (2 * k + 1)
             s"  len(list_filter(range(n), i -> h[2*i+1:2*i+1] IN ('$d0','$d1'))) AS c$k"
           }.mkString(",\n")}
         |FROM b ORDER BY media_id""".stripMargin,

    "q_x_mm_decode" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
        |  'png' AS format,
        |  CAST(16 + n_nationkey AS INTEGER) AS width,
        |  CAST(8 + (n_nationkey % 5) AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels
        |FROM nation ORDER BY media_id""".stripMargin,
  )
}
