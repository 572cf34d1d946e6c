package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** The SQL DDL/DML surface (`graft.sql.GraftSqlParser`, injected by
  * `GraftExtensions`): every TxTable management operation driven from
  * `spark.sql(...)`, and proven equivalent to the Scala API calls it
  * routes to.
  */
class GraftSqlSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_sql").toString + "/t"

  test("CREATE TABLE ... AS SELECT creates; CREATE OR REPLACE replaces; plain re-CREATE fails") {
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("src_ct")
    val table = tmp()
    val v = spark.sql(
      s"CREATE TABLE graft.`$table` USING graft AS SELECT * FROM src_ct")
      .collect()
    assert(v.head.getLong(0) === 1L)
    assert(TxTable.read(spark, table).count() === 2L)
    val dup = intercept[Exception](spark.sql(
      s"CREATE TABLE graft.`$table` AS SELECT * FROM src_ct"))
    assert(dup.getMessage.contains("already exists"))
    spark.sql(
      s"CREATE OR REPLACE TABLE graft.`$table` AS SELECT id FROM src_ct WHERE id = 1")
    val rows = TxTable.read(spark, table).collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 1L)
  }

  test("the full DML cycle from SQL reproduces q_x_tx_dml's semantics") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val base = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "O" else "F")).toDF("k", "status")
    base.createOrReplaceTempView("dml_base")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM dml_base")

    // MERGE: update every k % 10 = 0 to 'U', insert three new negative keys
    spark.sql(
      s"""MERGE INTO graft.`$table` USING (
         |  SELECT k, 'U' AS status FROM dml_base WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT * FROM VALUES (CAST(-1 AS BIGINT), 'N'), (-2, 'N'), (-3, 'N')
         |) ON (k)""".stripMargin)
    // DELETE a residue class
    spark.sql(s"DELETE FROM graft.`$table` WHERE k % 7 = 3")
    // UPDATE with an expression referencing the row
    spark.sql(
      s"UPDATE graft.`$table` SET status = concat(status, '!') WHERE k < 0")

    // the equivalent dataframe-side computation
    val expected = (1L to 100L).map(i =>
        (i, if (i % 10 == 0) "U" else if (i % 2 == 0) "O" else "F"))
      .filterNot(_._1 % 7 == 3)
      .++(Seq((-1L, "N!"), (-2L, "N!"), (-3L, "N!")))
      .sortBy(_._1)
    val got = TxTable.read(spark, table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === expected)
  }

  test("UPDATE with a typo'd SET column errors instead of committing a no-op") {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((1L, "a", 1.0)).toDF("id", "v", "price")
      .createOrReplaceTempView("typo_base")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM typo_base")
    val head = TxTable.versions(spark, table).last
    val e = intercept[Exception](
      spark.sql(s"UPDATE graft.`$table` SET prce = 9.99 WHERE id = 1"))
    assert(e.getMessage.contains("prce"))
    assert(TxTable.versions(spark, table).last === head,
      "nothing committed")
    assert(TxTable.read(spark, table).head().getDouble(2) === 1.0)
  }

  test("backslash-escaped quotes inside literals keep the statement scanner in sync") {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((3L, "old", 0)).toDF("id", "note", "flag")
      .createOrReplaceTempView("esc_base")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM esc_base")
    // the \' inside the literal must not desync the quote tracking —
    // the comma and WHERE after it are top-level and must split there
    spark.sql(
      s"UPDATE graft.`$table` SET note = 'it\\'s fine', flag = 1 WHERE id = 3")
    val row = TxTable.read(spark, table).head()
    assert(row.getString(1) === "it's fine")
    assert(row.getInt(2) === 1)
  }

  test("escapedStringLiterals=true: the scanner still mirrors Spark's lexer") {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((3L, "old", 0)).toDF("id", "note", "flag")
      .createOrReplaceTempView("esc_lit_base")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM esc_lit_base")
    // this config only disables the post-lex UNESCAPING — the lexer
    // still consumes \' as an escaped quote (a literal ending in a
    // lone backslash is a parse error in Spark itself under every
    // config), so the statement scanner's backslash-skip must stay on:
    // the \' below must NOT end the literal, the comma and WHERE after
    // it are top-level, and the stored value keeps the backslash
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try {
      spark.sql(
        s"UPDATE graft.`$table` SET note = 'it\\'s raw', flag = 1 WHERE id = 3")
    } finally {
      spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    }
    val row = TxTable.read(spark, table).head()
    assert(row.getString(1) === "it\\'s raw")
    assert(row.getInt(2) === 1)
  }

  test("SQL MERGE ≡ TxTable.merge on the same input") {
    val s = spark
    import s.implicits._
    val viaSql = tmp()
    val viaApi = tmp()
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x")
    val upd = Seq((2L, 99.0), (4L, 40.0)).toDF("k", "x")
    TxTable.append(spark, viaSql, base)
    TxTable.append(spark, viaApi, base)
    upd.createOrReplaceTempView("merge_upd")
    spark.sql(
      s"MERGE INTO graft.`$viaSql` USING (SELECT * FROM merge_upd) ON (k)")
    TxTable.merge(spark, viaApi, upd, Seq("k"))
    val a = TxTable.read(spark, viaSql).collect().map(_.toString).sorted
    val b = TxTable.read(spark, viaApi).collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("OPTIMIZE ZORDER BY is data-identical; DESCRIBE HISTORY shows the actions") {
    val s = spark
    import s.implicits._
    val table = tmp()
    val d = (1L to 500L).map(i => (i, (i * 37) % 101, s"r$i"))
      .toDF("a", "b", "v")
    d.createOrReplaceTempView("opt_src")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM opt_src")
    val before = TxTable.read(spark, table).collect().map(_.toString).sorted
    spark.sql(s"OPTIMIZE graft.`$table` ZORDER BY (a, b)")
    val after = TxTable.read(spark, table).collect().map(_.toString).sorted
    assert(before.toSeq === after.toSeq)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$table`").collect()
    assert(hist.map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((1L, "append"), (2L, "replace")))
    assert(hist.forall(r => r.getTimestamp(1).getTime > 0),
      "every commit carries a real commit_time")
  }

  test("OPTIMIZE without ZORDER bin-packs small commits; DROP TABLE removes through the catalog") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // five tiny commits → five+ files
    (1 to 5).foreach(i =>
      TxTable.append(spark, table, Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val before = TxTable.read(spark, table).collect().map(_.toString).sorted
    val filesBefore =
      TxTable.snapshotFiles(spark, table, TxTable.versions(spark, table).last)
    spark.sql(s"OPTIMIZE graft.`$table`")
    val head = TxTable.versions(spark, table).last
    val filesAfter = TxTable.snapshotFiles(spark, table, head)
    assert(filesAfter.size < filesBefore.size,
      s"compaction must shrink the file count: ${filesBefore.size} -> " +
        s"${filesAfter.size}")
    assert(TxTable.read(spark, table).collect().map(_.toString).sorted
      .toSeq === before.toSeq, "compaction is data-identical")
    // DROP TABLE resolves through the catalog and removes the table
    spark.sql(s"DROP TABLE graft.`$table`")
    assert(!TxTable.exists(spark, table))
  }

  test("RESTORE rolls back a bad overwrite; VACUUM prunes history") {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((1L, "keep"), (2L, "keep")).toDF("id", "v")
      .createOrReplaceTempView("rv_src")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM rv_src")
    spark.sql(
      s"CREATE OR REPLACE TABLE graft.`$table` AS SELECT 9 AS id, 'bad' AS v")
    spark.sql(s"RESTORE graft.`$table` TO VERSION AS OF 1")
    assert(TxTable.read(spark, table).collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 2L))
    spark.sql(s"VACUUM graft.`$table` RETAIN 1 VERSIONS")
    // old versions are gone from the log; head still reads
    assert(TxTable.versions(spark, table).length === 1)
    assert(TxTable.read(spark, table).count() === 2L)
  }

  test("DELETE with no matches commits nothing and returns NULL version") {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((1L, 5)).toDF("id", "n").createOrReplaceTempView("nm_src")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM nm_src")
    val before = TxTable.versions(spark, table)
    val r = spark.sql(s"DELETE FROM graft.`$table` WHERE n > 1000").collect()
    assert(r.head.isNullAt(0), "no file can match -> no commit, NULL version")
    assert(TxTable.versions(spark, table) === before)
  }

  test("catalog: SELECT over a graft path, with VERSION AS OF time travel") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TxTable.append(spark, table, Seq((3L, "c")).toDF("id", "v"))
    assert(spark.sql(s"SELECT id FROM graft.`$table` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(spark.sql(
        s"SELECT count(*) AS n FROM graft.`$table` VERSION AS OF 1")
      .head().getLong(0) === 2L)
    // joins and aggregates over catalog tables are plain SQL
    assert(spark.sql(
        s"""SELECT a.id FROM graft.`$table` a
           |JOIN graft.`$table` b ON a.id = b.id
           |WHERE a.v > 'a' ORDER BY a.id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("catalog: a path with no commits is a missing table, at the head and AS OF a version") {
    val s = spark
    import s.implicits._
    val missing = tmp()
    def notFound(sql: String, condition: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(sql).collect())
      assert(e.getCondition == condition, e.getMessage)
    }
    // the catalog answers NoSuchTableException; for a query Spark then
    // tries the backticked name as a direct file query, which `graft`
    // refuses
    notFound(s"SELECT * FROM graft.`$missing`",
      "UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY")
    notFound(s"SELECT * FROM graft.`$missing` VERSION AS OF 1",
      "UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY")
    notFound(s"ALTER TABLE graft.`$missing` ADD COLUMNS (x INT)",
      "TABLE_OR_VIEW_NOT_FOUND")
    // a version a table never had (or vacuumed) is named as such
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](
      spark.sql(s"SELECT * FROM graft.`$table` VERSION AS OF 9").collect())
    assert(e.getMessage.contains(s"version 9 of $table does not exist"),
      e.getMessage)
  }

  test("catalog: CREATE empty then INSERT INTO / INSERT OVERWRITE commit through the log") {
    val s = spark
    import s.implicits._
    val table = tmp()
    spark.sql(s"CREATE TABLE graft.`$table` (id BIGINT, v STRING)")
    assert(spark.sql(s"SELECT * FROM graft.`$table`").count() === 0L,
      "a freshly created table is empty but queryable")
    spark.sql(s"INSERT INTO graft.`$table` VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO graft.`$table` SELECT 3, 'c'")
    assert(spark.sql(s"SELECT id FROM graft.`$table` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    spark.sql(s"INSERT OVERWRITE graft.`$table` VALUES (9, 'z')")
    assert(spark.sql(s"SELECT id FROM graft.`$table`")
      .collect().map(_.getLong(0)).toSeq === Seq(9L))
    // every step was a manifest commit: create, 2 appends, overwrite
    assert(TxTable.versions(spark, table) === Seq(1L, 2L, 3L, 4L))
    // and the pre-overwrite state is still one time-travel away
    assert(spark.sql(s"SELECT count(*) FROM graft.`$table` VERSION AS OF 3")
      .head().getLong(0) === 3L)
  }

  test("catalog: CREATE TABLE PARTITIONED BY is metadata-only; INSERT lays out and prunes") {
    val table = tmp()
    spark.sql(s"CREATE TABLE graft.`$table` (id BIGINT, half INT) " +
      "PARTITIONED BY (half)")
    assert(spark.sql(s"SELECT * FROM graft.`$table`").count() === 0L,
      "an empty partitioned table is queryable — no placeholder file")
    assert(TxTable.declaredPartitionCols(spark, table).contains(Seq("half")))
    spark.sql(s"INSERT INTO graft.`$table` " +
      "SELECT id, CAST(id % 2 AS INT) FROM range(1, 21)")
    val odd = spark.sql(
      s"SELECT id FROM graft.`$table` WHERE half = 1 ORDER BY id")
    assert(odd.collect().map(_.getLong(0)).toSeq ===
      (1L to 20L).filter(_ % 2 == 1))
    val plan = odd.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(half"),
      s"partition pruning on the declared layout:\n$plan")
  }

  test("catalog: ALTER TABLE ADD COLUMNS evolves the schema without rewrite") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql(s"ALTER TABLE graft.`$table` ADD COLUMNS (score DOUBLE)")
    // pre-evolution rows surface the new column as null
    assert(spark.sql(s"SELECT score FROM graft.`$table`").collect()
      .forall(_.isNullAt(0)))
    spark.sql(s"INSERT INTO graft.`$table` VALUES (3, 'c', 0.5)")
    val got = spark.sql(
      s"SELECT id, score FROM graft.`$table` ORDER BY id").collect()
    assert(got.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSeq ===
      Seq((1L, -1.0), (2L, -1.0), (3L, 0.5)))
    // DROP COLUMN is part of the DDL surface now: it narrows the
    // declared schema via a copy-on-write rewrite
    spark.sql(s"ALTER TABLE graft.`$table` DROP COLUMN v")
    val after = spark.sql(s"SELECT * FROM graft.`$table` ORDER BY id")
    assert(after.columns.toSeq === Seq("id", "score"))
    assert(after.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("RESTORE TIMESTAMP AS OF rolls back to the commit at-or-before") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val ts1 = TxTable.commitTimestamp(spark, table, 1L)
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    TxTable.overwrite(spark, table, Seq((9L, "bad")).toDF("id", "v"))
    val v = spark.sql(
      s"RESTORE graft.`$table` TO TIMESTAMP AS OF '$ts1'").head().getLong(0)
    assert(v === 3L)
    assert(TxTable.read(spark, table).collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 2L))
  }

  test("catalog: TIMESTAMP AS OF resolves to the commit at-or-before") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a")).toDF("id", "v"))
    Thread.sleep(20)
    TxTable.append(spark, table, Seq((2L, "b")).toDF("id", "v"))
    val ts1 = TxTable.commitTimestamp(spark, table, 1L)
    val lit = java.time.Instant.ofEpochMilli(ts1)
      .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    // session tz is UTC in tests, so the literal resolves to ts1 exactly
    assert(spark.sql(
        s"SELECT count(*) AS n FROM graft.`$table` TIMESTAMP AS OF '$lit'")
      .head().getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$table`")
      .head().getLong(0) === 2L)
  }

  test("partitioned CTAS via the parser is readable through the catalog with pruning") {
    val s = spark
    import s.implicits._
    val table = tmp()
    (1L to 20L).map(i => (i, (i % 2).toInt)).toDF("id", "half")
      .createOrReplaceTempView("pctas_src")
    spark.sql(s"CREATE TABLE graft.`$table` PARTITIONED BY (half) " +
      "AS SELECT * FROM pctas_src")
    val odd = spark.sql(
      s"SELECT id FROM graft.`$table` WHERE half = 1 ORDER BY id")
    assert(odd.collect().map(_.getLong(0)).toSeq ===
      (1L to 20L).filter(_ % 2 == 1))
    val plan = odd.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(half"),
      s"partition pruning through the catalog:\n$plan")
  }

  test("graft_changes / graft_appended table functions compose into SQL") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TxTable.append(spark, table, Seq((3L, "c")).toDF("id", "v"))
    TxTable.delete(spark, table, org.apache.spark.sql.functions.col("id") === 1L)
    // CDC between v1 and head: stats pruning means the delete touched
    // ONLY the file holding id=1 (id=2's file carried over verbatim),
    // so the change set is exactly one delete plus v2's insert
    val ch = spark.sql(
      s"SELECT _change_type, id FROM graft_changes('$table', 1, 3) " +
        "ORDER BY _change_type, id").collect()
    assert(ch.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("delete", 1L), ("insert", 3L)))
    // delta-only incremental read joins like any table
    val app = spark.sql(
      s"SELECT count(*) AS n FROM graft_appended('$table', 1)")
    assert(app.head().getLong(0) === 1L) // just v2's append
  }

  test("table_changes: Delta spelling, inclusive start, graft.` wrapper accepted") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    TxTable.append(spark, table, Seq((3L, "c")).toDF("id", "v"))
    TxTable.delete(spark, table, col("id") === 1L)
    // startingVersion 2 is INCLUSIVE (Delta semantics): v2's insert and
    // v3's delete both appear — readChanges(1, …) in the Scala spelling
    val ch = spark.sql(
      s"SELECT _change_type, id FROM table_changes('graft.`$table`', 2) " +
        "ORDER BY _change_type, id").collect()
    assert(ch.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("delete", 1L), ("insert", 3L)))
    // bare path + endingVersion bound it to just v2
    val v2 = spark.sql(
      s"SELECT _change_type, id FROM table_changes('$table', 2, 2)").collect()
    assert(v2.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("insert", 3L)))
    // version 0 is a caller error: versions are 1-based
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$table', 0)").collect()
    }
    assert(e.getMessage.contains("must be >= 1"), e.getMessage)
  }

  test("DESCRIBE DETAIL reports head facts; VACUUM DRY RUN removes nothing") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    TxTable.delete(spark, table, col("id") === 1L)
    val d = spark.sql(s"DESCRIBE DETAIL graft.`$table`").head()
    assert(d.getLong(0) == 2L, "head version")
    assert(d.getLong(1) >= 1L, "file count")
    assert(d.getLong(2) > 0L, "data bytes")
    assert(d.getString(4).contains("id"), "schema surfaced")
    // the declared configs surface too (empty before declaration)
    assert(d.getString(5) == "" && d.getString(6) == "" &&
      d.getString(7) == "")
    // DRY RUN lists the reclaimable paths without touching anything
    val wouldRemove = spark.sql(
      s"VACUUM graft.`$table` RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0))
    assert(wouldRemove.exists(_.startsWith("_txlog/")),
      s"v1's manifest must be reclaimable, got ${wouldRemove.toSeq}")
    assert(TxTable.versions(spark, table) == Seq(1L, 2L),
      "dry run must not delete manifests")
    assert(TxTable.readVersion(spark, table, 1L).count() == 2,
      "dry run must not delete data")
    // the real vacuum then removes exactly what the dry run promised
    val removed = spark.sql(s"VACUUM graft.`$table` RETAIN 1 VERSIONS")
      .collect().map(_.getString(0))
    assert(removed.toSet == wouldRemove.toSet)
    assert(TxTable.versions(spark, table) == Seq(2L))
    // declared configs surface in DETAIL once set
    spark.sql(s"ALTER TABLE graft.`$table` ADD CONSTRAINT idp CHECK (id > 0)")
    spark.sql(s"ALTER TABLE graft.`$table` ADD BLOOM FILTER (id)")
    spark.sql(s"ALTER TABLE graft.`$table` CLUSTER BY (id)")
    val d2 = spark.sql(s"DESCRIBE DETAIL graft.`$table`").head()
    assert(d2.getString(5) == "idp CHECK (id > 0)", d2.getString(5))
    assert(d2.getString(6) == "id (bits=8192, hashes=6)", d2.getString(6))
    assert(d2.getString(7) == "id", d2.getString(7))
  }

  test("OPTIMIZE ... WHERE compacts only the matching partition's files") {
    val s = spark
    import s.implicits._
    val table = tmp()
    // two commits per partition → multiple small files per pt
    TxTable.replacePartitions(spark, table,
      (0L until 8L).map(i => (i, (i % 2).toInt)).toDF("id", "pt"), Seq("pt"))
    TxTable.append(spark, table,
      (8L until 16L).map(i => (i, (i % 2).toInt)).toDF("id", "pt"), Seq("pt"))
    val before = TxTable.read(spark, table).inputFiles.toSet
    val pt0Before = before.filter(_.contains("pt=0"))
    val pt1Before = before.filter(_.contains("pt=1"))
    spark.sql(s"OPTIMIZE graft.`$table` WHERE pt = 0")
    val after = TxTable.read(spark, table).inputFiles.toSet
    assert(pt1Before.subsetOf(after),
      "pt=1's files must carry verbatim under a pt=0 scope")
    assert((after intersect pt0Before).isEmpty,
      "pt=0's files must all be rewritten")
    // data identical
    assert(TxTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      (0L until 16L).map(i => (i, (i % 2).toInt)).toSet)
    // a no-match scope is a no-op (no new version)
    val v = TxTable.versions(spark, table).last
    spark.sql(s"OPTIMIZE graft.`$table` WHERE pt = 99")
    assert(TxTable.versions(spark, table).last == v)
  }

  test("graft statements parse case-insensitively (GRAFT.`…` included)") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // upper-case prefix must route to the injected parser, not die in
    // Spark's analyzer with an unrelated row-level-operation error
    spark.sql(s"DELETE FROM GRAFT.`$table` WHERE id = 1")
    assert(TxTable.read(spark, table).collect().map(_.getLong(0)).toSeq ===
      Seq(2L))
    spark.sql(s"Update graft.`$table` SET v = 'z' WHERE id = 2")
    assert(TxTable.read(spark, table).head().getString(1) === "z")
  }

  test("MERGE with an aliased parenthesized source parses as a subquery") {
    val s = spark
    import s.implicits._
    val table = tmp()
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql(
      s"""MERGE INTO graft.`$table` USING (
         |  SELECT CAST(1 AS BIGINT) AS id, 'upd' AS v
         |  UNION ALL SELECT 9, 'new'
         |) src ON (id)""".stripMargin)
    val rows = TxTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows === Map(1L -> "upd", 2L -> "b", 9L -> "new"))
  }

  test("catalog: the SQL and DataFrame surfaces see the same table") {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
      .write.format("graft").mode("append").save(table)
    spark.sql(s"INSERT INTO graft.`$table` VALUES (3, 30.0)")
    val viaSql = spark.sql(s"SELECT * FROM graft.`$table`")
      .collect().map(_.toString).sorted
    val viaReader = spark.read.format("graft").load(table)
      .collect().map(_.toString).sorted
    val viaApi = TxTable.read(spark, table)
      .collect().map(_.toString).sorted
    assert(viaSql.toSeq === viaReader.toSeq)
    assert(viaSql.toSeq === viaApi.toSeq)
  }

  test("non-graft SQL is untouched by the injected parser") {
    assert(spark.sql("SELECT 1 + 1 AS x").collect().head.getInt(0) === 2)
    // a query that merely MENTIONS the marker in a string literal
    assert(spark.sql("SELECT 'graft.`fake`' AS s").collect()
      .head.getString(0) === "graft.`fake`")
  }

  // ---- conditional multi-clause MERGE (WHEN MATCHED/NOT MATCHED) ----

  private def clauseFixture(): (String, String) = {
    val s = spark
    import s.implicits._
    val table = tmp()
    Seq((1L, "F", 10.0), (2L, "O", 20.0), (3L, "F", 30.0), (4L, "O", 40.0))
      .toDF("k", "status", "price")
      .createOrReplaceTempView("mc_base")
    spark.sql(s"CREATE TABLE graft.`$table` AS SELECT * FROM mc_base")
    Seq((2L, "U", 99.0), (3L, "U", 98.0), (9L, "N", 9.0))
      .toDF("k", "status", "price")
      .createOrReplaceTempView("mc_src")
    (table, "mc_src")
  }

  private def rowsOf(table: String): Map[Long, (String, Double)] =
    TxTable.read(spark, table).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  test("clause MERGE ≡ TxTable.mergeInto: UPDATE AND / DELETE AND / INSERT *") {
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN MATCHED AND t.status <> 'F' THEN
         |  UPDATE SET price = s.price + 1.0, status = s.status
         |WHEN MATCHED AND t.status = 'F' THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // k=2 matched non-F → updated from source; k=3 matched F → deleted;
    // k=9 unmatched → inserted; k=1,4 untouched
    assert(rowsOf(table) === Map(
      1L -> ("F", 10.0), 2L -> ("U", 100.0), 4L -> ("O", 40.0),
      9L -> ("N", 9.0)))
  }

  test("clause MERGE precedence: textual order wins when conditions overlap") {
    // UPDATE first: a row matching BOTH clauses updates
    val (t1, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$t1` t USING $src s ON (k)
         |WHEN MATCHED AND s.price > 50 THEN UPDATE SET price = s.price
         |WHEN MATCHED THEN DELETE""".stripMargin)
    // k=2 (99>50) and k=3 (98>50) both update; nothing else matched
    assert(rowsOf(t1) === Map(
      1L -> ("F", 10.0), 2L -> ("O", 99.0), 3L -> ("F", 98.0),
      4L -> ("O", 40.0)))
    // DELETE first: the same overlapping row deletes instead
    val (t2, _) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$t2` t USING $src s ON (k)
         |WHEN MATCHED THEN DELETE
         |WHEN MATCHED AND s.price > 50 THEN UPDATE SET price = s.price
         |""".stripMargin)
    assert(rowsOf(t2) === Map(1L -> ("F", 10.0), 4L -> ("O", 40.0)))
  }

  test("clause MERGE: UPDATE SET * takes every source column by name") {
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` USING $src s ON (k)
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(rowsOf(table) === Map(
      1L -> ("F", 10.0), 2L -> ("U", 99.0), 3L -> ("U", 98.0),
      4L -> ("O", 40.0)))
  }

  test("clause MERGE: CASE inside conditions and SET values parses (CASE-aware clause split)") {
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN MATCHED AND CASE WHEN t.status = 'F' THEN false ELSE true END
         |  THEN UPDATE SET price =
         |    CASE WHEN s.price > 50 THEN s.price ELSE t.price END
         |WHEN NOT MATCHED AND CASE WHEN s.status = 'N' THEN true
         |  ELSE false END THEN INSERT *""".stripMargin)
    assert(rowsOf(table) === Map(
      1L -> ("F", 10.0), 2L -> ("O", 99.0), 3L -> ("F", 30.0),
      4L -> ("O", 40.0), 9L -> ("N", 9.0)))
  }

  test("clause MERGE: insert-only with a source-scoped condition") {
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` USING $src s ON (k)
         |WHEN NOT MATCHED AND s.price < 50 THEN INSERT *""".stripMargin)
    assert(rowsOf(table) === Map(
      1L -> ("F", 10.0), 2L -> ("O", 20.0), 3L -> ("F", 30.0),
      4L -> ("O", 40.0), 9L -> ("N", 9.0)))
  }

  test("clause MERGE: unqualified columns bind to the target row") {
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` USING $src s ON (k)
         |WHEN MATCHED AND status = 'F' THEN DELETE""".stripMargin)
    assert(rowsOf(table).keySet === Set(1L, 2L, 4L))
  }

  test("clause MERGE: WHEN NOT MATCHED BY SOURCE THEN DELETE replicates a snapshot") {
    // target {1:(F,10), 2:(O,20), 3:(F,30), 4:(O,40)}, source keys {2,3,9}
    val (table, src) = clauseFixture()
    val v0 = TxTable.versions(spark, table).last
    spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // the table now IS the source — the replicate-a-snapshot shape
    assert(rowsOf(table) === Map(
      2L -> ("U", 99.0), 3L -> ("U", 98.0), 9L -> ("N", 9.0)))
    assert(TxTable.versions(spark, table).last === v0 + 1,
      "all three clauses land in ONE commit")
    // the feed carries the by-source deletes as row-level deletes
    val dels = TxTable.readChanges(spark, table, v0).collect()
      .filter(_.getString(3) == "delete").map(_.getLong(0)).toSet
    assert(dels === Set(1L, 4L), s"by-source deletes in the feed: $dels")
  }

  test("clause MERGE: conditional BY SOURCE delete sees the target row alone") {
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN NOT MATCHED BY SOURCE AND t.status = 'F' THEN DELETE""".stripMargin)
    // source-absent rows: 1 (F → deleted), 4 (O → kept); matched rows
    // 2, 3 carried (no matched clause)
    assert(rowsOf(table).keySet === Set(2L, 3L, 4L))
    // a source reference in the by-source condition is refused loudly
    val srcRef = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN NOT MATCHED BY SOURCE AND s.price > 0 THEN DELETE""".stripMargin))
    assert(srcRef.getMessage.contains("source"))
  }

  test("clause MERGE: BY SOURCE UPDATE marks stale rows; precedence vs BY SOURCE DELETE") {
    // target {1:(F,10), 2:(O,20), 3:(F,30), 4:(O,40)}, source keys {2,3,9}
    val (table, src) = clauseFixture()
    spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN NOT MATCHED BY SOURCE AND t.price < 15 THEN UPDATE
         |  SET status = 'stale', price = t.price * 2
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // source-absent rows 1, 4: 1 (price 10 < 15) textually hits the
    // UPDATE first → marked stale; 4 falls through to DELETE. Matched
    // rows 2, 3 carried (no matched clause).
    assert(rowsOf(table) === Map(
      1L -> ("stale", 20.0), 2L -> ("O", 20.0), 3L -> ("F", 30.0)))
    // SET * in a by-source update has no source row to take — refused
    val star = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *""".stripMargin))
    assert(star.getMessage.contains("SET *"))
    // a source reference in the SET value is refused loudly
    val srcSet = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET price = s.price""".stripMargin))
    assert(srcSet.getMessage.contains("source"))
  }

  test("clause MERGE rejects column-list INSERT and target refs in INSERT conditions") {
    val (table, src) = clauseFixture()
    val colList = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$table` USING $src s ON (k)
         |WHEN NOT MATCHED THEN INSERT (k, status, price)
         |  VALUES (s.k, s.status, s.price)""".stripMargin))
    assert(colList.getMessage.contains("INSERT"))
    val tgtRef = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$table` t USING $src s ON (k)
         |WHEN NOT MATCHED AND t.price > 0 THEN INSERT *""".stripMargin))
    assert(tgtRef.getMessage.contains("target"))
  }
}
