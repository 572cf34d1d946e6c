package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.ops.TxTable

/** `merge` and `applyChanges` against references: their earlier
  * three-way derivations (a key anti join plus a union for the data;
  * semi/anti key joins and unions for the change feed), kept here as
  * the oracle, as [[TxMergeIntoSpec]] keeps the old `mergeInto`. Every
  * case compares the commit's snapshot rows, its new files' schema and
  * its change feed with the reference's.
  */
class TxKeyedDmlSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_keyed").toString + "/t"

  /** `l` joined to `r`'s key tuples: `===`, or `<=>` when null-safe. */
  private def keyJoin(l: DataFrame, r: DataFrame, keys: Seq[String],
                      nullSafe: Boolean, how: String): DataFrame =
    l.join(r.select(keys.map(col): _*).toDF(keys.map(k => s"__k_$k"): _*),
      keys.map(k =>
        if (nullSafe) l(k) <=> col(s"__k_$k")
        else l(k) === col(s"__k_$k")).reduce(_ && _), how)

  private def tagged(df: DataFrame, tag: String) =
    df.withColumn(TxTable.ChangeTypeCol, lit(tag))

  /** The three-way `merge` over the whole pre-merge snapshot:
    * (new snapshot, change rows). Rows of files the merge does not
    * rewrite hold no matched key, so they are carried here unchanged.
    */
  private def mergeRef(target: DataFrame, updates: DataFrame,
                       keys: Seq[String], nullSafe: Boolean,
                       mergeSchema: Boolean): (DataFrame, DataFrame) = {
    def union(a: DataFrame, b: DataFrame) =
      a.unionByName(b, allowMissingColumns = mergeSchema)
    val data = union(keyJoin(target, updates, keys, nullSafe, "left_anti"),
      updates)
    val changes = union(union(
      tagged(keyJoin(target, updates, keys, nullSafe, "left_semi"),
        "update_preimage"),
      tagged(keyJoin(updates, target, keys, nullSafe, "left_semi"),
        "update_postimage")),
      tagged(keyJoin(updates, target, keys, nullSafe, "left_anti"),
        "insert"))
    (data, changes)
  }

  /** The three-way `applyChanges`: one anti join drops the upserted
    * and the deleted keys, the union re-adds the upserts; the feed's
    * deletes skip keys an upsert names.
    */
  private def applyRef(target: DataFrame, upserts: DataFrame,
                       deleteKeys: DataFrame, keys: Seq[String],
                       nullSafe: Boolean,
                       mergeSchema: Boolean): (DataFrame, DataFrame) = {
    def union(a: DataFrame, b: DataFrame) =
      a.unionByName(b, allowMissingColumns = mergeSchema)
    val dk = deleteKeys.select(keys.map(col): _*).distinct()
    val allKeys = upserts.select(keys.map(col): _*).unionByName(dk)
    val data = union(keyJoin(target, allKeys, keys, nullSafe, "left_anti"),
      upserts)
    val dkReal = keyJoin(keyJoin(dk, upserts, keys, nullSafe, "left_anti"),
      target, keys, nullSafe, "left_semi")
    val changes = union(union(union(
      tagged(keyJoin(target, upserts, keys, nullSafe, "left_semi"),
        "update_preimage"),
      tagged(keyJoin(target, dkReal, keys, nullSafe, "left_semi"),
        "delete")),
      tagged(keyJoin(upserts, target, keys, nullSafe, "left_semi"),
        "update_postimage")),
      tagged(keyJoin(upserts, target, keys, nullSafe, "left_anti"),
        "insert"))
    (data, changes)
  }

  private def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Rows as a multiset, columns in `cols` order. */
  private def bag(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    df.select(cols.map(col): _*).collect().toSeq
      .map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Run one keyed commit on `dir` and compare it with `reference`
    * applied to the pre-commit snapshot: snapshot rows, the new files'
    * schema, and (with the change feed on) `readChanges(v - 1, v)`'s
    * schema and rows.
    */
  private def check(dir: String, mergeSchema: Boolean = false,
                    changeFeed: Boolean = true)(run: => Long)
                   (reference: DataFrame => (DataFrame, DataFrame)): Unit = {
    val v0 = TxTable.versions(spark, dir).last
    val v = run
    assert(v == v0 + 1, "one commit")
    val (wantData, wantChanges) =
      reference(TxTable.readVersion(spark, dir, v0, mergeSchema))
    val cols = wantData.columns.toSeq
    val got = TxTable.read(spark, dir, mergeSchema)
    assert(got.columns.toSet == cols.toSet, s"snapshot columns: ${got.columns}")
    assert(bag(got, cols) == bag(wantData, cols), "snapshot rows")
    if (TxTable.snapshotFiles(spark, dir, v) !=
        TxTable.snapshotFiles(spark, dir, v0))
      assert(shape(TxTable.readAppended(spark, dir, v0, v, mergeSchema).schema) ==
        shape(wantData.schema), "schema of the new files")
    if (!changeFeed)
      assert(!TxTable.history(spark, dir).last._3.contains("cdf"),
        "no change data without the feed")
    else {
      val feed = TxTable.readChanges(spark, dir, v0, v, mergeSchema)
        .drop(TxTable.CommitVersionCol, TxTable.CommitTimestampCol)
      if (wantChanges.isEmpty) assert(feed.isEmpty, "no change rows")
      else {
        assert(shape(feed.schema) == shape(wantChanges.schema), "feed schema")
        assert(bag(feed, wantChanges.columns.toSeq) ==
          bag(wantChanges, wantChanges.columns.toSeq), "feed rows")
      }
    }
  }

  private def checkMerge(dir: String, updates: DataFrame, keys: Seq[String],
                         nullSafe: Boolean = false,
                         mergeSchema: Boolean = false,
                         changeFeed: Boolean = true,
                         checkUniqueKeys: Boolean = true,
                         meta: Map[String, String] = Map.empty): Unit =
    check(dir, mergeSchema, changeFeed)(
      TxTable.merge(spark, dir, updates, keys, mergeSchema = mergeSchema,
        nullSafeKeys = nullSafe, changeFeed = changeFeed,
        checkUniqueKeys = checkUniqueKeys, meta = meta))(
      mergeRef(_, updates, keys, nullSafe, mergeSchema))

  private def checkApply(dir: String, upserts: DataFrame,
                         deleteKeys: DataFrame, keys: Seq[String],
                         nullSafe: Boolean = false,
                         mergeSchema: Boolean = false,
                         changeFeed: Boolean = true,
                         meta: Map[String, String] = Map.empty): Unit =
    check(dir, mergeSchema, changeFeed)(
      TxTable.applyChanges(spark, dir, upserts, deleteKeys, keys,
        mergeSchema = mergeSchema, nullSafeKeys = nullSafe,
        changeFeed = changeFeed, meta = meta))(
      applyRef(_, upserts, deleteKeys, keys, nullSafe, mergeSchema))

  /** A flat two-file table (id, status, x): keys 1-4 and 5-8. */
  private def table(): String = {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, "open", 10L), (2L, "closed", 20L),
      (3L, "open", 30L), (4L, "open", 40L)).toDF("id", "status", "x")
      .coalesce(1))
    TxTable.append(spark, dir, Seq((5L, "open", 50L), (6L, "closed", 60L),
      (7L, "open", 70L), (8L, "open", 80L)).toDF("id", "status", "x")
      .coalesce(1))
    dir
  }

  private def rows(rs: (Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rs.toDF("id", "status", "x")
  }

  private def ids(is: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    is.toDF("id")
  }

  private val updates = rows((2L, "new", 200L), (3L, "new", 300L),
    (9L, "new", 900L))

  test("merge and applyChanges match the three-way derivations") {
    checkMerge(table(), updates, Seq("id"))
    checkApply(table(), updates, ids(4L, 7L, 42L), Seq("id"))
    checkMerge(table(), updates, Seq("id"), checkUniqueKeys = false)
    checkMerge(table(), updates, Seq("id"), changeFeed = false)
    checkApply(table(), updates, ids(4L), Seq("id"), changeFeed = false)
  }

  test("null keys on both sides, plain and null-safe, one or two key columns") {
    val s = spark
    import s.implicits._
    def target(): String = {
      val dir = tmp()
      TxTable.append(spark, dir, Seq((Some(1L), Some("a"), 10L),
        (None, Some("b"), 20L), (Some(3L), Some("c"), 30L),
        (Some(2L), None, 40L)).toDF("id", "status", "x").coalesce(1))
      TxTable.append(spark, dir, Seq((Some(7L), Some("c"), 70L))
        .toDF("id", "status", "x").coalesce(1))
      dir
    }
    val upd = Seq((None, Some("s"), 100L), (Some(1L), Some("s"), 110L),
      (Some(5L), None, 500L)).toDF("id", "status", "x")
    val twoKey = Seq((Some(1L), Some("a"), 1L), (Some(2L), None, 2L),
      (None, Some("b"), 4L), (None, Some("z"), 3L)).toDF("id", "status", "x")
    val nullDel = Seq((None: Option[Long], Some("b")), (Some(7L), Some("c")))
      .toDF("id", "status")
    for (nullSafe <- Seq(false, true)) withClue(s"nullSafe=$nullSafe: ") {
      checkMerge(target(), upd, Seq("id"), nullSafe = nullSafe)
      checkMerge(target(), twoKey, Seq("id", "status"), nullSafe = nullSafe)
      checkApply(target(), upd, nullDel.select("id"), Seq("id"),
        nullSafe = nullSafe)
      checkApply(target(), twoKey, nullDel, Seq("id", "status"),
        nullSafe = nullSafe)
    }
  }

  test("duplicate target keys: deletes match, upserts replace each row") {
    val s = spark
    import s.implicits._
    def target(): String = {
      val dir = tmp()
      TxTable.append(spark, dir, Seq((1L, "a", 10L), (1L, "b", 11L),
        (2L, "c", 20L), (2L, "d", 21L), (3L, "e", 30L))
        .toDF("id", "status", "x"))
      dir
    }
    // duplicated keys carried or deleted match the derivations whole
    checkMerge(target(), rows((3L, "s", 300L), (4L, "s", 400L)), Seq("id"))
    checkApply(target(), rows((3L, "s", 300L)), ids(1L), Seq("id"))
    // a duplicated key that an update matches: each of its rows is
    // replaced by the update row, one image pair per row, as in
    // mergeInto and Delta's MERGE (the three-way merge collapsed the
    // key to one row and paired two preimages with one postimage)
    for (apply <- Seq(false, true)) withClue(s"applyChanges=$apply: ") {
      val dir = target()
      val v = if (apply) TxTable.applyChanges(spark, dir,
          rows((2L, "s", 200L)), ids(), Seq("id"))
        else TxTable.merge(spark, dir, rows((2L, "s", 200L)), Seq("id"))
      assert(bag(TxTable.read(spark, dir), Seq("id", "status", "x")) ==
        Map(Seq(1L, "a", 10L) -> 1, Seq(1L, "b", 11L) -> 1,
          Seq(2L, "s", 200L) -> 2, Seq(3L, "e", 30L) -> 1))
      assert(bag(TxTable.readChanges(spark, dir, v - 1, v),
          Seq("id", "x", TxTable.ChangeTypeCol)) ==
        Map(Seq(2L, 20L, "update_preimage") -> 1,
          Seq(2L, 21L, "update_preimage") -> 1,
          Seq(2L, 200L, "update_postimage") -> 2))
    }
  }

  test("mergeSchema: a source-only column, a target-only column, a narrower type") {
    val s = spark
    import s.implicits._
    val extra = Seq((2L, "new", 200L, "z2"), (9L, "new", 900L, "z9"))
      .toDF("id", "status", "x", "z")
    val missing = Seq((2L, 200L), (9L, 900L)).toDF("id", "x")
    val narrow = Seq((3L, 3, "z3"), (11L, 11, "z11")).toDF("id", "x", "z")
    for (upd <- Seq(extra, missing, narrow)) {
      checkMerge(table(), upd, Seq("id"), mergeSchema = true)
      checkApply(table(), upd, ids(5L), Seq("id"), mergeSchema = true)
    }
  }

  test("without mergeSchema, a mismatched source fails as the union does") {
    val s = spark
    import s.implicits._
    val extra = Seq((2L, "new", 200L, "z2")).toDF("id", "status", "x", "z")
    val missing = Seq((2L, 200L)).toDF("id", "x")
    for (upd <- Seq(extra, missing); apply <- Seq(false, true)) {
      val dir = table()
      val v0 = TxTable.versions(spark, dir).last
      val target = TxTable.read(spark, dir)
      val want = intercept[org.apache.spark.sql.AnalysisException] {
        if (apply) applyRef(target, upd, ids(3L), Seq("id"), false, false)
        else mergeRef(target, upd, Seq("id"), false, false)
      }
      val got = intercept[org.apache.spark.sql.AnalysisException] {
        if (apply) TxTable.applyChanges(spark, dir, upd, ids(3L), Seq("id"))
        else TxTable.merge(spark, dir, upd, Seq("id"))
      }
      assert(got.getCondition == want.getCondition)
      assert(TxTable.versions(spark, dir).last == v0, "nothing committed")
    }
  }

  test("a partitioned target") {
    val s = spark
    import s.implicits._
    def target(): String = {
      val dir = tmp()
      TxTable.append(spark, dir, (1L to 12L).map(i => (i, i * 10, s"p${i % 2}"))
        .toDF("id", "x", "part"), partitionCols = Seq("part"))
      dir
    }
    val upd = Seq((2L, 1L, "p0"), (3L, 2L, "p1"), (20L, 3L, "p0"))
      .toDF("id", "x", "part")
    checkMerge(target(), upd, Seq("id"))
    checkApply(target(), upd, ids(4L, 5L), Seq("id"))
  }

  test("keys that miss every file rewrite nothing") {
    for (apply <- Seq(false, true)) {
      val dir = table()
      val before = TxTable.read(spark, dir).inputFiles.toSet
      val upd = rows((100L, "new", 1L), (101L, "new", 2L))
      if (apply) checkApply(dir, upd, ids(102L), Seq("id"))
      else checkMerge(dir, upd, Seq("id"))
      assert(before.subsetOf(TxTable.read(spark, dir).inputFiles.toSet),
        "no file is rewritten")
    }
  }

  test("an empty table takes every upsert as an insert") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("status", StringType), StructField("x", LongType)))
    def empty(): String = {
      val dir = tmp()
      TxTable.create(spark, dir, schema)
      dir
    }
    checkMerge(empty(), updates, Seq("id"))
    checkApply(empty(), updates, ids(2L, 4L), Seq("id"))
  }

  test("an empty source with meta commits metadata only") {
    val none = rows()
    val meta = Map("txn.off" -> "7")
    for (apply <- Seq(false, true)) {
      val dir = table()
      if (apply) checkApply(dir, none, ids(), Seq("id"), meta = meta)
      else checkMerge(dir, none, Seq("id"), meta = meta)
      val v = TxTable.versions(spark, dir).last
      assert(TxTable.commitMeta(spark, dir, v).get("txn.off").contains("7"))
      assert(TxTable.snapshotFiles(spark, dir, v) ==
        TxTable.snapshotFiles(spark, dir, v - 1), "no file rewritten")
    }
  }

  test("applyChanges: overlapping keys, absent deletes, deletes only") {
    // key 3 is upserted and deleted: the upsert wins in data and feed
    checkApply(table(), updates, ids(3L, 4L), Seq("id"))
    // delete keys absent from the target delete nothing
    checkApply(table(), updates, ids(40L, 41L), Seq("id"))
    // deletes only; a repeated delete key deletes once
    checkApply(table(), rows(), ids(1L, 6L, 6L), Seq("id"))
  }

  test("applyChanges: wider delete keys do not widen the data") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, (1 to 8).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1))
    val upserts = Seq((2, "u2"), (20, "u20")).toDF("id", "v")
    checkApply(dir, upserts, ids(3L, 5L), Seq("id"))
    assert(TxTable.read(spark, dir).schema("id").dataType == IntegerType)
  }

  test("target columns named src_x and __m work for merge and applyChanges") {
    val s = spark
    import s.implicits._
    def target(): String = {
      val dir = tmp()
      TxTable.append(spark, dir, (1L to 6L).map(i => (i, i * 10, s"m$i"))
        .toDF("id", "src_x", "__m"))
      dir
    }
    val upd = Seq((2L, -2L, "u2"), (9L, -9L, "u9")).toDF("id", "src_x", "__m")
    checkMerge(target(), upd, Seq("id"))
    checkApply(target(), upd, ids(3L), Seq("id"))
  }

  test("applyChanges rejects duplicate upsert keys, as merge does") {
    val dir = table()
    val v0 = TxTable.versions(spark, dir).last
    val dup = rows((2L, "a", 1L), (2L, "b", 2L))
    for (run <- Seq(
        () => TxTable.merge(spark, dir, dup, Seq("id")),
        () => TxTable.applyChanges(spark, dir, dup, ids(5L), Seq("id")))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("duplicate key"))
    }
    assert(TxTable.versions(spark, dir).last == v0, "nothing committed")
  }
}
