package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.TxTable

/** `mergeInto` against a reference: the earlier three-way derivation
  * (a left join for the clauses, semi/anti key joins for the feed's
  * images and the unmatched inserts, unions to assemble both), kept
  * here as the oracle. Every case compares the merge commit's snapshot
  * rows, its data schema and its change feed with the reference's.
  */
class TxMergeIntoSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_minto").toString + "/t"

  /** The clauses of one `mergeInto` call, with its defaults. */
  private case class Clauses(
      updateWhen: Option[Column] = None,
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      insertUnmatched: Boolean = true,
      deleteBySourceWhen: Option[Column] = None,
      updateBySourceWhen: Option[Column] = None,
      updateBySourceSet: Map[String, Column] = Map.empty)

  private def mergeInto(dir: String, source: DataFrame, keys: Seq[String],
                        c: Clauses, mergeSchema: Boolean = false,
                        changeFeed: Boolean = true): Long =
    TxTable.mergeInto(spark, dir, source, keys,
      updateWhen = c.updateWhen, updateSet = c.updateSet,
      deleteWhen = c.deleteWhen, insertWhen = c.insertWhen,
      insertUnmatched = c.insertUnmatched,
      deleteBySourceWhen = c.deleteBySourceWhen,
      updateBySourceWhen = c.updateBySourceWhen,
      updateBySourceSet = c.updateBySourceSet,
      mergeSchema = mergeSchema, changeFeed = changeFeed)

  /** The three-way derivation over the whole pre-merge snapshot:
    * (new snapshot, change rows). Rows of files the merge does not
    * rewrite are carried unchanged here too, so the snapshot compares
    * whole; they yield no change images (no match, and a by-source
    * clause makes every file a candidate).
    */
  private def reference(target: DataFrame, source: DataFrame,
                        keys: Seq[String], c: Clauses,
                        mergeSchema: Boolean): (DataFrame, DataFrame) = {
    val updWhen =
      if (c.updateWhen.isEmpty && c.updateSet.nonEmpty) Some(lit(true))
      else c.updateWhen
    val updBySrcWhen =
      if (c.updateBySourceWhen.isEmpty && c.updateBySourceSet.nonEmpty)
        Some(lit(true))
      else c.updateBySourceWhen
    val inserts0 =
      if (!c.insertUnmatched) source.where(lit(false))
      else c.insertWhen.fold(source)(source.where(_))
    val srcPrefixed = source.toDF(source.columns.map(n => s"src_$n"): _*)
      .withColumn("__m", lit(true))
    val joined = target.join(srcPrefixed,
      keys.map(k => target(k) === col(s"src_$k")).reduce(_ && _), "left")
    val matched = coalesce(col("__m"), lit(false))
    val delCond = matched &&
      coalesce(c.deleteWhen.getOrElse(lit(false)), lit(false))
    val bySrcDel = !matched &&
      coalesce(c.deleteBySourceWhen.getOrElse(lit(false)), lit(false))
    val updCond = matched && !delCond &&
      coalesce(updWhen.getOrElse(lit(false)), lit(false))
    val bySrcUpdCond = !matched && !bySrcDel &&
      coalesce(updBySrcWhen.getOrElse(lit(false)), lit(false))
    def applyClauses(j: DataFrame): DataFrame =
      j.where(!delCond && !bySrcDel).select(target.columns.map { name =>
        val branches =
          c.updateSet.get(name).filter(_ => updWhen.isDefined)
            .map(e => (updCond, e)).toSeq ++
          c.updateBySourceSet.get(name).filter(_ => updBySrcWhen.isDefined)
            .map(e => (bySrcUpdCond, e))
        branches match {
          case Seq() => col(name)
          case (c1, e1) +: rest =>
            rest.foldLeft(when(c1, e1)) { case (acc, (c2, e2)) =>
              acc.when(c2, e2)
            }.otherwise(col(name)).as(name)
        }
      }.toIndexedSeq: _*)
    val existingKeys = target.select(keys.map(col): _*).distinct()
      .toDF(keys.map(k => s"__e_$k"): _*)
    val unmatchedInserts = inserts0.join(existingKeys,
      keys.map(k => inserts0(k) === col(s"__e_$k")).reduce(_ && _),
      "left_anti")
    def union(a: DataFrame, b: DataFrame) =
      a.unionByName(b, allowMissingColumns = mergeSchema)
    val base = applyClauses(joined)
    val data = if (!c.insertUnmatched) base else union(base, unmatchedInserts)
    val tgtCols = target.columns.toIndexedSeq.map(col)
    val deleted = joined.where(delCond || bySrcDel).select(tgtCols: _*)
      .withColumn(TxTable.ChangeTypeCol, lit("delete"))
    val pre = joined.where(updCond || bySrcUpdCond).select(tgtCols: _*)
      .withColumn(TxTable.ChangeTypeCol, lit("update_preimage"))
    val post = applyClauses(joined.where(updCond || bySrcUpdCond))
      .withColumn(TxTable.ChangeTypeCol, lit("update_postimage"))
    val core = union(union(deleted, pre), post)
    val changes =
      if (!c.insertUnmatched) core
      else union(core, unmatchedInserts
        .withColumn(TxTable.ChangeTypeCol, lit("insert")))
    (data, changes)
  }

  private def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Rows as a multiset, columns in `cols` order. */
  private def bag(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    df.select(cols.map(col): _*).collect().toSeq
      .map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Merge `source` into the table at `dir` and compare the commit with
    * the reference: snapshot rows, the new files' schema, and (with the
    * change feed on) `readChanges(v - 1, v)`'s schema and rows.
    */
  private def check(dir: String, source: DataFrame, keys: Seq[String],
                    c: Clauses, mergeSchema: Boolean = false,
                    changeFeed: Boolean = true): Unit = {
    val v0 = TxTable.versions(spark, dir).last
    val v = mergeInto(dir, source, keys, c, mergeSchema, changeFeed)
    assert(v == v0 + 1, "the merge commits one version")
    val (wantData, wantChanges) = reference(
      TxTable.readVersion(spark, dir, v0, mergeSchema), source, keys, c,
      mergeSchema)
    val cols = wantData.columns.toSeq
    val got = TxTable.read(spark, dir, mergeSchema)
    assert(got.columns.toSet == cols.toSet, s"snapshot columns: ${got.columns}")
    assert(bag(got, cols) == bag(wantData, cols), "snapshot rows")
    assert(shape(TxTable.readAppended(spark, dir, v0, v).schema) ==
      shape(wantData.schema), "schema of the rewritten files")
    if (changeFeed) {
      val feed = TxTable.readChanges(spark, dir, v0, v)
        .drop(TxTable.CommitVersionCol, TxTable.CommitTimestampCol)
      assert(shape(feed.schema) == shape(wantChanges.schema), "feed schema")
      assert(bag(feed, wantChanges.columns.toSeq) ==
        bag(wantChanges, wantChanges.columns.toSeq), "feed rows")
    } else assert(!TxTable.history(spark, dir).last._3.contains("cdf"),
      "no change data without the feed")
  }

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

  private def src(rows: (Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "status", "x")
  }

  private val upd = Clauses(updateSet = Map("x" -> (TxTable.src("x") + col("x"))))
  private val source = Seq((2L, "new", 200L), (3L, "new", 300L),
    (9L, "new", 900L), (10L, "closed", 1000L))

  test("each clause alone matches the three-way derivation") {
    val alone = Seq(
      "update" -> upd,
      "conditional update" -> upd.copy(
        updateWhen = Some(col("status") === "open")),
      "delete" -> Clauses(deleteWhen = Some(col("status") === "closed"),
        insertUnmatched = false),
      "insert" -> Clauses(),
      "insert with insertWhen" -> Clauses(
        insertWhen = Some(col("status") =!= "closed")),
      "update without inserts" -> upd.copy(insertUnmatched = false),
      "by-source delete" -> Clauses(insertUnmatched = false,
        deleteBySourceWhen = Some(col("x") > 40L)),
      "unconditional by-source delete" -> Clauses(
        deleteBySourceWhen = Some(lit(true))),
      "by-source update" -> Clauses(insertUnmatched = false,
        updateBySourceSet = Map("status" -> lit("stale"))))
    alone.foreach { case (what, c) =>
      withClue(s"$what: ") { check(table(), src(source: _*), Seq("id"), c) }
    }
  }

  test("all clauses combined, by-source clauses in precedence") {
    val all = Clauses(
      updateWhen = Some(col("status") === "open"),
      updateSet = Map("x" -> TxTable.src("x"),
        "status" -> TxTable.src("status")),
      deleteWhen = Some(col("status") === "closed"),
      insertWhen = Some(col("x") < 1000L),
      deleteBySourceWhen = Some(col("x") >= 70L),
      updateBySourceWhen = Some(col("x") >= 40L),
      updateBySourceSet = Map("x" -> -col("x")))
    check(table(), src(source :+ ((6L, "new", 600L)): _*), Seq("id"), all)
    // the matched clauses only, then the by-source clauses only
    check(table(), src(source: _*), Seq("id"), all.copy(
      deleteBySourceWhen = None, updateBySourceWhen = None,
      updateBySourceSet = Map.empty))
    check(table(), src(source: _*), Seq("id"), Clauses(
      insertUnmatched = false, deleteBySourceWhen = Some(col("x") > 50L),
      updateBySourceSet = Map("x" -> lit(0L))))
  }

  test("duplicate target keys yield one image pair per target row") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, "a", 10L), (1L, "b", 11L),
      (2L, "c", 20L), (2L, "d", 21L)).toDF("id", "status", "x"))
    check(dir, src((1L, "s", 100L), (3L, "s", 300L)), Seq("id"), upd)
    val v = TxTable.versions(spark, dir).last
    assert(TxTable.readChanges(spark, dir, v - 1, v)
      .where(col(TxTable.ChangeTypeCol) === "update_postimage").count() == 2)
    check(dir, src((2L, "s", 0L)), Seq("id"),
      Clauses(deleteWhen = Some(lit(true)), insertUnmatched = false))
  }

  test("null keys never match, on either side") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((Some(1L), Some("a"), 10L),
      (None, Some("b"), 20L), (None, None, 30L), (Some(2L), None, 40L))
      .toDF("id", "status", "x"))
    val source = Seq((None, Some("s"), 100L), (Some(1L), Some("s"), 110L),
      (Some(5L), None, 500L)).toDF("id", "status", "x")
    check(dir, source, Seq("id"), upd)
    check(dir, source, Seq("id"), Clauses(deleteWhen = Some(lit(true)),
      updateBySourceSet = Map("x" -> lit(-1L))))
    // two key columns, a null in one of them
    val dir2 = tmp()
    TxTable.append(spark, dir2, Seq((Some(1L), Some("a"), 10L),
      (Some(1L), None, 20L), (None, Some("a"), 30L))
      .toDF("id", "status", "x"))
    check(dir2, Seq((Some(1L), Some("a"), 1L), (Some(1L), None, 2L),
      (None, Some("a"), 3L)).toDF("id", "status", "x"),
      Seq("id", "status"), upd)
  }

  test("mergeSchema: a source-only column and a target-only column") {
    val s = spark
    import s.implicits._
    // the source carries z, which the target lacks
    check(table(), Seq((2L, "new", 200L, "z2"), (9L, "new", 900L, "z9"))
      .toDF("id", "status", "x", "z"), Seq("id"), upd, mergeSchema = true)
    // the target carries status, which the source lacks
    check(table(), Seq((2L, 200L), (9L, 900L)).toDF("id", "x"), Seq("id"),
      upd.copy(deleteWhen = Some(col("status") === "closed")),
      mergeSchema = true)
    // both at once, with a narrower source type widened by the union
    check(table(), Seq((3L, 3, "z3"), (11L, 11, "z11")).toDF("id", "x", "z"),
      Seq("id"), Clauses(updateSet = Map("x" -> TxTable.src("x"))),
      mergeSchema = true)
  }

  test("without mergeSchema, a mismatched source fails as the union does") {
    val s = spark
    import s.implicits._
    val extra = Seq((2L, "new", 200L, "z2")).toDF("id", "status", "x", "z")
    val missing = Seq((2L, 200L)).toDF("id", "x")
    for (source <- Seq(extra, missing)) {
      val dir = table()
      val v0 = TxTable.versions(spark, dir).last
      val want = intercept[org.apache.spark.sql.AnalysisException] {
        reference(TxTable.read(spark, dir), source, Seq("id"), upd, false)
      }
      val got = intercept[org.apache.spark.sql.AnalysisException] {
        mergeInto(dir, source, Seq("id"), upd)
      }
      assert(got.getCondition == want.getCondition)
      assert(TxTable.versions(spark, dir).last == v0, "nothing committed")
    }
  }

  test("changeFeed = false commits the same data") {
    check(table(), src(source: _*), Seq("id"),
      upd.copy(deleteWhen = Some(col("status") === "closed")),
      changeFeed = false)
  }

  test("a partitioned target") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, (1L to 12L).map(i =>
      (i, if (i % 3 == 0) "closed" else "open", i * 10, s"p${i % 2}"))
      .toDF("id", "status", "x", "part"), partitionCols = Seq("part"))
    check(dir, Seq((2L, "new", 1L, "p0"), (3L, "new", 2L, "p1"),
      (20L, "new", 3L, "p0")).toDF("id", "status", "x", "part"), Seq("id"),
      upd.copy(deleteWhen = Some(col("status") === "closed")))
  }

  test("a source whose keys miss every file only inserts") {
    val dir = table()
    val before = TxTable.read(spark, dir).inputFiles.toSet
    check(dir, src((100L, "new", 1L), (101L, "new", 2L)), Seq("id"),
      upd.copy(insertWhen = Some(col("x") > 1L)))
    assert(before.subsetOf(TxTable.read(spark, dir).inputFiles.toSet),
      "no file is rewritten")
  }

  test("mergeInto and merge key on a column named count") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, 10L), (2L, 20L)).toDF("count", "v"))
    check(dir, Seq((2L, -2L), (3L, 30L)).toDF("count", "v"), Seq("count"),
      Clauses(updateSet = Map("v" -> TxTable.src("v"))))
    TxTable.merge(spark, dir, Seq((1L, -1L), (4L, 40L)).toDF("count", "v"),
      Seq("count"))
    assert(TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> -1L, 2L -> -2L, 3L -> 30L, 4L -> 40L))
    val e = intercept[IllegalArgumentException] {
      TxTable.mergeInto(spark, dir, Seq((1L, 0L), (1L, 1L)).toDF("count", "v"),
        Seq("count"), updateSet = Map("v" -> TxTable.src("v")))
    }
    assert(e.getMessage.contains("duplicate key"))
  }

  test("a change-feed merge on a flat table starts at most 9 jobs") {
    val s = spark
    import s.implicits._
    def flat(): String = {
      val dir = tmp()
      TxTable.append(spark, dir, (1L to 100L).map(i =>
        (i, if (i % 7 == 0) "closed" else "open", i)).toDF("id", "status", "x")
        .coalesce(1))
      dir
    }
    val source = (95L to 105L).map(i => (i, "new", -i))
      .toDF("id", "status", "x")
    /** Jobs `body` starts on `dir`, and the rows of its change feed. */
    def run(body: String => Long): (Int, Long) = {
      val dir = flat()
      val jobs = jobsStartedBy(body(dir))
      val v = TxTable.versions(spark, dir).last
      (jobs, TxTable.readChanges(spark, dir, v - 1, v).count())
    }
    // 1 source checkpoint, 3 probe, 4 change write, 1 rewrite
    val (intoJobs, intoRows) = run(TxTable.mergeInto(spark, _, source,
      Seq("id"), updateSet = Map("x" -> TxTable.src("x")),
      deleteWhen = Some(col("status") === "closed")))
    assert(intoJobs <= 9, s"mergeInto started $intoJobs jobs")
    assert(intoRows == 1 + 5 * 2 + 5)
    val (mergeJobs, mergeRows) = run(TxTable.merge(spark, _, source,
      Seq("id")))
    assert(mergeJobs <= 9, s"merge started $mergeJobs jobs")
    assert(mergeRows == 6 * 2 + 5)
    // the change set's checkpoint also runs the delete keys' anti join
    val (applyJobs, applyRows) = run(TxTable.applyChanges(spark, _, source,
      Seq(Tuple1(90L), Tuple1(95L)).toDF("id"), Seq("id")))
    info(s"jobs: mergeInto $intoJobs, merge $mergeJobs, applyChanges $applyJobs")
    assert(applyJobs <= 12, s"applyChanges started $applyJobs jobs")
    assert(applyRows == 1 + 6 * 2 + 5)
  }
}
