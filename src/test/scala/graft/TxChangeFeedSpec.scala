package graft

import org.apache.spark.sql.functions._

import graft.ops.TxTable
import graft.streaming.TxFollower

/** Row-level change data feed: MERGE/UPDATE/DELETE commits expose
  * exactly their changed rows (insert / update_preimage /
  * update_postimage / delete), layout commits expose none, and the
  * feed reconciles — base snapshot + changes = head snapshot — so an
  * incremental consumer downstream of row-level DML stays exactly-once.
  */
class TxChangeFeedSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_cdf").toString + "/t"

  private def seed(dir: String): Unit = {
    val s = spark
    import s.implicits._
    // two files so DML pruning/carrying is exercised
    TxTable.append(spark, dir,
      (0L until 10L).map(i => (i, i * 100)).toDF("id", "x").coalesce(1))
    TxTable.append(spark, dir,
      (10L until 20L).map(i => (i, i * 100)).toDF("id", "x").coalesce(1))
  }

  test("UPDATE emits matched pre/postimages only") {
    val dir = tmp()
    seed(dir)
    TxTable.update(spark, dir, col("id") % 10 === 3,
      Map("x" -> (col("x") + 1)))
    val c = TxTable.readChanges(spark, dir, 2L, 3L)
    val pre = c.filter(col("_change_type") === "update_preimage")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val post = c.filter(col("_change_type") === "update_postimage")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pre == Set((3L, 300L), (13L, 1300L)))
    assert(post == Set((3L, 301L), (13L, 1301L)))
    assert(c.count() == 4, "unmatched rows must not appear in the feed")
  }

  test("MERGE tags preimage/postimage for matches and insert for new keys") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    val updates = Seq((5L, -1L), (15L, -2L), (100L, -3L))
      .toDF("id", "x")
    TxTable.merge(spark, dir, updates, Seq("id"))
    val c = TxTable.readChanges(spark, dir, 2L, 3L)
    def ids(t: String) = c.filter(col("_change_type") === t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids("update_preimage") == Set((5L, 500L), (15L, 1500L)))
    assert(ids("update_postimage") == Set((5L, -1L), (15L, -2L)))
    assert(ids("insert") == Set((100L, -3L)))
    assert(c.count() == 5)
  }

  test("OPTIMIZE and compact are row-change-free commits") {
    val dir = tmp()
    seed(dir)
    TxTable.compact(spark, dir, targetBytes = 1L << 20)
    TxTable.optimize(spark, dir, Seq("id"))
    val c = TxTable.readChanges(spark, dir, 2L,
      TxTable.versions(spark, dir).last)
    assert(c.isEmpty,
      "layout rewrites are data-identical — zero change-feed rows")
  }

  test("the feed reconciles: base + changes = head, across a DML mix") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)                                             // v1, v2
    TxTable.merge(spark, dir,
      Seq((1L, -10L), (99L, -99L)).toDF("id", "x"), Seq("id")) // v3
    TxTable.delete(spark, dir, col("id") === 7L)          // v4
    TxTable.update(spark, dir, col("id") === 99L,
      Map("x" -> lit(-100L)))                             // v5
    val base = TxTable.readVersion(spark, dir, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val changes = TxTable.readChanges(spark, dir, 2L, 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // replay: per key, apply changes in version order
    val byKey = changes.groupBy(_._1)
    val replayed = (base.map(_._1) ++ byKey.keySet).flatMap { k =>
      val ops = byKey.getOrElse(k, Array.empty).sortBy(_._4)
      val last = ops.reverse.find(o =>
        o._3 == "insert" || o._3 == "update_postimage" || o._3 == "delete")
      last match {
        case Some((_, x, "insert", _)) => Some((k, x))
        case Some((_, x, "update_postimage", _)) => Some((k, x))
        case Some((_, _, "delete", _)) => None
        case _ => base.find(_._1 == k) // untouched key
      }
    }
    val head = TxTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed == head, "change-feed replay must equal the snapshot")
  }

  test("vacuum reclaims change dirs of dropped manifests, keeps live ones") {
    val dir = tmp()
    seed(dir)
    TxTable.delete(spark, dir, col("id") === 1L)  // v3, writes _changes/<a>
    TxTable.delete(spark, dir, col("id") === 2L)  // v4, writes _changes/<b>
    val root = new java.io.File(dir, "_changes")
    assert(root.listFiles().length == 2)
    // keep v4 only: v3's change dir was committed-then-dropped → gone now
    TxTable.vacuum(spark, dir, keepVersions = 1)
    assert(root.listFiles().length == 1,
      "dropped manifest's change dir reclaimed, live one kept")
    // the surviving feed still reads
    assert(TxTable.readChanges(spark, dir, 3L, 4L)
      .filter(col("_change_type") === "delete").count() == 1)
  }

  test("applyChanges lands upserts and deletes in ONE commit") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    val before = TxTable.versions(spark, dir).last
    TxTable.applyChanges(spark, dir,
      upserts = Seq((5L, -5L), (200L, -200L)).toDF("id", "x"),
      deleteKeys = Seq(Tuple1(7L)).toDF("id"),
      keyCols = Seq("id"))
    assert(TxTable.versions(spark, dir).last == before + 1,
      "one atomic commit for the whole change set")
    val head = TxTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(head(5L) == -5L, "upsert replaced the matched row")
    assert(head(200L) == -200L, "new key inserted")
    assert(!head.contains(7L), "deleted key removed")
    assert(head.size == 20, "19 original + 1 insert - 1 delete + 0")
    // the commit carries its own row-level feed (replica-of-replica safe)
    val feed = TxTable.readChanges(spark, dir, before, before + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set(
      (5L, 500L, "update_preimage"), (5L, -5L, "update_postimage"),
      (200L, -200L, "insert"), (7L, 700L, "delete")),
      s"applyChanges feed must be row-level, got $feed")
  }

  test("the feed survives schema evolution (mergeSchema union)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))   // v1
    val cur = TxTable.read(spark, dir).schema
    TxTable.evolveSchema(spark, dir, org.apache.spark.sql.types.StructType(
      cur :+ org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))               // v2
    TxTable.merge(spark, dir,
      Seq((2L, "B", 0.5), (3L, "c", 0.9)).toDF("id", "v", "score"),
      Seq("id"), mergeSchema = true)                           // v3
    val c = TxTable.readChanges(spark, dir, 0L, 3L, mergeSchema = true)
    // v1's inserts surface score as null; v3's rows carry it
    val v1 = c.filter(col("_commit_version") === 1L).collect()
    assert(v1.length == 2 &&
      v1.forall(r => r.isNullAt(r.fieldIndex("score"))),
      "pre-evolution inserts surface the added column as null")
    assert(c.filter(col("_commit_version") === 3L).count() == 3,
      "merge feed: preimage(id=2) + postimage(id=2) + insert(id=3)")
    assert(c.filter(col("_change_type") === "insert")
      .filter(col("_commit_version") === 3L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("applyChanges with an empty change set advances meta only") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    val empty = Seq.empty[(Long, Long)].toDF("id", "x")
    val v = TxTable.applyChanges(spark, dir, empty, empty.select("id"),
      Seq("id"), meta = Map("txn.off" -> "9"))
    assert(TxTable.commitMeta(spark, dir, v).get("txn.off").contains("9"))
    assert(TxTable.read(spark, dir).count() == 20, "no data rewritten")
  }

  test("processChanges keeps a keyed replica exact under MERGE+DELETE") {
    val s = spark
    import s.implicits._
    val src = tmp()
    val dst = tmp()
    seed(src)
    // initial materialization (file-granular inserts)
    assert(TxFollower.processChanges(spark, src, dst, "rep", Seq("id"))
      .contains(2L))
    assert(TxTable.read(spark, dst).count() == 20)
    // a MERGE (update + insert), a DELETE, another MERGE on the source
    TxTable.merge(spark, src,
      Seq((3L, -3L), (300L, -300L)).toDF("id", "x"), Seq("id"))
    TxTable.delete(spark, src, col("id") === 3L || col("id") === 11L)
    TxTable.merge(spark, src,
      Seq((11L, -11L), (4L, -4L)).toDF("id", "x"), Seq("id"))
    assert(TxFollower.processChanges(spark, src, dst, "rep", Seq("id"))
      .contains(5L))
    // the replica equals a batch recompute of the source head
    val want = TxTable.read(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = TxTable.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "replica must equal batch recompute after DML")
    // caught up: no-op
    assert(TxFollower.processChanges(spark, src, dst, "rep", Seq("id")).isEmpty)
    // replay safety: a second follower instance racing the same window
    // is refused by the guard (simulated by resetting nothing — the
    // offset already says 5, so a stale run sees head<=from)
    assert(TxFollower.processedVersion(spark, dst, "rep").contains(5L))
  }

  test("mergeInto: conditional update/delete/insert clauses, Delta semantics") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // target: (id, status, x)
    TxTable.append(spark, dir, Seq(
      (1L, "open", 10L), (2L, "closed", 20L), (3L, "open", 30L),
      (4L, "open", 40L)).toDF("id", "status", "x").coalesce(1))
    // source matches 1 (open → update), 2 (closed → delete), and
    // 3 (open but src gate fails → carried). The source schema differs
    // from the table's, so the insert clause is off (inserts require a
    // name-aligned source, like merge)
    val source = Seq(
      (1L, 100L, true), (2L, 200L, true), (3L, 300L, false),
      (9L, 900L, true)).toDF("id", "sx", "apply")
    TxTable.mergeInto(spark, dir, source, Seq("id"),
      updateWhen = Some(col("status") === "open" && TxTable.src("apply")),
      updateSet = Map("x" -> (TxTable.src("sx") + col("x"))),
      deleteWhen = Some(col("status") === "closed"),
      insertUnmatched = false)
    val got = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // 1: updated to src_sx + old x = 110; 2: deleted; 3: gate false →
    // carried; 4: unmatched → carried; 9: no insert clause → dropped
    assert(got.exists(t => t._1 == 1L && t._3 == 110L),
      s"clause update must read pre-row and source: $got")
    assert(!got.exists(_._1 == 2L), "matched closed row deleted")
    assert(got.exists(t => t._1 == 3L && t._3 == 30L), "gated row carried")
    assert(got.exists(t => t._1 == 4L && t._3 == 40L), "unmatched carried")
    assert(!got.exists(_._1 == 9L), "no insert clause → source-only key dropped")
  }

  test("mergeInto: insert alignment, duplicate-source rejection, CDF") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq(
      (1L, 10L), (2L, 20L)).toDF("id", "x").coalesce(1))
    // source schema == table schema → inserts align by name
    TxTable.mergeInto(spark, dir,
      Seq((2L, -2L), (7L, 70L), (8L, 80L)).toDF("id", "x"), Seq("id"),
      updateWhen = Some(lit(true)),
      updateSet = Map("x" -> TxTable.src("x")),
      insertWhen = Some(col("x") > 75L))  // gates INSERTS only (8, not 7)
    val got = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 10L, 2L -> -2L, 8L -> 80L),
      s"update-all + gated insert: $got")
    // the commit carries a row-level feed
    val v = TxTable.versions(spark, dir).last
    val feed = TxTable.readChanges(spark, dir, v - 1, v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((2L, 20L, "update_preimage"),
      (2L, -2L, "update_postimage"), (8L, 80L, "insert")), s"feed: $feed")
    // duplicate source keys are rejected (nondeterministic match)
    val e = intercept[IllegalArgumentException] {
      TxTable.mergeInto(spark, dir,
        Seq((1L, 1L), (1L, 2L)).toDF("id", "x"), Seq("id"),
        updateWhen = Some(lit(true)),
        updateSet = Map("x" -> TxTable.src("x")))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("null-safe merge prunes zero-null-key files, rewrites null holders") {
    val s = spark
    import s.implicits._
    for (apply <- Seq(false, true)) withClue(s"applyChanges=$apply: ") {
      val dir = tmp()
      // file A: keys 0-9 (no nulls); file B: a null key + 100-109;
      // file C: keys 200-209 (no nulls, far outside the update bounds)
      TxTable.append(spark, dir,
        (0L until 10L).map(i => (Some(i), i)).toDF("k", "v").coalesce(1))
      TxTable.append(spark, dir,
        ((100L until 110L).map(i => (Some(i), i)) :+ ((None: Option[Long], -7L)))
          .toDF("k", "v").coalesce(1))
      TxTable.append(spark, dir,
        (200L until 210L).map(i => (Some(i), i)).toDF("k", "v").coalesce(1))
      val before = TxTable.read(spark, dir).inputFiles.toSet
      // null-safe merge: one null-key update (the null group is a group)
      // and one in-bounds update
      val updates =
        Seq((Some(5L), -5L), (None: Option[Long], -1L)).toDF("k", "v")
      if (apply) TxTable.applyChanges(spark, dir, updates,
        Seq(Tuple1(Some(7L))).toDF("k"), Seq("k"), nullSafeKeys = true)
      else TxTable.merge(spark, dir, updates, Seq("k"), nullSafeKeys = true)
      val after = TxTable.read(spark, dir).inputFiles.toSet
      // file C can hold neither key 5 nor a null key → carried verbatim
      assert((before intersect after).size == 1,
        s"zero-null-key file outside bounds must carry: before=$before after=$after")
      val got = TxTable.read(spark, dir).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1))).toMap
      assert(got(Some(5L)) == -5L && got(None) == -1L,
        "null-safe merge replaced both the null group and key 5")
      assert(got.size == (if (apply) 30 else 31), "no duplicates, no lost rows")
    }
  }

  test("changeFeed=false skips capture; readers fall back to file-granular") {
    val dir = tmp()
    seed(dir)
    TxTable.delete(spark, dir, col("id") === 5L, changeFeed = false)
    assert(!new java.io.File(dir, "_changes").exists(),
      "no change files written when the feed is off")
    // the fallback is honest coarseness: the rewritten file's rows
    // churn as delete+insert instead of one row-level delete
    val c = TxTable.readChanges(spark, dir, 2L, 3L)
    val dels = c.filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    val ins = c.filter(col("_change_type") === "insert")
      .collect().map(_.getLong(0)).toSet
    assert(dels == (0L until 10L).toSet && ins == dels - 5L,
      "file-granular fallback: old file deletes, surviving rows insert")
  }

  test("a partition predicate bounds the DML rewrite to that partition") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.replacePartitions(spark, dir,
      (0L until 20L).map(i => (i, i % 4)).toDF("id", "pt"), Seq("pt"))
    val before = TxTable.read(spark, dir).inputFiles.toSet
    TxTable.delete(spark, dir, col("pt") === 2, Seq("pt"))
    val after = TxTable.read(spark, dir).inputFiles.toSet
    // only partition pt=2's files were rewritten; every other
    // partition's files carried over as the SAME physical files
    val pt2 = before.filter(_.contains("pt=2"))
    assert(pt2.nonEmpty && (before -- pt2).subsetOf(after),
      s"non-matching partitions must carry verbatim: before=$before after=$after")
    assert((after intersect pt2).isEmpty, "pt=2's files replaced")
    assert(TxTable.read(spark, dir).where(col("pt") === 2).count() == 0)
    assert(TxTable.read(spark, dir).count() == 15)
  }

  test("concurrent CREATE: exactly one creator wins, loser errors") {
    val dir = tmp()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 4).map(_ => Future {
      scala.util.Try(TxTable.create(spark, dir, schema)).isSuccess
    })), 60.seconds)
    assert(results.count(identity) == 1,
      s"exactly one concurrent CREATE must win, got $results")
    assert(TxTable.versions(spark, dir) == Seq(1L),
      "the loser must not land a second create commit")
  }

  test("replica survives file-granular same-version delete/insert ties") {
    val s = spark
    import s.implicits._
    val src = tmp()
    val dst = tmp()
    seed(src)
    assert(TxFollower.processChanges(spark, src, dst, "rep", Seq("id"))
      .contains(2L))
    // changeFeed=false DML falls back to file-granular: the rewritten
    // file's surviving rows appear as BOTH 'delete' and 'insert' at
    // the SAME commit version. The replica must deterministically keep
    // every row present in the post-snapshot — 'delete' loses ties.
    TxTable.delete(spark, src, col("id") === 5L, changeFeed = false)
    assert(TxFollower.processChanges(spark, src, dst, "rep", Seq("id"))
      .contains(3L))
    val want = TxTable.read(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = TxTable.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"replica diverged on same-version ties: missing=${want -- got} " +
      s"extra=${got -- want}")
  }

  test("mergeInto: updateSet without updateWhen updates unconditionally") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, 10L), (2L, 20L))
      .toDF("id", "x").coalesce(1))
    // Delta's `WHEN MATCHED THEN UPDATE` has no AND-condition —
    // omitting updateWhen must mean "always", never a silent no-op
    TxTable.mergeInto(spark, dir,
      Seq((1L, -1L), (7L, 70L)).toDF("id", "x"), Seq("id"),
      updateSet = Map("x" -> TxTable.src("x")))
    val got = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> -1L, 2L -> 20L, 7L -> 70L),
      s"unconditional matched update + unmatched insert expected: $got")
  }

  test("applyChanges overlap: upsert wins in data AND the feed") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    // key 3 is both upserted and deleted — the data keeps the upsert,
    // so the feed must NOT emit a delete for it (a replica applying
    // the feed would otherwise drop a row the source kept)
    val v = TxTable.applyChanges(spark, dir,
      upserts = Seq((3L, -3L), (99L, -99L)).toDF("id", "x"),
      deleteKeys = Seq(Tuple1(3L), Tuple1(4L)).toDF("id"),
      keyCols = Seq("id"))
    val head = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(head.get(3L).contains(-3L) && !head.contains(4L) &&
      head.get(99L).contains(-99L), s"upsert-wins data: $head")
    val dels = TxTable.readChanges(spark, dir, v - 1, v)
      .where(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    assert(dels == Set(4L),
      s"feed must only delete keys the data dropped: $dels")
  }

  test("mergeInto: deleteBySourceWhen removes source-absent rows in the SAME commit") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq(
      (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "x").coalesce(1))
    val v0 = TxTable.versions(spark, dir).last
    // source: update 2, insert 9; 1/3/4 are source-absent — the
    // by-source condition keeps 3 (x >= 30 fails only for 1)
    TxTable.mergeInto(spark, dir,
      Seq((2L, -2L), (9L, 90L)).toDF("id", "x"), Seq("id"),
      updateWhen = Some(lit(true)),
      updateSet = Map("x" -> TxTable.src("x")),
      deleteBySourceWhen = Some(col("x") < 30L))
    val got = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(2L -> -2L, 3L -> 30L, 4L -> 40L, 9L -> 90L),
      s"update + insert + conditional by-source delete: $got")
    // ONE commit for the whole statement
    val v1 = TxTable.versions(spark, dir).last
    assert(v1 == v0 + 1, "by-source merge must be a single atomic commit")
    // the feed carries the by-source delete as a row-level delete
    val feed = TxTable.readChanges(spark, dir, v0, v1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((2L, 20L, "update_preimage"),
      (2L, -2L, "update_postimage"), (9L, 90L, "insert"),
      (1L, 10L, "delete")), s"feed: $feed")
  }

  test("mergeInto: updateBySourceSet marks source-absent rows; CDF carries pre/post") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq(
      (1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x").coalesce(1))
    val v0 = TxTable.versions(spark, dir).last
    // source matches 2 only; 1 and 3 are source-absent → x negated
    // (values read the target row alone — no src_ columns exist there)
    TxTable.mergeInto(spark, dir,
      Seq((2L, -2L)).toDF("id", "x"), Seq("id"),
      updateWhen = Some(lit(true)),
      updateSet = Map("x" -> TxTable.src("x")),
      updateBySourceWhen = Some(col("x") >= 30L),
      updateBySourceSet = Map("x" -> -col("x")))
    val got = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 10L, 2L -> -2L, 3L -> -30L),
      s"matched update + conditional by-source update: $got")
    val feed = TxTable.readChanges(spark, dir, v0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((2L, 20L, "update_preimage"),
      (2L, -2L, "update_postimage"), (3L, 30L, "update_preimage"),
      (3L, -30L, "update_postimage")), s"feed: $feed")
  }

  test("mergeInto: by-source delete with an EMPTY source clears matching rows") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq(
      (1L, 10L), (2L, 20L)).toDF("id", "x").coalesce(1))
    // an empty source is NOT a no-op under a by-source clause: every
    // row is unmatched (the replicate-empty-snapshot degenerate case)
    TxTable.mergeInto(spark, dir,
      Seq.empty[(Long, Long)].toDF("id", "x"), Seq("id"),
      insertUnmatched = false,
      deleteBySourceWhen = Some(lit(true)))
    assert(TxTable.read(spark, dir).isEmpty,
      "unconditional by-source delete over an empty source empties the table")
  }

  test("evolveSchema refuses narrowing a nullable column to non-null") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, Some("a")), (2L, None))
      .toDF("id", "v"))
    val cur = TxTable.read(spark, dir).schema
    val narrowed = org.apache.spark.sql.types.StructType(cur.map(f =>
      if (f.name == "v") f.copy(nullable = false) else f))
    val e = intercept[IllegalArgumentException] {
      TxTable.evolveSchema(spark, dir, narrowed)
    }
    assert(e.getMessage.contains("non-nullable"))
  }
}
