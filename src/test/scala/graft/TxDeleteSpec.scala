package graft

import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** Copy-on-write DELETE: SQL null semantics, rewrite set bounded by
  * stats pruning, untouched files carried verbatim, and time travel
  * retained until vacuum.
  */
class TxDeleteSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_del").toString + "/t"

  private def threeCommits(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq(0L, 10L, 20L).foreach { lo =>
      TxTable.append(spark, dir,
        (lo until lo + 10).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    }
  }

  test("delete removes TRUE rows, keeps FALSE and NULL rows") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.overwrite(spark, dir,
      Seq((1L, Some(1)), (2L, Some(2)), (3L, None)).toDF("id", "flag"))
    assert(TxTable.delete(spark, dir, col("flag") === 1).isDefined)
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L), "NULL-predicate rows must survive a DELETE")
  }

  test("stats bound the rewrite: only the file holding the needle is rewritten") {
    val dir = tmp()
    threeCommits(dir)
    val before = TxTable.read(spark, dir).inputFiles.toSet
    val v = TxTable.delete(spark, dir, col("id") === 15L)
    assert(v.contains(4L))
    val after = TxTable.read(spark, dir).inputFiles.toSet
    // the two untouched files carry over as the SAME physical files
    assert((before intersect after).size == 2,
      s"expected 2 carried files, before=$before after=$after")
    assert(TxTable.read(spark, dir).count() == 29)
    assert(TxTable.read(spark, dir).where(col("id") === 15L).count() == 0)
  }

  test("an OR predicate prunes per branch: only the two matching files rewritten") {
    // mayMatchLines keeps a disjunction whole; the Or/And recursion
    // in mayMatch must still skip the file neither branch can match
    val dir = tmp()
    threeCommits(dir) // three files: ids 0-9, 10-19, 20-29
    val before = TxTable.read(spark, dir).inputFiles.toSet
    val v = TxTable.delete(spark, dir,
      col("id") === 5L || col("id") === 25L)
    assert(v.nonEmpty)
    val after = TxTable.read(spark, dir).inputFiles.toSet
    // the middle file (10-19) matches neither branch and carries over
    assert((before intersect after).size == 1,
      s"expected 1 carried file, before=$before after=$after")
    assert(TxTable.read(spark, dir).count() == 28)
  }

  test("update and mergeInto refuse SET columns missing from the table") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.overwrite(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // a typo'd SET must error, not silently commit an unchanged table
    val e1 = intercept[IllegalArgumentException] {
      TxTable.update(spark, dir, col("id") === 1L,
        Map("vv" -> lit("x")))
    }
    assert(e1.getMessage.contains("vv"))
    val e2 = intercept[IllegalArgumentException] {
      TxTable.mergeInto(spark, dir, Seq((1L, "c")).toDF("id", "v"),
        Seq("id"), updateSet = Map("vv" -> lit("x")))
    }
    assert(e2.getMessage.contains("vv"))
    // the table is untouched either way
    assert(TxTable.read(spark, dir).orderBy("id")
      .collect().map(_.getString(1)).toSeq === Seq("a", "b"))
  }

  test("a predicate that can match nothing commits nothing") {
    val dir = tmp()
    threeCommits(dir)
    val head = TxTable.versions(spark, dir).last
    assert(TxTable.delete(spark, dir, col("id") === 999L).isEmpty)
    assert(TxTable.versions(spark, dir).last == head)
  }

  test("time travel still sees deleted rows until vacuum") {
    val dir = tmp()
    threeCommits(dir)
    val headBefore = TxTable.versions(spark, dir).last
    TxTable.delete(spark, dir, col("id") < 10L)
    assert(TxTable.read(spark, dir).count() == 20)
    assert(TxTable.readVersion(spark, dir, headBefore).count() == 30,
      "pre-delete snapshot must be intact")
    TxTable.vacuum(spark, dir, keepVersions = 1)
    assert(TxTable.read(spark, dir).count() == 20)
    intercept[Exception](TxTable.readVersion(spark, dir, headBefore).count())
  }

  test("vacuum spares young orphan data dirs (in-flight commits), reclaims committed ones") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    // v4: overwrite — the first three data dirs become dead but were
    // durably committed (their manifests exist until vacuum)
    TxTable.overwrite(spark, dir, Seq((99L, "z")).toDF("id", "v"))
    // simulate an IN-FLIGHT commit: data written, slot not yet claimed
    val orphan = new java.io.File(s"$dir/data/inflight-uuid")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "part-0.parquet").toPath, "pending")
    TxTable.vacuum(spark, dir, keepVersions = 1)
    assert(orphan.exists(),
      "a young unreferenced dir may be an in-flight commit — must survive")
    assert(TxTable.versions(spark, dir).size == 1,
      "old manifests still pruned")
    // the dead dirs of the DROPPED manifests were durably committed:
    // reclaimed immediately even though young (only the head's remains)
    assert(new java.io.File(s"$dir/data").listFiles().count(f =>
      f.getName != "inflight-uuid") == 1)
    // past the grace period the orphan is failed-commit debris: reclaimed
    TxTable.vacuum(spark, dir, keepVersions = 1, orphanGraceMs = 0L)
    assert(!orphan.exists())
  }

  test("merge with empty updates still enforces the transaction guard") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "v"),
      meta = Map("txn.src.mv" -> "5"))
    intercept[java.util.ConcurrentModificationException] {
      TxTable.merge(spark, dir, Seq.empty[(Long, String)].toDF("id", "v"),
        Seq("id"), guard = Map("txn.src.mv" -> 5L))
    }
  }

  test("readVersion reads an empty snapshot as an empty frame when schema is pinned") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = Seq((1L, "a")).toDF("id", "v")
    val schema = df.schema
    // a zero-row WRITE still produces one empty part file; a truly
    // file-less manifest comes from metadata-only commits — craft one
    new java.io.File(s"$dir/_txlog").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/_txlog/v00000000001.manifest"),
      "append deadbeef\n")
    val empty = TxTable.readVersion(spark, dir, 1L, schema = Some(schema))
    assert(empty.isEmpty)
    // names/types pin; nullability may be relaxed by createDataFrame
    assert(empty.schema.map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)))
    intercept[RuntimeException](TxTable.readVersion(spark, dir, 1L))
  }

  test("a string-null literal predicate neither prunes wrongly nor crashes") {
    val dir = tmp()
    threeCommits(dir)
    val out = TxTable.readWhere(spark, dir,
      col("v") === lit(null).cast("string"))
    assert(out.count() == 0, "=== null matches nothing, but must not NPE")
  }

  test("an Infinity bound disables that column's stats without losing the others") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, 1.0), (2L, Double.PositiveInfinity)).toDF("id", "x").coalesce(1))
    TxTable.append(spark, dir,
      Seq((10L, 3.0), (11L, 4.0)).toDF("id", "x").coalesce(1))
    val pruned = TxTable.readWhere(spark, dir, col("id") === 10L)
    assert(pruned.inputFiles.length == 1,
      "id stats must survive the Infinity in the x column")
    assert(pruned.count() == 1)
  }

  test("readChanges: appends insert file-granularly, DML row-level") {
    val dir = tmp()
    threeCommits(dir)                          // v1..v3: one file per commit
    TxTable.delete(spark, dir, col("id") === 5L) // v4: rewrites the 0-9 file
    // append-only window: inserts only, exactly the appended rows,
    // stamped with the commit version that added them
    val c13 = TxTable.readChanges(spark, dir, 1L, 3L)
    assert(c13.filter(col("_change_type") === "delete").isEmpty)
    assert(c13.filter(col("_change_type") === "insert")
      .collect().map(_.getLong(0)).sorted.toSeq == (10L until 30L))
    assert(c13.filter(col("_commit_version") === 2L)
      .collect().map(_.getLong(0)).sorted.toSeq == (10L until 20L))
    // the delete commit carries ROW-LEVEL change data: exactly the
    // deleted row, no carried-row churn from the rewritten file
    val c34 = TxTable.readChanges(spark, dir, 3L, 4L)
    val dels = c34.filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    assert(dels == Set(5L), "row-level CDF isolates the deleted row")
    assert(c34.filter(col("_change_type") =!= "delete").isEmpty,
      "carried rows of the rewritten file must NOT resurface")
    // untouched-window CDC is all-insert of the window's appends only —
    // files carried unchanged across versions never re-read
    assert(TxTable.readChanges(spark, dir, 2L, 3L)
      .filter(col("_change_type") === "insert").count() == 10)
  }

  test("restore rolls back to an exact prior snapshot as a new commit") {
    val dir = tmp()
    threeCommits(dir)                                   // v1..v3, 30 rows
    val v2 = TxTable.versions(spark, dir)(1)
    TxTable.delete(spark, dir, col("id") < 10L)         // v4, 20 rows
    val restored = TxTable.restore(spark, dir, v2)
    assert(restored == 5L)
    assert(TxTable.read(spark, dir).count() == 20,
      "head is exactly v2's snapshot (first two commits)")
    assert(TxTable.read(spark, dir).agg(max(col("id"))).head().getLong(0) == 19L)
    // history preserved: the delete's snapshot is still readable, and
    // the restore is itself undoable by restoring the delete version
    assert(TxTable.readVersion(spark, dir, 4L).count() == 20)
    assert(TxTable.readVersion(spark, dir, 4L)
      .agg(min(col("id"))).head().getLong(0) == 10L)
    TxTable.restore(spark, dir, 4L)
    assert(TxTable.read(spark, dir)
      .agg(min(col("id"))).head().getLong(0) == 10L)
    // vacuum keeps the restored head's files; a missing version throws
    TxTable.vacuum(spark, dir, keepVersions = 1)
    assert(TxTable.read(spark, dir).count() == 20)
    intercept[IllegalArgumentException](TxTable.restore(spark, dir, 2L))
  }

  test("restore re-emits carried txn offsets unchanged") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "v"),
      meta = Map("txn.src.mv" -> "7"))
    TxTable.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
    TxTable.restore(spark, dir, 1L)
    val head = TxTable.versions(spark, dir).last
    assert(TxTable.commitMeta(spark, dir, head).get("txn.src.mv")
      .contains("7"), "consumer offsets survive a restore")
  }

  test("a racing append between delete's analysis and its claim is never lost") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    RaceState.reset()
    val racer = new Thread(() => {
      RaceState.started.await(30, java.util.concurrent.TimeUnit.SECONDS)
      TxTable.append(spark, dir,
        Seq((100L, "raced")).toDF("id", "v").coalesce(1))
      RaceState.appended.countDown()
    })
    racer.start()
    // the UDF pauses the survivor write after delete's head analysis,
    // letting the racer commit a new version before delete's slot claim
    val gate = udf { (id: Long) =>
      if (RaceState.fired.compareAndSet(false, true)) {
        RaceState.started.countDown()
        RaceState.appended.await(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      id % 2 == 0
    }
    try {
      assert(TxTable.delete(spark, dir, gate(col("id"))).isDefined)
    } finally racer.join(30000)
    val out = TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L, 5L, 7L, 9L, 100L),
      s"evens deleted AND the raced append must survive, got $out")
  }

  test("delete on a partitioned table can preserve the partition layout") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "pt"),
      partitionCols = Seq("pt"))
    TxTable.delete(spark, dir, col("id") <= 4L, partitionCols = Seq("pt"))
    val remaining = TxTable.read(spark, dir)
    assert(remaining.count() == 16)
    assert(remaining.inputFiles.forall(_.contains("pt=")),
      "rewritten survivors must keep hive partition dirs")
  }
}

/** Keyed MERGE: matched keys replaced, unmatched inserted, rewrite set
  * bounded by the updates' key bounds, null keys insert-only.
  */
class TxMergeSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_mrg").toString + "/t"

  private def threeCommits(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq(0L, 10L, 20L).foreach { lo =>
      TxTable.append(spark, dir,
        (lo until lo + 10).map(i => (i, s"old$i")).toDF("id", "v").coalesce(1))
    }
  }

  test("merge updates matched keys and inserts new ones") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    TxTable.merge(spark, dir,
      Seq((15L, "NEW15"), (99L, "NEW99")).toDF("id", "v"), Seq("id"))
    val out = TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 31)
    assert(out(15L) == "NEW15" && out(99L) == "NEW99")
    assert(out(14L) == "old14", "unmatched rows untouched")
  }

  test("key bounds bound the rewrite to intersecting files") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    val before = TxTable.read(spark, dir).inputFiles.toSet
    TxTable.merge(spark, dir, Seq((15L, "NEW")).toDF("id", "v"), Seq("id"))
    val after = TxTable.read(spark, dir).inputFiles.toSet
    assert((before intersect after).size == 2,
      s"only the [10,19] file may be rewritten, before=$before after=$after")
  }

  test("null-key update rows insert; null-key existing rows survive") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.overwrite(spark, dir,
      Seq((Some(1L), "a"), (None, "nullrow")).toDF("id", "v"))
    TxTable.merge(spark, dir,
      Seq((Some(1L), "A2"), (Option.empty[Long], "inserted")).toDF("id", "v"),
      Seq("id"))
    val vals = TxTable.read(spark, dir).collect().map(_.getString(1)).sorted.toSeq
    assert(vals == Seq("A2", "inserted", "nullrow"),
      "matched key updated; both null-key rows present")
  }

  test("merge into an effectively-empty table inserts everything") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.overwrite(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    TxTable.delete(spark, dir, lit(true))
    TxTable.merge(spark, dir, Seq((7L, "x")).toDF("id", "v"), Seq("id"))
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("delete can carry meta in its OWN commit, under a sequence guard") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.overwrite(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      meta = Map("graft.test.seq" -> "1"))
    // meta and the row change land as one version: the head commit
    // carries both, and no intermediate version exists
    val v = TxTable.delete(spark, dir, col("id") === 1L,
      meta = Map("graft.test.seq" -> "2", "graft.test.note" -> "purged"),
      guard = Map("graft.test.seq" -> 2L))
    assert(v.isDefined)
    val m = TxTable.commitMeta(spark, dir, v.get)
    assert(m("graft.test.seq") === "2" && m("graft.test.note") === "purged")
    assert(TxTable.versions(spark, dir).last === v.get)
    // a guard the head has already reached aborts the delete — the
    // concurrent-writer protection append uses, now on the delete path
    val e = intercept[java.util.ConcurrentModificationException](
      TxTable.delete(spark, dir, col("id") === 2L,
        meta = Map("graft.test.seq" -> "2"),
        guard = Map("graft.test.seq" -> 2L)))
    assert(e.getMessage.contains("graft.test.seq"))
    // and the aborted delete changed nothing
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
  }
}

/** Expression UPDATE: CASE-WHEN rewrite of matching files only. */
class TxUpdateSpec extends SparkSpec {

  test("update rewrites matching rows, leaves NULL-predicate rows and other files") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upd").toString + "/t"
    Seq(0L, 10L).foreach { lo =>
      TxTable.append(spark, dir,
        (lo until lo + 10).map(i => (i, s"v$i", if (i == 3) None else Some(i)))
          .toDF("id", "v", "flag").coalesce(1))
    }
    val before = TxTable.read(spark, dir).inputFiles.toSet
    val v = TxTable.update(spark, dir, col("id") >= 10L && col("flag") > 10L,
      Map("v" -> concat(lit("UPD"), col("id").cast("string"))))
    assert(v.isDefined)
    val after = TxTable.read(spark, dir).inputFiles.toSet
    assert((before intersect after).size == 1, "file [0,9] must carry over")
    val out = TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(15L) == "UPD15" && out(5L) == "v5" && out(10L) == "v10",
      s"id 15 updated, id 5 other file, id 10 flag=10 not > 10: $out")
    assert(out(3L) == "v3", "NULL-predicate row must not update")
    // nothing can match → no commit
    val head = TxTable.versions(spark, dir).last
    assert(TxTable.update(spark, dir, col("id") === 999L,
      Map("v" -> lit("x"))).isEmpty)
    assert(TxTable.versions(spark, dir).last == head)
  }
}

/** Review-pass regression tests: UPDATE SET simultaneity, empty-merge
  * no-op, concurrent-rewrite conflict detection.
  */
class TxDmlEdgeSpec extends SparkSpec {

  test("interdependent SET expressions read the pre-update row") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((1L, 10L, 20L)).toDF("id", "a", "b"))
    TxTable.update(spark, dir, col("id") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    val r = TxTable.read(spark, dir).head()
    assert((r.getLong(1), r.getLong(2)) == ((20L, 10L)),
      "SET a=b, b=a must swap, not copy")
  }

  test("merge with an empty update set commits nothing") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    val head = TxTable.versions(spark, dir).last
    val v = TxTable.merge(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(v == head && TxTable.versions(spark, dir).last == head,
      "empty merge must not rewrite the table")
  }

  test("a rewrite racing another rewrite of the same file fails loudly, not silently") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_e").toString + "/t"
    TxTable.overwrite(spark, dir,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    RaceState.reset()
    val racer = new Thread(() => {
      RaceState.started.await(30, java.util.concurrent.TimeUnit.SECONDS)
      // the racer REWRITES the same file (delete) rather than appending
      TxTable.delete(spark, dir, col("id") === 9L)
      RaceState.appended.countDown()
    })
    racer.start()
    val gate = udf { (id: Long) =>
      if (RaceState.fired.compareAndSet(false, true)) {
        RaceState.started.countDown()
        RaceState.appended.await(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      id % 2 == 0
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        TxTable.delete(spark, dir, gate(col("id")))
      }
      assert(e.getMessage.contains("concurrent"))
    } finally racer.join(30000)
    // the winner's delete landed; the loser changed nothing
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 9L))
  }

  test("a mergeInto that loses its claim to a delete of a file it read aborts") {
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.racefs.impl", classOf[RaceFs].getName)
    val dir = "racefs://" +
      java.nio.file.Files.createTempDirectory("graft_e").toString + "/t"
    TxTable.append(spark, dir,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    // the delete rewrites the merge's one candidate file inside the
    // merge's claim, after the merge built its manifest on v1
    RaceFs.beforeNextManifest(TxTable.delete(spark, dir, col("id") === 9L))
    val e = intercept[java.util.ConcurrentModificationException] {
      TxTable.mergeInto(spark, dir, Seq((1L, "new")).toDF("id", "v"),
        Seq("id"), updateSet = Map("v" -> TxTable.src("v")))
    }
    assert(e.getMessage.contains("changed concurrently"), e.getMessage)
    assert(TxTable.versions(spark, dir) == Seq(1L, 2L))
    // the delete landed, and the merge neither updated nor resurrected
    assert(TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq ==
      (0L until 9L).map(i => (i, s"v$i")))
  }

  test("change-feed delete, update and compact on a flat table start 3 jobs each") {
    val s = spark
    import s.implicits._
    def flat(): String = {
      val dir =
        java.nio.file.Files.createTempDirectory("graft_e").toString + "/t"
      TxTable.append(spark, dir, (1L to 100L).map(i => (i, s"v$i", i))
        .toDF("id", "v", "x").coalesce(1))
      dir
    }
    val deleteJobs = jobsStartedBy(
      TxTable.delete(spark, flat(), col("id") === 50L))
    val updateJobs = jobsStartedBy(TxTable.update(spark, flat(),
      col("id") === 50L, Map("x" -> lit(-1L))))
    val compactJobs = jobsStartedBy(TxTable.compact(spark, flat()))
    info(s"jobs: delete $deleteJobs, update $updateJobs, compact $compactJobs")
    assert(deleteJobs == 3, s"delete started $deleteJobs jobs")
    assert(updateJobs == 3, s"update started $updateJobs jobs")
    assert(compactJobs == 3, s"compact started $compactJobs jobs")
  }
}

/** Latches for the delete-vs-append race test; top-level so the UDF
  * closure serializes (the latches are reached via this static object,
  * not captured).
  */
object RaceState {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var appended = new java.util.concurrent.CountDownLatch(1)
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    appended = new java.util.concurrent.CountDownLatch(1)
    fired.set(false)
  }
  /** The first call after [[reset]] opens `started` and waits for
    * `appended`; every other call passes straight through. True, so a
    * CHECK constraint over it always holds.
    */
  def pauseOnce(): Boolean = {
    if (fired.compareAndSet(false, true)) {
      started.countDown()
      appended.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    true
  }
}
