package graft

import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** Column rename: a copy-on-write overwrite with the renamed declared
  * schema — atomic, cdf=0 (no row changed), time-travel keeps old
  * names, and the guarded interactions (partition columns, CHECK
  * constraints, bloom configs) either refuse or follow correctly.
  */
class TxRenameSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_rename").toString + "/t"

  test("rename round-trips data; time travel reads the OLD name") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
    val v = TxTable.renameColumn(spark, dir, "name", "label")
    val now = TxTable.read(spark, dir)
    assert(now.columns.toSeq === Seq("id", "label"))
    assert(now.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a", 2L -> "b"))
    // the pre-rename version still reads under the old schema
    val old = TxTable.readVersion(spark, dir, v - 1)
    assert(old.columns.toSeq === Seq("id", "name"))
    // no row-level changes: the rename commit's change feed is empty
    assert(TxTable.readChanges(spark, dir, v - 1, v).count() === 0)
  }

  test("refusals: unknown, collision, partition column, constraint reference") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, 5L, "d1")).toDF("id", "qty", "day").coalesce(1),
      partitionCols = Seq("day"))
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, dir, "id", "qty")
    }
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, dir, "day", "dt")
    }
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, dir, "qty", "amount")
    }
    TxTable.dropConstraint(spark, dir, "qty_pos")
    // a BACKTICK-QUOTED reference must be caught too — missing it
    // would strand the constraint over a nonexistent column and wedge
    // every later data commit
    TxTable.addConstraint(spark, dir, "qty_pos_q", "`qty` > 0")
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, dir, "qty", "amount")
    }
    TxTable.dropConstraint(spark, dir, "qty_pos_q")
    // a quoted constraint over a DIFFERENT column must NOT block
    TxTable.addConstraint(spark, dir, "id_pos", "`id` > 0")
    TxTable.renameColumn(spark, dir, "qty", "amount")
    assert(TxTable.read(spark, dir).columns.toSet === Set("id", "amount", "day"))
  }

  test("a bloom config naming the column follows the rename and still prunes") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((0L, "seed")).toDF("id", "name").coalesce(1))
    TxTable.setBloomFilters(spark, dir, Seq("id"))
    (0 until 2).foreach { j =>
      TxTable.append(spark, dir,
        (0 until 50).map(i => (i * 4L + j, s"n$i")).toDF("id", "name").coalesce(1))
    }
    TxTable.renameColumn(spark, dir, "id", "doc_id")
    // the rewrite landed ONE file (overwrite); append residue-2 so a
    // probe under the NEW name exercises fresh blooms on the new files
    TxTable.append(spark, dir,
      (0 until 50).map(i => (i * 4L + 2, s"m$i")).toDF("doc_id", "name").coalesce(1))
    // 151 ≡ 3 (mod 4): in-range of every file, in no value set — only
    // blooms computed under the RENAMED config can prove absence
    val pruned = TxTable.readWhere(spark, dir, col("doc_id") === 151L)
    assert(pruned.collect().isEmpty)
    assert(pruned.inputFiles.isEmpty,
      "post-rename commits must carry blooms under the new name")
  }

  test("partitioned table: renaming a data column keeps the layout") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, 5L, "p0"), (2L, 6L, "p1")).toDF("id", "v", "day"),
      partitionCols = Seq("day"))
    TxTable.renameColumn(spark, dir, "v", "value")
    assert(TxTable.declaredPartitionCols(spark, dir) === Some(Seq("day")))
    val rows = TxTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows === Set((1L, 5L, "p0"), (2L, 6L, "p1")))
    // partition-path pruning still works post-rename
    assert(TxTable.readWhere(spark, dir, col("day") === "p0")
      .inputFiles.length === 1)
  }

  test("dropColumn narrows head; time travel keeps the column; cdf is empty") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "name", "v").coalesce(1))
    val v = TxTable.dropColumn(spark, dir, "name")
    val now = TxTable.read(spark, dir)
    assert(now.columns.toSeq === Seq("id", "v"))
    assert(now.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 5L, 2L -> 6L))
    // the pre-drop version still reads WITH the column
    val old = TxTable.readVersion(spark, dir, v - 1)
    assert(old.columns.toSeq === Seq("id", "name", "v"))
    assert(old.filter(col("id") === 1L).select("name")
      .collect().head.getString(0) === "a")
    // no row-level changes: the drop commit's change feed is empty
    assert(TxTable.readChanges(spark, dir, v - 1, v).count() === 0)
  }

  test("dropColumn refusals: unknown, partition column, last column, constraint") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, 5L, "d1")).toDF("id", "qty", "day").coalesce(1),
      partitionCols = Seq("day"))
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, dir, "nope")
    }
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, dir, "day")
    }
    TxTable.addConstraint(spark, dir, "qty_pos", "`qty` > 0")
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, dir, "qty")
    }
    TxTable.dropConstraint(spark, dir, "qty_pos")
    TxTable.dropColumn(spark, dir, "qty")
    assert(TxTable.read(spark, dir).columns.toSet === Set("id", "day"))
    // id is now the LAST DATA column of the day-partitioned table:
    // dropping it would leave only path-borne partition values (no
    // bytes to write) — must refuse with the real reason, up front
    val e = intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, dir, "id")
    }
    assert(e.getMessage.contains("last data"))
    // unpartitioned single-column table: same refusal
    intercept[IllegalArgumentException] {
      val d2 = tmp()
      TxTable.append(spark, d2, Seq(Tuple1(1L)).toDF("only").coalesce(1))
      TxTable.dropColumn(spark, d2, "only")
    }
  }

  test("a bloom/clustering config naming the dropped column loses it") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, 2L, "x")).toDF("id", "aux", "name").coalesce(1))
    TxTable.setBloomFilters(spark, dir, Seq("id", "aux"))
    TxTable.setClusteringColumns(spark, dir, Seq("id", "aux"))
    TxTable.dropColumn(spark, dir, "aux")
    assert(TxTable.clusteringColumns(spark, dir) === Seq("id"))
    // the surviving bloom column still prunes a fresh append
    TxTable.append(spark, dir,
      (0 until 50).map(i => (i * 2L + 10, s"n$i")).toDF("id", "name").coalesce(1))
    val probe = TxTable.readWhere(spark, dir, col("id") === 11L)
    assert(probe.collect().isEmpty && probe.inputFiles.isEmpty,
      "bloom config must survive the drop under the remaining columns")
    // dropping the LAST configured column drops both configs entirely
    val dir2 = tmp()
    TxTable.append(spark, dir2,
      Seq((1L, "x")).toDF("id", "name").coalesce(1))
    TxTable.setBloomFilters(spark, dir2, Seq("id"))
    TxTable.setClusteringColumns(spark, dir2, Seq("id"))
    TxTable.dropColumn(spark, dir2, "id")
    assert(TxTable.clusteringColumns(spark, dir2).isEmpty)
    assert(TxTable.read(spark, dir2).columns.toSeq === Seq("name"))
  }

  test("SQL spelling routes to the same rewrite") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "name").coalesce(1))
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN name TO label")
    assert(TxTable.read(spark, dir).columns.toSeq === Seq("id", "label"))
    assert(spark.sql(s"SELECT label FROM graft.`$dir`")
      .collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("a commit landing past the rename's pinned head aborts the rename") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "v").coalesce(1))
    // a CHECK constraint over a UDF is the hook inside the rename's write
    // job: its first call lets a racing append commit, then returns
    spark.udf.register("rename_race_gate", (_: Long) => RaceState.pauseOnce())
    RaceState.fired.set(true) // validating the constraint passes through
    TxTable.addConstraint(spark, dir, "gate", "rename_race_gate(id)")
    val pinned = TxTable.versions(spark, dir).last
    RaceState.reset()
    val racer = new Thread(() => {
      RaceState.started.await(30, java.util.concurrent.TimeUnit.SECONDS)
      TxTable.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
      RaceState.appended.countDown()
    })
    racer.start()
    val e = try intercept[java.util.ConcurrentModificationException] {
      TxTable.renameColumn(spark, dir, "v", "w")
    } finally racer.join(30000)
    assert(e.getMessage.contains(s"head advanced past $pinned"), e.getMessage)
    // the racer's row survives and the column keeps its name
    assert(TxTable.read(spark, dir).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"))
  }
}
