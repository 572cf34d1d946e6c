package graft

import graft.ops.{Sinks, TxTable}

/** Tx mode of the mutation sinks (VERDICT r3 "Next round" #1): the merge
  * plans of upsert/upsertPartitioned/compact publish through a TxTable
  * manifest commit instead of the non-atomic directory swap, so readers
  * racing a mutation always resolve a complete committed snapshot.
  */
class TxSinksSpec extends SparkSpec {

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("tx upsert merges like plain upsert and commits versions") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_upsert")
    Sinks.upsert(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq("id"), tx = true)
    Sinks.upsert(spark, dir, Seq((2L, "B2"), (3L, "c")).toDF("id", "v"),
      Seq("id"), tx = true)
    assert(TxTable.versions(spark, dir) == Seq(1L, 2L))
    val out = TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
  }

  test("tx upsert keeps rows a concurrent append commits mid-upsert") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_race")
    Sinks.upsert(spark, dir, Seq((1L, "a")).toDF("id", "v"), Seq("id"), tx = true)
    // upsert(tx) delegates to TxTable.merge, whose stats-bounded rewrite
    // only replaces the files it read — an append landing between the
    // head read and the claim survives the retry loop. Simulate the
    // interleave at its observable boundary: append, then upsert keys
    // that do NOT overlap the appended file's bounds.
    TxTable.append(spark, dir, Seq((100L, "racing")).toDF("id", "v"))
    Sinks.upsert(spark, dir, Seq((1L, "A2")).toDF("id", "v"), Seq("id"), tx = true)
    val out = TxTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "A2", 100L -> "racing"),
      "the racing append's row must survive the upsert rewrite")
  }

  test("replacePartitions aborts when the replaced partitions changed concurrently") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_rp")
    TxTable.append(spark, dir, Seq(("mon", 1L), ("tue", 2L)).toDF("day", "x"),
      partitionCols = Seq("day"))
    // a stale expectation (file set read before a concurrent commit)
    // must abort the replace instead of silently dropping the racer
    val e = intercept[java.util.ConcurrentModificationException] {
      TxTable.replacePartitions(spark, dir,
        Seq(("mon", 10L)).toDF("day", "x"), Seq("day"),
        expectUnchanged = Some(Set("stale/file")))
    }
    assert(e.getMessage.contains("changed concurrently"))
    // with the true current file set the replace proceeds
    val known = TxTable.read(spark, dir).inputFiles
      .filter(_.contains("day=mon"))
      .map(f => f.substring(f.indexOf("/data/") + 1)).toSet
    TxTable.replacePartitions(spark, dir,
      Seq(("mon", 10L)).toDF("day", "x"), Seq("day"),
      expectUnchanged = Some(known))
    val out = TxTable.read(spark, dir,
      schema = Some(Seq(("a", 1L)).toDF("day", "x").schema))
      .select("day", "x").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("mon" -> 10L, "tue" -> 2L))
  }

  test("tx upsert refuses a plain parquet dir (no silent mixed layout)") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_refuse")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    val e = intercept[RuntimeException] {
      Sinks.upsert(spark, dir, Seq((1L, "A")).toDF("id", "v"),
        Seq("id"), tx = true)
    }
    assert(e.getMessage.contains("not a TxTable"))
  }

  test("a reader racing tx upsert always sees a complete committed snapshot") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_race")
    Sinks.upsert(spark, dir, Seq((1L, "v0")).toDF("id", "v"), Seq("id"),
      tx = true)
    // committed states are fully known in advance: state i rewrites key 1
    // and appends key 100+i, so any torn/partial read (old table missing,
    // half-merged rows) falls outside this set
    val states: Seq[Map[Long, String]] = (0 to 4).map { i =>
      Map(1L -> s"v$i") ++ (1 to i).map(j => (100L + j) -> s"n$j").toMap
    }
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[Long, String]]()
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty)
        try seen.add(TxTable.read(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap)
        catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try
      (1 to 4).foreach { i =>
        Sinks.upsert(spark, dir,
          Seq((1L, s"v$i"), (100L + i, s"n$i")).toDF("id", "v"),
          Seq("id"), tx = true)
      }
    finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, s"reader failed mid-upsert: $failure")
    val observed = seen.toArray.map(_.asInstanceOf[Map[Long, String]]).toSet
    assert(observed.nonEmpty && observed.subsetOf(states.toSet),
      s"every read must be one full committed merge, saw $observed")
  }

  test("tx upsertPartitioned: one commit; untouched partitions keep their exact files") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_uppart")
    val base = Seq((1L, 10, "a"), (2L, 10, "b"), (3L, 20, "c"), (4L, 30, "d"))
      .toDF("id", "day", "v")
    Sinks.upsertPartitioned(spark, dir, base, Seq("id", "day"), Seq("day"),
      tx = true)
    def filesOf(part: String): Set[String] =
      TxTable.read(spark, dir).inputFiles.filter(_.contains(part)).toSet
    val before20 = filesOf("day=20")
    val before30 = filesOf("day=30")
    val before10 = filesOf("day=10")
    assert(before20.nonEmpty && before30.nonEmpty && before10.nonEmpty)

    // touch ONLY day=10 (replace id=2) and add a NEW partition day=40
    Sinks.upsertPartitioned(spark, dir,
      Seq((2L, 10, "B2"), (5L, 40, "e")).toDF("id", "day", "v"),
      Seq("id", "day"), Seq("day"), tx = true)

    assert(TxTable.versions(spark, dir) == Seq(1L, 2L),
      "the whole partition-bounded merge is ONE atomic commit")
    assert(filesOf("day=20") == before20,
      "day=20 keeps its exact files — never rewritten")
    assert(filesOf("day=30") == before30, "day=30 keeps its exact files")
    assert(filesOf("day=10").intersect(before10).isEmpty,
      "day=10 was replaced with freshly-written files")
    val out = TxTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d", 5L -> "e"))
    // time travel still shows the pre-merge table
    assert(TxTable.readVersion(spark, dir, 1).collect()
      .map(r => r.getAs[String]("v")).toSet == Set("a", "b", "c", "d"))
  }

  test("upsert refuses duplicate update keys in every mode") {
    val s = spark
    import s.implicits._
    val dup = Seq((1L, "x"), (1L, "y")).toDF("id", "v")
    // tx bootstrap, tx merge, and the plain path all enforce the
    // one-row-per-key contract — not just TxTable.merge
    val txDir = tmpTable("graft_up_dup_tx")
    intercept[IllegalArgumentException] {
      Sinks.upsert(spark, txDir, dup, Seq("id"), tx = true)
    }
    Sinks.upsert(spark, txDir, Seq((1L, "x")).toDF("id", "v"),
      Seq("id"), tx = true)
    intercept[IllegalArgumentException] {
      Sinks.upsert(spark, txDir, dup, Seq("id"), tx = true)
    }
    val plainDir = tmpTable("graft_up_dup_plain")
    intercept[IllegalArgumentException] {
      Sinks.upsert(spark, plainDir, dup, Seq("id"))
    }
    val partDir = tmpTable("graft_up_dup_part")
    val dupPart = Seq((1L, 10, "x"), (1L, 10, "y")).toDF("id", "day", "v")
    intercept[IllegalArgumentException] {
      Sinks.upsertPartitioned(spark, partDir, dupPart,
        Seq("id", "day"), Seq("day"), tx = true)
    }
  }

  test("partition-disjoint tx upsertPartitioned merges run concurrently without spurious aborts") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_uppart_conc")
    Sinks.upsertPartitioned(spark, dir,
      Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "day", "v"),
      Seq("id", "day"), Seq("day"), tx = true)
    // two writers each merge ONLY their own partition, repeatedly and
    // concurrently — the conflict scope is the affected partitions'
    // files, so neither may ever abort on the other's commits (the
    // whole-table scope this replaces did exactly that)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    def writer(day: Int): Future[Unit] = Future {
      (1 to 5).foreach { i =>
        Sinks.upsertPartitioned(spark, dir,
          Seq((day.toLong, day, s"v$i")).toDF("id", "day", "v"),
          Seq("id", "day"), Seq("day"), tx = true)
      }
    }
    Await.result(Future.sequence(Seq(writer(10), writer(20))), 120.seconds)
    val out = TxTable.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(out.toSeq === Seq((1L, "a"), (2L, "b"),
      (10L, "v5"), (20L, "v5")))
  }

  test("tx compact shrinks the head snapshot; pinned readers keep the old version") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_compact")
    TxTable.overwrite(spark,
      dir, (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
        .repartition(40))
    val before = TxTable.read(spark, dir).inputFiles.length
    assert(before >= 30, s"setup should create many files, got $before")
    val after = Sinks.compact(spark, dir, targetBytes = 512L * 1024, tx = true)
    assert(after < before / 4, s"$before files -> $after")
    val back = TxTable.read(spark, dir)
    assert(back.count() == 5000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).collect()
      .head.getLong(0) == 5000L * 5001 / 2)
    // compaction must not disturb a reader pinned to the old version
    assert(TxTable.readVersion(spark, dir, 1).count() == 5000)
  }

  test("upsertPartitioned pins partition types: leading-zero string partitions survive") {
    val s = spark
    import s.implicits._
    // partition values "07"/"10" re-infer as INTS from the directory
    // names; before the schema pin the prune filter matched nothing and
    // the swap dropped every pre-existing non-updated key in "07"
    val dir = tmpTable("graft_uppart_types")
    val base = Seq((1L, "07", "a"), (2L, "07", "b"), (3L, "10", "c"))
      .toDF("id", "day", "v")
    Sinks.upsertPartitioned(spark, dir, base, Seq("id", "day"), Seq("day"))
    Sinks.upsertPartitioned(spark, dir,
      Seq((2L, "07", "B2")).toDF("id", "day", "v"),
      Seq("id", "day"), Seq("day"))
    val out = spark.read.option("basePath", dir)
      .schema(base.schema).parquet(dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c"),
      "id=1 in day=07 must survive an upsert that touches day=07")
  }

  test("replacePartitions aborts when a racing append lands in a replaced partition that had no files") {
    val s = spark
    import s.implicits._
    val dir = tmpTable("graft_tx_rp_new")
    TxTable.append(spark, dir, Seq(("mon", 1L)).toDF("day", "x"),
      partitionCols = Seq("day"))
    // the files a mon+wed replace reads: mon's only, wed has none yet
    val known = TxTable.read(spark, dir).inputFiles
      .map(f => f.substring(f.indexOf("/data/") + 1)).toSet
    // a racing append into wed lands after that read
    TxTable.append(spark, dir, Seq(("wed", 9L)).toDF("day", "x"),
      partitionCols = Seq("day"))
    val e = intercept[java.util.ConcurrentModificationException] {
      TxTable.replacePartitions(spark, dir,
        Seq(("mon", 10L), ("wed", 10L)).toDF("day", "x"), Seq("day"),
        expectUnchanged = Some(known))
    }
    assert(e.getMessage.contains("changed concurrently"))
    val out = TxTable.read(spark, dir,
      schema = Some(Seq(("a", 1L)).toDF("day", "x").schema))
      .select("day", "x").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("mon" -> 1L, "wed" -> 9L), "the racing row survives")
  }

  test("string partition values that look numeric prune as strings") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpTable("graft_tx_strpart")
    TxTable.append(spark, dir,
      Seq((1L, "01"), (2L, "02"), (3L, "x")).toDF("id", "day"),
      partitionCols = Seq("day"))
    def filesFor(day: String): Set[String] =
      TxTable.readWhere(spark, dir, col("day") <=> day).inputFiles.toSet
    val all = TxTable.read(spark, dir).inputFiles.toSet
    for (day <- Seq("01", "02", "x")) {
      val kept = filesFor(day)
      assert(kept.nonEmpty && kept.forall(_.contains(s"day=$day/")),
        s"day <=> '$day' must keep only day=$day's files, kept $kept")
      assert(all.count(_.contains(s"day=$day/")) == kept.size)
    }
  }

  test("tx upsertPartitioned into day=01 and day=02 of a string-partitioned table both commit") {
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.racefs.impl", classOf[RaceFs].getName)
    val dir = "racefs://" + tmpTable("graft_tx_strpart_race")
    def upsert(id: Long, day: String, v: String): Unit =
      Sinks.upsertPartitioned(spark, dir, Seq((id, day, v)).toDF("id", "day", "v"),
        Seq("id", "day"), Seq("day"), tx = true)
    Seq((1L, "01", "a"), (2L, "02", "b"), (3L, "x", "c"))
      .foreach { case (id, day, v) => upsert(id, day, v) }
    // the day=02 upsert commits inside the day=01 upsert's claim, after
    // the latter's conflict scope (day=01's files alone) was read
    RaceFs.beforeNextManifest(upsert(2L, "02", "B"))
    upsert(1L, "01", "A")
    assert(TxTable.versions(spark, dir).size == 5)
    val out = TxTable.read(spark, dir).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "A", 2L -> "B", 3L -> "c"))
  }

  test("a string partition column whose values each land in their own tx commit reads back as a string") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpTable("graft_tx_strpart_types")
    Seq((1L, "01", "a"), (2L, "02", "b"), (3L, "x", "c")).foreach {
      case (id, day, v) => Sinks.upsertPartitioned(spark, dir,
        Seq((id, day, v)).toDF("id", "day", "v"), Seq("id", "day"),
        Seq("day"), tx = true)
    }
    val out = TxTable.read(spark, dir)
    assert(out.schema("day").dataType ==
      org.apache.spark.sql.types.StringType, out.schema.simpleString)
    assert(out.select("id", "day").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "01", 2L -> "02", 3L -> "x"))
    // an unpinned predicate read prunes day=01 as a string
    val kept = TxTable.readWhere(spark, dir, col("day") <=> "01").inputFiles
    assert(kept.nonEmpty && kept.forall(_.contains("day=01/")),
      kept.mkString(", "))
  }
}
