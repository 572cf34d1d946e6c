package graft

import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** Table-level CHECK constraints: declared as carried manifest meta,
  * enforced on every data commit, counted inside its write job — a
  * violating commit must throw, clean up, and leave the table exactly
  * as it was. SQL semantics throughout: NULL passes, only FALSE
  * violates.
  */
class TxConstraintsSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_check").toString + "/t"

  private def seed(dir: String): Unit = {
    val s = spark
    import s.implicits._
    TxTable.append(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "qty").coalesce(1))
  }

  test("add + enforce: a violating append throws and commits nothing") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    assert(TxTable.constraints(spark, dir) === Map("qty_pos" -> "qty > 0"))
    val headBefore = TxTable.versions(spark, dir).last
    val e = intercept[IllegalStateException] {
      TxTable.append(spark, dir,
        Seq((3L, 5L), (4L, -1L)).toDF("id", "qty").coalesce(1))
    }
    assert(e.getMessage.contains("qty_pos"))
    assert(TxTable.versions(spark, dir).last === headBefore)
    assert(TxTable.read(spark, dir).count() === 2)
    // valid rows still flow; NULL passes (SQL CHECK)
    TxTable.append(spark, dir,
      Seq((5L, Some(7L)), (6L, None)).toDF("id", "qty").coalesce(1))
    assert(TxTable.read(spark, dir).count() === 4)
  }

  test("existing rows must satisfy a new constraint; non-boolean refused") {
    val dir = tmp()
    seed(dir)
    val e = intercept[IllegalArgumentException] {
      TxTable.addConstraint(spark, dir, "small", "qty < 15")
    }
    assert(e.getMessage.contains("1 existing"))
    intercept[IllegalArgumentException] {
      TxTable.addConstraint(spark, dir, "notbool", "qty + 1")
    }
    intercept[IllegalArgumentException] {
      TxTable.addConstraint(spark, dir, "bad name!", "qty > 0")
    }
  }

  test("DML rewrites are enforced; drop re-allows") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    // an UPDATE whose SET values violate must be rejected whole
    intercept[IllegalStateException] {
      TxTable.update(spark, dir, col("id") === 1L,
        Map("qty" -> lit(-5L)))
    }
    assert(TxTable.read(spark, dir).where(col("qty") < 0).count() === 0)
    // a MERGE inserting a violating row likewise
    intercept[IllegalStateException] {
      TxTable.merge(spark, dir,
        Seq((9L, -2L)).toDF("id", "qty"), Seq("id"))
    }
    TxTable.dropConstraint(spark, dir, "qty_pos")
    assert(TxTable.constraints(spark, dir) === Map.empty)
    TxTable.update(spark, dir, col("id") === 1L, Map("qty" -> lit(-5L)))
    assert(TxTable.read(spark, dir).where(col("qty") < 0).count() === 1)
    intercept[IllegalArgumentException] {
      TxTable.dropConstraint(spark, dir, "qty_pos") // already gone
    }
  }

  test("constraints survive unrelated commits (carried meta)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    TxTable.append(spark, dir, Seq((7L, 70L)).toDF("id", "qty").coalesce(1))
    TxTable.delete(spark, dir, col("id") === 2L)
    assert(TxTable.constraints(spark, dir) === Map("qty_pos" -> "qty > 0"))
    intercept[IllegalStateException] {
      TxTable.append(spark, dir, Seq((8L, 0L)).toDF("id", "qty").coalesce(1))
    }
  }

  test("a constraint on an evolved column passes old-schema appends (nulls)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    val evolved = org.apache.spark.sql.types.StructType(
      TxTable.read(spark, dir).schema.fields :+
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true))
    TxTable.evolveSchema(spark, dir, evolved)
    TxTable.addConstraint(spark, dir, "score_band",
      "score >= 0.0 AND score <= 1.0")
    // old-shape rows carry score = null → CHECK passes
    TxTable.append(spark, dir, Seq((3L, 30L)).toDF("id", "qty").coalesce(1))
    assert(TxTable.read(spark, dir, mergeSchema = true).count() === 3)
    intercept[IllegalStateException] {
      TxTable.append(spark, dir,
        Seq((4L, 40L, 1.5)).toDF("id", "qty", "score").coalesce(1))
    }
  }

  test("the V2 streaming sink enforces constraints; table stays clean") {
    val s = spark
    import s.implicits._
    val src = tmp()
    val dst = tmp()
    val cp = java.nio.file.Files.createTempDirectory("graft_check_cp")
      .toString
    TxTable.append(spark, src, Seq((1L, 10L)).toDF("id", "qty"))
    seed(dst)
    TxTable.addConstraint(spark, dst, "qty_pos", "qty > 0")
    def stream(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", cp).start(dst)
      try { q.processAllAvailable() } finally q.stop()
    }
    stream() // valid rows flow
    assert(TxTable.read(spark, dst).count() === 3)
    TxTable.append(spark, src, Seq((2L, -5L)).toDF("id", "qty"))
    val before = TxTable.versions(spark, dst).last
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      stream()
    }
    assert(e.getMessage.contains("qty_pos") ||
      Option(e.getCause).exists(_.getMessage.contains("qty_pos")))
    assert(TxTable.versions(spark, dst).last === before,
      "a violating micro-batch must not commit")
    assert(TxTable.read(spark, dst).where(col("qty") < 0).count() === 0)
  }

  test("racing ADD CONSTRAINT vs appends can never strand violating rows") {
    val s = spark
    import s.implicits._
    // invariant under ANY interleaving: if the constraint is active in
    // the final head, no violating row exists. Closed by two checks:
    // data commits abort when the constraint set moved under them
    // (fingerprint in the claim loop), ADD aborts+revalidates when the
    // head moved during its validation scan (pinned head version).
    (1 to 3).foreach { round =>
      val dir = tmp()
      seed(dir)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val results = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String =
            try {
              if (i == 0) {
                TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
                "added"
              } else {
                TxTable.append(spark, dir,
                  Seq((100L * round + i, -i.toLong))
                    .toDF("id", "qty").coalesce(1))
                "appended"
              }
            } catch {
              case _: IllegalStateException => "rejected" // CHECK
              case _: java.util.ConcurrentModificationException => "conflict"
              case e: IllegalArgumentException
                  if e.getMessage.contains("existing rows violate") =>
                "validation_failed"
            }
        })
      }
      pool.shutdown()
      val outcomes = results.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      val active = TxTable.constraints(spark, dir).contains("qty_pos")
      val violating = TxTable.read(spark, dir).where(col("qty") <= 0).count()
      assert(!active || violating === 0L,
        s"round $round: constraint active with $violating violating rows " +
          s"(outcomes: ${outcomes.mkString(",")})")
    }
  }

  test("SQL spellings: ADD/DROP CONSTRAINT and enforced INSERT") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    spark.sql(
      s"ALTER TABLE graft.`$dir` ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    assert(TxTable.constraints(spark, dir) === Map("qty_pos" -> "qty > 0"))
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$dir` VALUES (9, -1)")
    }
    assert(e.getMessage.contains("qty_pos") ||
      Option(e.getCause).exists(_.getMessage.contains("qty_pos")))
    spark.sql(s"ALTER TABLE graft.`$dir` DROP CONSTRAINT qty_pos")
    assert(TxTable.constraints(spark, dir) === Map.empty)
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (9, -1)")
    assert(TxTable.read(spark, dir).count() === 3)
  }

  test("constraints are counted inside the write job; ADD CONSTRAINT is one job") {
    val s = spark
    import s.implicits._
    val plain = tmp(); seed(plain)
    val checked = tmp(); seed(checked)
    TxTable.addConstraint(spark, checked, "qty_pos", "qty > 0")
    TxTable.addConstraint(spark, checked, "id_pos", "id > 0")
    val rows = Seq((3L, 30L), (4L, 40L)).toDF("id", "qty").coalesce(1)
    val plainJobs = jobsStartedBy(TxTable.append(spark, plain, rows))
    val checkedJobs = jobsStartedBy(TxTable.append(spark, checked, rows))
    assert(checkedJobs === plainJobs)
    assert(TxTable.read(spark, checked).count() === 4)
    val fresh = tmp(); seed(fresh)
    assert(jobsStartedBy(
      TxTable.addConstraint(spark, fresh, "qty_pos", "qty > 0")) === 1)
  }

  test("the violation message names each violated constraint and its rows") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    TxTable.addConstraint(spark, dir, "id_small", "id < 100")
    TxTable.addConstraint(spark, dir, "qty_small", "qty < 1000")
    val head = TxTable.versions(spark, dir).last
    val e = intercept[IllegalStateException] {
      TxTable.append(spark, dir,
        Seq((3L, -1L), (4L, -2L), (200L, 5L), (5L, 6L)).toDF("id", "qty"))
    }
    assert(e.getMessage.contains("qty_pos (qty > 0): 2 rows"), e.getMessage)
    assert(e.getMessage.contains("id_small (id < 100): 1 rows"), e.getMessage)
    assert(!e.getMessage.contains("qty_small"), e.getMessage)
    assert(TxTable.versions(spark, dir).last === head)
    // the rejected commit's data dir is gone
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "data")).count()
    assert(dataDirs === 1L)
  }

  test("constraints see the frame in the declared schema, as a read-back does") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types._
    val dir = tmp()
    TxTable.create(spark, dir, StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("note", StringType))))
    // true only of a bigint qty and a string-typed (null) note — what a
    // read of the written files pinned to the declared schema sees
    TxTable.addConstraint(spark, dir, "qty_long", "typeof(qty) = 'bigint'")
    TxTable.addConstraint(spark, dir, "note_typed", "typeof(note) = 'string'")
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    // an int qty and no note: the declared projection casts and nulls
    TxTable.append(spark, dir, Seq((1L, 5)).toDF("id", "qty"))
    assert(TxTable.read(spark, dir).count() === 1)
    val e = intercept[IllegalStateException] {
      TxTable.append(spark, dir, Seq((2L, -5), (3L, 7)).toDF("id", "qty"))
    }
    assert(e.getMessage.contains("qty_pos (qty > 0): 1 rows"), e.getMessage)
    assert(!e.getMessage.contains("qty_long"), e.getMessage)
    // the read-back agrees on the rows that did land
    assert(TxTable.read(spark, dir)
      .where(expr("typeof(qty) = 'bigint' AND typeof(note) = 'string'"))
      .count() === 1)
  }

  test("constrained appends of empty frames finish promptly") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmp()
    seed(dir)
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    val frames = Seq(Seq.empty[(Long, Long)].toDF("id", "qty"),
      Seq((9L, -9L)).toDF("id", "qty").where(lit(false)))
    frames.foreach { f =>
      val v = Await.result(Future(TxTable.append(spark, dir, f)), 60.seconds)
      assert(v === TxTable.versions(spark, dir).last)
    }
    assert(TxTable.read(spark, dir).count() === 2)
  }

  test("a partitioned constrained append is checked the same way") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      Seq((1L, 10L, 1), (2L, 20L, 2)).toDF("id", "qty", "day"), Seq("day"))
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    TxTable.addConstraint(spark, dir, "day_pos", "day > 0")
    val head = TxTable.versions(spark, dir).last
    val e = intercept[IllegalStateException] {
      TxTable.append(spark, dir,
        Seq((3L, -1L, 1), (4L, 5L, 0), (5L, -3L, 3)).toDF("id", "qty", "day"),
        Seq("day"))
    }
    assert(e.getMessage.contains("qty_pos (qty > 0): 2 rows"), e.getMessage)
    assert(e.getMessage.contains("day_pos (day > 0): 1 rows"), e.getMessage)
    assert(TxTable.versions(spark, dir).last === head)
    TxTable.append(spark, dir,
      Seq((6L, 60L, 1), (7L, 70L, 3)).toDF("id", "qty", "day"), Seq("day"))
    assert(TxTable.read(spark, dir).count() === 4)
  }

  test("counting violations leaves no query listener on the session") {
    // a listener left registered re-plans every later FAILED query of
    // the session to read its observed metrics, and the listener bus
    // logs that second failure as an ERROR
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
    TxTable.append(spark, dir, Seq((3L, 30L)).toDF("id", "qty"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("listener-bus-errors", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.ERROR &&
            e.getLoggerName.endsWith("ExecutionListenerBus"))
          errors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      // TIMESTAMP(NANOS) without nanosAsLong fails while the query runs
      intercept[Exception] {
        spark.read.parquet("src/test/resources/events-enc/nanos/events.parquet")
          .collect()
      }
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(errors.isEmpty, s"listener bus logged: ${errors.peek()}")
  }

  test("a constraint set changing between validation and claim aborts the write") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    seed(dir)
    // a CHECK constraint over a UDF is the hook inside the append's write
    // job: its first call lets a racing ADD CONSTRAINT commit first
    spark.udf.register("check_race_gate", (_: Long) => RaceState.pauseOnce())
    RaceState.fired.set(true) // validating the constraint passes through
    TxTable.addConstraint(spark, dir, "gate", "check_race_gate(id)")
    RaceState.reset()
    val racer = new Thread(() => {
      RaceState.started.await(30, java.util.concurrent.TimeUnit.SECONDS)
      TxTable.addConstraint(spark, dir, "qty_pos", "qty > 0")
      RaceState.appended.countDown()
    })
    racer.start()
    val e = try intercept[java.util.ConcurrentModificationException] {
      TxTable.append(spark, dir, Seq((3L, -30L)).toDF("id", "qty"))
    } finally racer.join(30000)
    assert(e.getMessage.contains("CHECK constraints changed concurrently"),
      e.getMessage)
    assert(TxTable.constraints(spark, dir).keySet == Set("gate", "qty_pos"))
    assert(TxTable.read(spark, dir).count() === 2, "nothing unvalidated landed")
  }
}
