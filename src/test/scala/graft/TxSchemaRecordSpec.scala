package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TxTable

/** The per-dir schema record in the manifest: a read pinned by it must
  * be exactly the read Spark's footer inference gives — schema (names,
  * order, types, nullability, metadata) and rows — for every table
  * shape, and building a snapshot frame must start no Spark job.
  *
  * "Inference" is the same table with the record stripped from every
  * manifest: the shape of a manifest written before the record
  * existed, which must keep reading as it always did.
  */
class TxSchemaRecordSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_srec").toString

  /** Copy `dir` to a fresh table with every schema record removed:
    * data files are hard-linked, manifests rewritten without the
    * `graft.dataschema.*` head keys and `schema,<id>` line tokens.
    * Checksum sidecars are left behind (a rewritten manifest would fail
    * its old checksum; a file without one is read unverified).
    */
  private def stripped(dir: String): String = {
    val out = Paths.get(tmp(), "t")
    val src = Paths.get(dir)
    val files = Files.walk(src).iterator().asScala.toList
    files.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .foreach { f =>
        val dst = out.resolve(src.relativize(f).toString)
        Files.createDirectories(dst.getParent)
        if (f.getParent.getFileName.toString == "_txlog")
          Files.write(dst, strip(new String(Files.readAllBytes(f),
            StandardCharsets.UTF_8)).getBytes(StandardCharsets.UTF_8))
        else Files.createLink(dst, f)
      }
    out.toString
  }

  private def strip(manifest: String): String = {
    val lines = manifest.split("\n").toSeq.filter(_.nonEmpty)
    val head = lines.head.split(' ')
      .filterNot(_.startsWith(TxTable.SchemaRecordPrefix)).mkString(" ")
    val body = lines.tail.map { l =>
      val i = l.indexOf('\t')
      if (i < 0) l
      else {
        val toks = l.substring(i + 1).split(';')
          .filterNot(_.startsWith("schema,"))
        if (toks.isEmpty) l.substring(0, i)
        else l.substring(0, i) + "\t" + toks.mkString(";")
      }
    }
    (head +: body).mkString("", "\n", "\n")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Pinned and inferred reads agree: same schema (metadata included)
    * and rows, or both fail.
    */
  private def sameRead(what: String, pinned: => DataFrame,
                       inferred: => DataFrame): Unit = {
    def result(df: => DataFrame) = Try { val d = df; (d.schema, rows(d)) }
    val p = result(pinned)
    val i = result(inferred)
    assert(p.isSuccess === i.isSuccess, s"$what: $p vs $i")
    for ((ps, pr) <- p; (is, ir) <- i) {
      assert(ps === is, s"$what schema")
      assert(ps.json === is.json, s"$what schema metadata")
      assert(pr === ir, s"$what rows")
    }
  }

  /** Every version of `dir`, read every way a snapshot is read. */
  private def assertSameAsInference(dir: String): Unit = {
    val bare = stripped(dir)
    TxTable.versions(spark, dir).foreach { v =>
      Seq(false, true).foreach { ms =>
        sameRead(s"readVersion($v, mergeSchema=$ms)",
          TxTable.readVersion(spark, dir, v, mergeSchema = ms),
          TxTable.readVersion(spark, bare, v, mergeSchema = ms))
      }
      sameRead(s"format(graft) versionAsOf $v",
        spark.read.format("graft").option("versionAsOf", v).load(dir),
        spark.read.format("graft").option("versionAsOf", v).load(bare))
    }
    sameRead("readChanges",
      TxTable.readChanges(spark, dir, 0L, mergeSchema = true),
      TxTable.readChanges(spark, bare, 0L, mergeSchema = true))
  }

  private def recordIds(dir: String): Set[String] =
    TxTable.commitMeta(spark, dir, TxTable.versions(spark, dir).last)
      .keySet.filter(_.startsWith(TxTable.SchemaRecordPrefix))

  private def people = {
    val s = spark
    import s.implicits._
    Seq((1L, "ann", 3.5, "07"), (2L, "bob", -1.0, "07"),
      (3L, null, 2.0, "11"), (4L, "dan", 0.0, "11"))
      .toDF("id", "name", "score", "day")
      .withColumn("tags", array(col("name"), lit("x")))
      .withColumn("attrs", struct(col("id").as("k"), col("name").as("v")))
      .withColumn("name", col("name").as("name",
        new MetadataBuilder().putString("comment", "display").build()))
  }

  test("flat appends over several commit dirs read as inference does") {
    val dir = tmp() + "/t"
    TxTable.append(spark, dir, people.filter(col("id") <= 2))
    TxTable.append(spark, dir, people.filter(col("id") === 3))
    TxTable.append(spark, dir, people.filter(col("id") === 4))
    assert(TxTable.recordedSchema(spark, dir, 3L).isDefined)
    // three dirs, one schema: one dictionary entry
    assert(recordIds(dir).size === 1)
    assertSameAsInference(dir)
  }

  test("partitioned tables, a string partition value \"07\" included") {
    val dir = tmp() + "/t"
    TxTable.append(spark, dir, people.filter(col("id") <= 2), Seq("day"))
    TxTable.append(spark, dir, people.filter(col("id") > 2), Seq("day"))
    // "7" and "07" both infer as the int 7
    TxTable.append(spark, dir,
      people.withColumn("day", lit("7")).filter(col("id") === 1), Seq("day"))
    assert(TxTable.recordedSchema(spark, dir, 3L).isDefined)
    assertSameAsInference(dir)
    val two = tmp() + "/t"
    TxTable.overwrite(spark, two, people, Seq("day", "score"))
    assertSameAsInference(two)
  }

  test("overwrite and merge / mergeInto / update / delete rewrites") {
    val s = spark
    import s.implicits._
    val dir = tmp() + "/t"
    TxTable.append(spark, dir, people.drop("tags", "attrs"))
    TxTable.append(spark, dir,
      Seq((5L, "eve", 1.0, "12")).toDF("id", "name", "score", "day"))
    TxTable.merge(spark, dir,
      Seq((2L, "bo", 9.0, "07"), (6L, "fay", 1.0, "13"))
        .toDF("id", "name", "score", "day"), Seq("id"))
    TxTable.mergeInto(spark, dir,
      Seq((1L, "an", 4.0, "07"), (7L, "gus", 2.0, "13"))
        .toDF("id", "name", "score", "day"), Seq("id"),
      updateSet = Map("score" -> TxTable.src("score")))
    TxTable.update(spark, dir, col("id") === 3L,
      Map("score" -> lit(7.5)))
    TxTable.delete(spark, dir, col("id") === 4L)
    assertSameAsInference(dir)
    // an overwrite with a new schema prunes the old record
    val before = recordIds(dir)
    TxTable.overwrite(spark, dir, Seq((1, "z")).toDF("a", "b"))
    val after = recordIds(dir)
    assert(after.size === 1 && (after & before).isEmpty, s"$before -> $after")
    assertSameAsInference(dir)
  }

  test("mergeSchema evolution, and create followed by insert") {
    val s = spark
    import s.implicits._
    val dir = tmp() + "/t"
    TxTable.append(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    TxTable.append(spark, dir, Seq((2L, "b", 0.5)).toDF("id", "v", "w"))
    // two schemas live: two records, and no shared one for the snapshot
    assert(recordIds(dir).size === 2)
    assert(TxTable.recordedSchema(spark, dir, 2L).isEmpty)
    assertSameAsInference(dir)
    val created = tmp() + "/t"
    TxTable.create(spark, created, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    TxTable.append(spark, created, Seq((1L, "a")).toDF("id", "v"))
    spark.sql(s"INSERT INTO graft.`$created` VALUES (2, 'b')")
    assertSameAsInference(created)
  }

  test("copyInto, cloneAt, streaming commits and restore") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val landing = s"$root/landing"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(landing)
    val dir = s"$root/t"
    TxTable.copyInto(spark, dir, landing)
    TxTable.append(spark, dir, Seq((3L, "c")).toDF("id", "v"))
    assertSameAsInference(dir)

    val clone = s"$root/clone"
    TxTable.cloneAt(spark, dir, clone)
    assertSameAsInference(clone)

    val sink = s"$root/sink"
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/cp").start(sink)
    q.processAllAvailable(); q.stop()
    assertSameAsInference(sink)

    // the overwrite prunes v2's record; restoring v2 brings it back
    // for the appended dir (the copied-in dir never had one)
    TxTable.overwrite(spark, dir, Seq((9, 9.0)).toDF("x", "y"))
    TxTable.restore(spark, dir, 2L)
    assert(recordIds(dir).size === 1)
    assert(TxTable.recordedSchema(spark, dir,
      TxTable.versions(spark, dir).last).isEmpty)
    assertSameAsInference(dir)
  }

  test("building snapshot frames starts no Spark job") {
    val s = spark
    import s.implicits._
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val flat = tmp() + "/t"
    TxTable.append(spark, flat, people)
    TxTable.append(spark, flat, people.filter(col("id") > 2))
    val parted = tmp() + "/t"
    TxTable.append(spark, parted, people, Seq("day"))
    TxTable.append(spark, parted, people.filter(col("id") > 2), Seq("day"))
    val ts1 = TxTable.commitTimestamp(spark, flat, 1L)
    spark.sparkContext.addSparkListener(listener)
    try {
      def noJobs(what: String)(build: => DataFrame): Unit = {
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        jobs.set(0)
        val df = build
        df.schema
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        assert(jobs.get === 0, s"$what started ${jobs.get} job(s)")
      }
      Seq(flat, parted).foreach { t =>
        noJobs(s"read $t")(TxTable.read(spark, t))
        noJobs(s"readVersion $t")(TxTable.readVersion(spark, t, 1L))
        noJobs(s"load $t")(spark.read.format("graft").load(t))
        noJobs(s"versionAsOf $t")(
          spark.read.format("graft").option("versionAsOf", 1L).load(t))
      }
      noJobs("timestampAsOf")(
        spark.read.format("graft").option("timestampAsOf", ts1).load(flat))
      // the control: the same table without its record infers (a job)
      val bare = stripped(flat)
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      jobs.set(0)
      TxTable.read(spark, bare).schema
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get > 0, "an unrecorded read infers its schema")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
