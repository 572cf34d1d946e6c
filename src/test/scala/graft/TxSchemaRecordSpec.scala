package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetSchema, ParquetFileFormat}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TxTable

/** The per-dir schema record in the manifest: a read pinned by it must
  * be exactly the read Spark's footer inference gives — schema (names,
  * order, types, nullability, metadata) and rows — for every table
  * shape, and building a snapshot frame must start no Spark job. The
  * one deliberate difference: the record also holds the string
  * partition columns as written, which inference re-types from the
  * directory names (a string "07" reads as the int 7).
  *
  * "Inference" is the same table with the record stripped from every
  * manifest: the shape of a manifest written before the record
  * existed, which must keep reading as it always did.
  *
  * Reads with no record take their schema from one footer on the
  * driver ([[GraftParquetSchema.of]]), which must be the schema Spark's
  * own inference gives.
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

  /** Every version of `dir`, read every way a snapshot is read. The
    * `written` partition columns are not compared with inference: every
    * read of `dir` must type them as they were written.
    */
  private def assertSameAsInference(dir: String,
                                    written: Seq[(String, DataType)] = Nil): Unit = {
    val bare = stripped(dir)
    val parts = written.map(_._1)
    def same(what: String, pinned: => DataFrame, inferred: => DataFrame) = {
      sameRead(what, pinned.drop(parts: _*), inferred.drop(parts: _*))
      if (written.nonEmpty) {
        val types = pinned.schema.map(f => f.name -> f.dataType).toMap
        assert(written.forall { case (n, t) => types.get(n).contains(t) },
          s"$what partition types: ${pinned.schema.simpleString}")
      }
    }
    TxTable.versions(spark, dir).foreach { v =>
      Seq(false, true).foreach { ms =>
        same(s"readVersion($v, mergeSchema=$ms)",
          TxTable.readVersion(spark, dir, v, mergeSchema = ms),
          TxTable.readVersion(spark, bare, v, mergeSchema = ms))
      }
      same(s"format(graft) versionAsOf $v",
        spark.read.format("graft").option("versionAsOf", v).load(dir),
        spark.read.format("graft").option("versionAsOf", v).load(bare))
    }
    sameRead("readChanges",
      TxTable.readChanges(spark, dir, 0L, mergeSchema = true).drop(parts: _*),
      TxTable.readChanges(spark, bare, 0L, mergeSchema = true).drop(parts: _*))
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
    // "7" and "07" both infer as the int 7; the record keeps them apart
    TxTable.append(spark, dir,
      people.withColumn("day", lit("7")).filter(col("id") === 1), Seq("day"))
    assert(TxTable.recordedSchema(spark, dir, 3L).isDefined)
    assertSameAsInference(dir, Seq("day" -> StringType))
    assert(TxTable.read(spark, dir).select("day").distinct().collect()
      .map(_.getString(0)).toSet === Set("07", "11", "7"))
    val two = tmp() + "/t"
    TxTable.overwrite(spark, two, people, Seq("day", "score"))
    assertSameAsInference(two, Seq("day" -> StringType))
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
    val flat = tmp() + "/t"
    TxTable.append(spark, flat, people)
    TxTable.append(spark, flat, people.filter(col("id") > 2))
    val parted = tmp() + "/t"
    TxTable.append(spark, parted, people, Seq("day"))
    TxTable.append(spark, parted, people.filter(col("id") > 2), Seq("day"))
    val ts1 = TxTable.commitTimestamp(spark, flat, 1L)
    def noJobs(what: String)(build: => DataFrame): Unit = {
      val jobs = jobsStartedBy(build.schema)
      assert(jobs === 0, s"$what started $jobs job(s)")
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
    assert(jobsStartedBy(TxTable.read(spark, bare).schema) > 0,
      "an unrecorded read infers its schema")
  }

  // ---- the footer schema read on the driver, for reads with no record

  private val harness = "perfbench/testdata/sf0.001"

  private def withConf[T](kvs: Map[String, String])(body: => T): T = {
    val prior = kvs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The footer schema of `path` is Spark's own inference: the raw data
    * schema inference gives over the files Spark lists (nullability and
    * metadata included), and a read pinned with it has the inferred
    * read's schema.
    */
  private def sameAsFooterInference(path: String): StructType = {
    val footer = GraftParquetSchema.of(spark, path)
    val files = spark.read.parquet(path).inputFiles.toSeq.map { f =>
      val q = new Path(f)
      q.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(q)
    }
    val inferred = new ParquetFileFormat().inferSchema(spark, Map.empty, files)
    assert(footer.isDefined && footer === inferred, path)
    assert(footer.get.json === inferred.get.json, s"$path metadata")
    val pinned = spark.read.schema(footer.get).parquet(path).schema
    assert(pinned === spark.read.parquet(path).schema, s"$path pinned read")
    footer.get
  }

  test("the footer schema is the schema Spark infers, under the session conf") {
    val confs = Seq(Map.empty[String, String],
      Map("spark.sql.parquet.binaryAsString" -> "true"),
      Map("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
    val nanos = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val files =
      graft.ops.Sources.tableNames.map(n => s"$harness/$n.parquet") ++
        Seq("micros_ntz", "micros_utc")
          .map(e => s"src/test/resources/events-enc/$e/events.parquet")
    confs.foreach { c =>
      withConf(c)(files.foreach(sameAsFooterInference))
      withConf(c ++ nanos)(sameAsFooterInference(
        "src/test/resources/events-enc/nanos/events.parquet"))
    }
    // the confs reach the decoder: NTZ only while inference is on
    def tsType(c: Map[String, String]) = withConf(c)(GraftParquetSchema.of(
      spark, "src/test/resources/events-enc/micros_ntz/events.parquet")
      .get("ts").dataType)
    assert(tsType(Map.empty) === TimestampNTZType)
    assert(tsType(confs(2)) === TimestampType)
  }

  test("a directory's footer schema comes from its first data file") {
    val s = spark
    import s.implicits._
    val flat = tmp() + "/d"
    Seq((1L, "a")).toDF("id", "v").write.parquet(flat)
    Seq((2L, 2.5, "b")).toDF("id", "w", "v").write.mode("append")
      .parquet(flat)
    // hidden files sort first but are never data
    val other = tmp() + "/o"
    Seq(Tuple1("z")).toDF("z").coalesce(1).write.parquet(other)
    val part = Files.list(Paths.get(other)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(flat, "_hidden.parquet"))
    Files.copy(part, Paths.get(flat, ".hidden.parquet"))
    val data = Files.list(Paths.get(flat)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .toSeq.sorted
    val perFile = data.map(n =>
      GraftParquetSchema.of(spark, s"$flat/$n").get.fieldNames.toSeq)
    assert(perFile.distinct.size === 2, "the files disagree")
    assert(sameAsFooterInference(flat).fieldNames.toSeq === perFile.head)
    // hive-partitioned: the first file under the first partition dir
    val parted = tmp() + "/p"
    Seq((1L, "a", 2)).toDF("id", "v", "day").write.partitionBy("day")
      .parquet(parted)
    Seq((2L, 2.5, 1)).toDF("id", "w", "day").write.partitionBy("day")
      .mode("append").parquet(parted)
    assert(sameAsFooterInference(parted).fieldNames.toSeq === Seq("id", "w"))
    // a change-data directory
    val t = tmp() + "/t"
    TxTable.append(spark, t, people)
    TxTable.update(spark, t, col("id") === 1L, Map("score" -> lit(9.0)))
    val changeDirs = Files.list(Paths.get(t, "_changes")).iterator().asScala
      .toSeq
    assert(changeDirs.nonEmpty)
    changeDirs.foreach(d => sameAsFooterInference(d.toString))
    assert(GraftParquetSchema.of(spark, tmp() + "/missing").isEmpty)
  }

  test("Sources, an unrecorded partitioned load and readChanges start no job") {
    graft.ops.Sources.tableNames.foreach { n =>
      val jobs = jobsStartedBy(graft.ops.Sources.table(spark, harness, n).schema)
      assert(jobs === 0, s"Sources.table $n started $jobs job(s)")
    }
    assert(jobsStartedBy(graft.ops.Sources.registerAll(spark, harness)) === 0)
    val parted = tmp() + "/t"
    TxTable.append(spark, parted, people, Seq("day"))
    val bare = stripped(parted)
    assert(TxTable.recordedSchema(spark, bare, 1L).isEmpty)
    assert(jobsStartedBy(spark.read.format("graft").load(bare).schema) === 0,
      "GraftResolve reads the data schema from one footer")
    // the record types the partition column as written ("07"); the
    // unrecorded load re-infers it from the directory names (7)
    sameRead("unrecorded partitioned load",
      spark.read.format("graft").load(bare).drop("day"),
      spark.read.format("graft").load(parted).drop("day"))
    assert(spark.read.format("graft").load(parted).schema("day").dataType ===
      StringType)
    TxTable.update(spark, parted, col("id") === 1L, Map("score" -> lit(9.0)))
    val v = TxTable.versions(spark, parted).last
    assert(jobsStartedBy(TxTable.readChanges(spark, parted, v - 1, v).schema)
      === 0, "readChanges pins each change-data directory")
  }
}
