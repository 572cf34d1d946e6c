package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** COPY INTO: idempotent bulk file ingestion keyed on manifest
  * membership of deterministic per-source-file names.
  */
class TxCopyIntoSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_copyinto").toString

  private def ids(dir: String) =
    TxTable.read(spark, dir).collect().map(_.getLong(0)).toSeq.sorted

  /** Write `rows` as exactly one parquet file named `name` in `dir`. */
  private def land(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val s = spark
    import s.implicits._
    landFrame(dir, name, rows.toDF("id", "v"))
  }

  private def landFrame(dir: String, name: String,
                        df: org.apache.spark.sql.DataFrame): Unit = {
    val stage = Files.createTempDirectory("graft_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.copy(part, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("bootstrap, idempotent re-run, incremental new files") {
    val root = tmp()
    val landing = s"$root/landing"; val tbl = s"$root/t"
    land(landing, "b1.parquet", Seq((1L, "a"), (2L, "b")))
    land(landing, "b2.parquet", Seq((3L, "c")))
    val (v1, loaded1, skip1) = TxTable.copyInto(spark, tbl, landing)
    assert(v1 === 1L && loaded1.size === 2 && skip1 === 0)
    assert(ids(tbl) === Seq(1L, 2L, 3L))
    // exact re-run: no new version, nothing loaded, both skipped
    val (v2, loaded2, skip2) = TxTable.copyInto(spark, tbl, landing)
    assert(v2 === 1L && loaded2.isEmpty && skip2 === 2)
    assert(TxTable.versions(spark, tbl) === Seq(1L))
    // a third landing file: only it loads
    land(landing, "b3.parquet", Seq((4L, "d")))
    val (v3, loaded3, skip3) = TxTable.copyInto(spark, tbl, landing)
    assert(v3 === 2L && loaded3.size === 1 && skip3 === 2)
    assert(ids(tbl) === Seq(1L, 2L, 3L, 4L))
  }

  test("a source file modified in place reloads as new data") {
    val root = tmp()
    val landing = s"$root/landing"; val tbl = s"$root/t"
    land(landing, "b1.parquet", Seq((1L, "a")))
    TxTable.copyInto(spark, tbl, landing)
    // same name, different content (and mtime/length): new identity
    land(landing, "b1.parquet", Seq((2L, "bb"), (3L, "cc")))
    val (_, loaded, _) = TxTable.copyInto(spark, tbl, landing)
    assert(loaded.size === 1)
    assert(ids(tbl) === Seq(1L, 2L, 3L))
  }

  test("schema mismatch and partitioned targets are refused") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val landing = s"$root/landing"
    land(landing, "b1.parquet", Seq((1L, "a")))
    // wrong schema vs an existing table
    val tbl = s"$root/t"
    TxTable.overwrite(spark, tbl,
      Seq((1L, 9L)).toDF("id", "other"))
    val e = intercept[IllegalArgumentException] {
      TxTable.copyInto(spark, tbl, landing)
    }
    assert(e.getMessage.contains("schema mismatch"))
    // partitioned target
    val ptbl = s"$root/p"
    TxTable.overwrite(spark, ptbl,
      Seq((1L, "us", "a")).toDF("id", "region", "v"),
      partitionCols = Seq("region"))
    val e2 = intercept[IllegalArgumentException] {
      TxTable.copyInto(spark, ptbl, landing)
    }
    assert(e2.getMessage.contains("partitioned"))
  }

  test("a batch whose files disagree on schema is refused before linking") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val landing = s"$root/landing"
    landFrame(landing, "a.parquet", Seq((1L, 10L)).toDF("id", "qty"))
    landFrame(landing, "b.parquet", Seq((2L, "x")).toDF("id", "qty"))
    def linked(tbl: String): Boolean =
      Files.exists(Paths.get(tbl, "data")) &&
        Files.list(Paths.get(tbl, "data")).iterator().asScala
          .exists(_.getFileName.toString.startsWith("copyin_"))
    // into an existing bigint table: b's string qty is refused
    val tbl = s"$root/t"
    TxTable.overwrite(spark, tbl, Seq((0L, 0L)).toDF("id", "qty"))
    val e = intercept[IllegalArgumentException] {
      TxTable.copyInto(spark, tbl, landing)
    }
    assert(e.getMessage.contains("schema mismatch") &&
      e.getMessage.contains("b.parquet"), e.getMessage)
    assert(TxTable.versions(spark, tbl) === Seq(1L) && !linked(tbl))
    assert(TxTable.read(spark, tbl).count() === 1)
    // a bootstrap gates the files against each other
    val boot = s"$root/boot"
    val e2 = intercept[IllegalArgumentException] {
      TxTable.copyInto(spark, boot, landing)
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
    assert(TxTable.versions(spark, boot).isEmpty && !linked(boot))
    // the agreeing file alone still loads
    val (_, loaded, _) = TxTable.copyInto(spark, boot, landing,
      pattern = "a.parquet")
    assert(loaded.size === 1 && TxTable.read(spark, boot).count() === 1)
  }

  test("CHECK constraints gate copied-in files") {
    val s = spark
    import s.implicits._
    val root = tmp()
    val landing = s"$root/landing"; val tbl = s"$root/t"
    TxTable.overwrite(spark, tbl, Seq((5L, "ok")).toDF("id", "v"))
    TxTable.addConstraint(spark, tbl, "pos_id", "id > 0")
    land(landing, "bad.parquet", Seq((-1L, "neg")))
    intercept[IllegalStateException] {
      TxTable.copyInto(spark, tbl, landing)
    }
    // nothing committed, nothing half-linked into a later load
    assert(ids(tbl) === Seq(5L))
    land(landing, "good.parquet", Seq((6L, "fine")))
    intercept[IllegalStateException] { // bad file still matches the glob
      TxTable.copyInto(spark, tbl, landing)
    }
    val (_, loaded, _) = TxTable.copyInto(spark, tbl, landing,
      pattern = "good.parquet")
    assert(loaded.size === 1 && ids(tbl) === Seq(5L, 6L))
  }

  test("SQL spelling: COPY INTO ... FROM ... [PATTERN] reports version/loaded/skipped") {
    val root = tmp()
    val landing = s"$root/landing"; val tbl = s"$root/t"
    land(landing, "b1.parquet", Seq((1L, "a")))
    land(landing, "b2.parquet", Seq((2L, "b")))
    val r1 = spark.sql(s"COPY INTO graft.`$tbl` FROM '$landing'")
      .collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((1L, 2L, 0L)))
    val r2 = spark.sql(
      s"COPY INTO graft.`$tbl` FROM '$landing' PATTERN 'b1.parquet'")
      .collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((1L, 0L, 1L)))
    assert(ids(tbl) === Seq(1L, 2L))
  }

  test("copied-in files are hard links carrying footer stats (skipping works)") {
    val root = tmp()
    val landing = s"$root/landing"; val tbl = s"$root/t"
    land(landing, "lo.parquet", (1L to 10L).map(i => (i, s"v$i")))
    land(landing, "hi.parquet", (1000L to 1010L).map(i => (i, s"v$i")))
    TxTable.copyInto(spark, tbl, landing)
    val parquet = Files.walk(Paths.get(tbl)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet"))
    assert(parquet.length === 2)
    parquet.foreach { p =>
      val nlink = Files.getAttribute(p, "unix:nlink").asInstanceOf[Number]
      assert(nlink.longValue >= 2, s"$p is not a hard link")
    }
    // footer stats rode into the manifest: a needle predicate prunes
    // down to the one file whose [min,max] straddles it
    val pruned = TxTable.readWhere(spark, tbl, col("id") === 1005L)
    assert(pruned.inputFiles.length === 1)
    assert(pruned.inputFiles.head.contains("hi.parquet"))
  }
}
