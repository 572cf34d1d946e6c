package graft

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.ops.TxTable

/** File-level data skipping (Delta-style stats pruning reduced to its
  * essentials): commits record per-file column min/max from the parquet
  * footers in the manifest line, and readWhere scans only files whose
  * [min,max] can satisfy the predicate. Results must ALWAYS equal
  * read().where(predicate) — stats are an optimization, never a
  * correctness input.
  */
class TxStatsSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_stats").toString + "/t"

  /** Three single-file commits with disjoint id ranges and name bands. */
  private def threeCommits(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq((0L, 9L, "a"), (10L, 19L, "m"), (20L, 29L, "x")).foreach {
      case (lo, hi, band) =>
        TxTable.append(spark, dir,
          (lo to hi).map(i => (i, s"$band$i")).toDF("id", "name").coalesce(1))
    }
  }

  test("needle equality scans exactly one file; results equal the full filter") {
    val dir = tmp()
    threeCommits(dir)
    val full = TxTable.read(spark, dir).where(col("id") === 15L)
    val pruned = TxTable.readWhere(spark, dir, col("id") === 15L)
    assert(pruned.collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet)
    assert(pruned.inputFiles.length == 1,
      s"stats must prune to the one file holding id=15, scanned ${pruned.inputFiles.toSeq}")
    assert(TxTable.read(spark, dir).inputFiles.length == 3)
  }

  test("range and string predicates prune; conjunctions intersect") {
    val dir = tmp()
    threeCommits(dir)
    assert(TxTable.readWhere(spark, dir, col("id") > 19L).inputFiles.length == 1)
    assert(TxTable.readWhere(spark, dir, col("id") >= 10L).inputFiles.length == 2)
    assert(TxTable.readWhere(spark, dir, col("name") < "b").inputFiles.length == 1)
    assert(TxTable.readWhere(spark, dir, lit(5L) > col("id")).inputFiles.length == 1)
    // conjunction: id>=10 keeps files 2,3; name<"n" keeps files 1,2 → file 2
    val conj = TxTable.readWhere(spark, dir, col("id") >= 10L && col("name") < "n")
    assert(conj.inputFiles.length == 1)
    assert(conj.collect().map(_.getLong(0)).sorted.toSeq == (10L to 19L))
    // IN-list straddling two files
    assert(TxTable.readWhere(spark, dir,
      col("id").isin(5L, 25L)).inputFiles.length == 2)
  }

  test("prefix predicates prune: startsWith and LIKE 'p%', all spellings") {
    val dir = tmp()
    threeCommits(dir) // name bands: a0..a9, m10..m19, x20..x29
    assert(TxTable.readWhere(spark, dir,
      col("name").startsWith("m")).inputFiles.length == 1)
    assert(TxTable.readWhere(spark, dir,
      col("name").startsWith("m")).count() == 10)
    assert(TxTable.readWhere(spark, dir,
      col("name").like("x%")).inputFiles.length == 1)
    // a prefix BETWEEN the bands matches nothing and scans nothing
    val none = TxTable.readWhere(spark, dir, col("name").startsWith("q"))
    assert(none.count() == 0 && none.inputFiles.isEmpty)
    // non-prefix patterns keep every file but still filter exactly
    val inner = TxTable.readWhere(spark, dir, col("name").like("%15%"))
    assert(inner.inputFiles.length == 3 && inner.count() == 1)
    // prefix longer than the band: only the matching file
    assert(TxTable.readWhere(spark, dir,
      col("name").startsWith("m1")).inputFiles.length == 1)
  }

  test("null-safe equality and != prune: constant files and zero-null files") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    // <=> value prunes exactly like = value
    assert(TxTable.readWhere(spark, dir,
      col("id") <=> 15L).inputFiles.length == 1)
    // <=> null matches only nulls, and every file proves zero nulls
    val nulls = TxTable.readWhere(spark, dir, col("name") <=> lit(null))
    assert(nulls.count() == 0 && nulls.inputFiles.isEmpty)

    // constant-valued files: != that constant skips them entirely
    val dir2 = tmp()
    Seq("a", "a", "b").zipWithIndex.foreach { case (tag, i) =>
      TxTable.append(spark, dir2,
        (1 to 10).map(j => (i * 10L + j, tag)).toDF("id", "tag").coalesce(1))
    }
    val ne = TxTable.readWhere(spark, dir2, col("tag") =!= "a")
    assert(ne.count() == 10)
    assert(ne.inputFiles.length == 1,
      s"both all-'a' files must skip, scanned ${ne.inputFiles.length}")
    // a mixed-value file never prunes on !=
    assert(TxTable.readWhere(spark, dir2, col("id") =!= 5L)
      .inputFiles.length == 3)
  }

  test("no file can match → empty result, nothing scanned") {
    val dir = tmp()
    threeCommits(dir)
    val none = TxTable.readWhere(spark, dir, col("id") === 999L)
    assert(none.count() == 0)
    assert(none.inputFiles.isEmpty, "Filter(false) must fold to an empty scan")
  }

  test("un-prunable predicates keep every file but still filter rows") {
    val dir = tmp()
    threeCommits(dir)
    val odd = TxTable.readWhere(spark, dir, col("id") % 2 === 1)
    assert(odd.inputFiles.length == 3)
    assert(odd.count() == 15)
    // disjunctions are not pruned (top-level AND only) — still correct
    val or = TxTable.readWhere(spark, dir, col("id") === 1L || col("id") === 25L)
    assert(or.count() == 2)
  }

  test("date columns prune on internal day values") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    Seq(1, 2).foreach { m =>
      TxTable.append(spark, dir,
        (1 to 9).map(d => (Date.valueOf(f"2024-0$m-0$d"), m))
          .toDF("day", "mo").coalesce(1))
    }
    val feb = TxTable.readWhere(spark, dir, col("day") >= lit(Date.valueOf("2024-02-01")))
    assert(feb.inputFiles.length == 1)
    assert(feb.count() == 9)
  }

  test("timestamp predicates are safe: results always equal the full filter") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // two commits with disjoint timestamp ranges; whether or not this
    // Spark's parquet writer produces micros-annotated stats, results
    // must equal the unpruned filter (mis-unit stats would mis-prune)
    Seq("2024-01", "2024-06").foreach { m =>
      TxTable.append(spark, dir,
        (1 to 9).map(d => (java.sql.Timestamp.valueOf(s"$m-0$d 12:00:00"), m))
          .toDF("ts", "mo").coalesce(1))
    }
    val cut = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val pruned = TxTable.readWhere(spark, dir, col("ts") >= lit(cut))
    val full = TxTable.read(spark, dir).where(col("ts") >= lit(cut))
    assert(pruned.collect().map(_.getString(1)).toSeq.distinct == Seq("2024-06"))
    assert(pruned.count() == full.count())
    info(s"timestamp pruning scanned ${pruned.inputFiles.length}/2 files")
  }

  test("hive-partitioned commits prune directories on partition predicates") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.append(spark, dir,
      (1 to 20).map(i => (i.toLong, i % 4)).toDF("id", "bucket"),
      partitionCols = Seq("bucket"))
    val one = TxTable.read(spark, dir).where(col("bucket") === 2)
    assert(one.collect().length == 5)
    // inputFiles reports the whole relation; the scan's runtime numFiles
    // metric shows what partition pruning actually read
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: flatten(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val scans = flatten(one.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val total = TxTable.read(spark, dir).inputFiles.length
    val read = scans.map(_.metrics("numFiles").value).sum
    assert(read < total && read > 0,
      s"partition pruning must read fewer than all $total files, read $read")
  }

  test("decimal columns never mis-prune (stats are unscaled; recorded as none)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    Seq(("10.00", "20.00"), ("30.00", "40.00")).foreach { case (lo, hi) =>
      TxTable.append(spark, dir,
        Seq((BigDecimal(lo), 1), (BigDecimal(hi), 2))
          .toDF("price", "n").coalesce(1))
    }
    // 12.34's unscaled int (1234) is far outside [10,20]; a naive stats
    // reader would prune both files and lose the row below
    TxTable.append(spark, dir,
      Seq((BigDecimal("12.34"), 3)).toDF("price", "n").coalesce(1))
    val hit = TxTable.readWhere(spark, dir, col("price") === BigDecimal("12.34"))
    assert(hit.count() == 1, "decimal needle must be found")
    assert(TxTable.delete(spark, dir, col("price") === BigDecimal("12.34")).isDefined)
    assert(TxTable.read(spark, dir).count() == 4)
  }

  test("non-BMP strings never mis-prune (UTF-8 byte order, not UTF-16)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // U+E000 vs U+1F600: UTF-16 sorts the surrogate pair FIRST,
    // UTF-8 bytes sort it LAST — a compareTo-based reader prunes the
    // file for the U+E000 needle
    TxTable.append(spark, dir,
      Seq(("\ue000", 1), (new String(Character.toChars(0x1F600)), 2))
        .toDF("t", "n").coalesce(1))
    val hit = TxTable.readWhere(spark, dir, col("t") === "\ue000")
    assert(hit.count() == 1, "U+E000 needle must be found")
  }

  test("partition-value pruning: a partition predicate skips files from the manifest alone") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // a replacePartitions table: 3 int partitions + 2 string partitions
    TxTable.replacePartitions(spark, dir,
      (1L to 30L).map(i => (i, s"v$i", (i % 3).toInt)).toDF("id", "v", "day"),
      Seq("day"))
    TxTable.replacePartitions(spark, dir,
      Seq((100L, "x", 7), (101L, "y", 8)).toDF("id", "v", "day"), Seq("day"))

    // partition columns have NO footer stats — this prune can only come
    // from the manifest's path segments
    val none = TxTable.readWhere(spark, dir, col("day") === 99)
    assert(none.count() === 0L)
    assert(none.inputFiles.isEmpty,
      s"non-matching partition predicate must read ZERO files, got " +
        s"${none.inputFiles.toSeq}")

    val one = TxTable.readWhere(spark, dir, col("day") === 7)
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(one.inputFiles.forall(_.contains("day=7")),
      s"only day=7 files may be scanned: ${one.inputFiles.toSeq}")

    val range = TxTable.readWhere(spark, dir, col("day") >= 7)
    assert(range.collect().map(_.getLong(0)).sorted.toSeq === Seq(100L, 101L))
    assert(range.inputFiles.forall(f =>
      f.contains("day=7") || f.contains("day=8")))

    // results always equal the unpruned filter
    val full = TxTable.read(spark, dir).where(col("day") === 1)
    val pruned = TxTable.readWhere(spark, dir, col("day") === 1)
    assert(pruned.collect().map(_.toString).sorted.toSeq ===
      full.collect().map(_.toString).sorted.toSeq)
  }

  test("a literal the analyzer casts to its column's type still prunes") {
    val s = spark
    import s.implicits._
    // four single-file commits over a bigint id: `=== 5` is an int
    // literal, analyzed to id = CAST(5 AS BIGINT)
    val dir = tmp()
    (0L until 4L).foreach(f => TxTable.append(spark, dir,
      (f * 10 until f * 10 + 10).map(i => (i, s"v$i")).toDF("id", "v")
        .coalesce(1)))
    val needle = TxTable.readWhere(spark, dir, col("id") === 5)
    assert(needle.collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(needle.inputFiles.length == 1,
      s"only the file holding id 5 may be scanned: ${needle.inputFiles.toSeq}")
    // a bigint partition column: `pt === 2` rewrites partition pt=2 alone
    val part = tmp()
    TxTable.replacePartitions(spark, part,
      (0L until 20L).map(i => (i, i % 4)).toDF("id", "pt"), Seq("pt"))
    val before = TxTable.read(spark, part).inputFiles.toSet
    TxTable.delete(spark, part, col("pt") === 2)
    val after = TxTable.read(spark, part).inputFiles.toSet
    val rewritten = before -- after
    assert(rewritten.nonEmpty && rewritten.forall(_.contains("pt=2")),
      s"only pt=2's files may be rewritten, rewrote $rewritten")
    assert(TxTable.read(spark, part).count() == 15)
  }

  test("string partition values prune as strings; escaped values round-trip") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.replacePartitions(spark, dir,
      Seq((1L, "eu-west"), (2L, "us-east"), (3L, "ap: south"))
        .toDF("id", "region"), Seq("region"))
    val one = TxTable.readWhere(spark, dir, col("region") === "us-east")
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(one.inputFiles.length === 1,
      s"string partition must prune to one file: ${one.inputFiles.toSeq}")
    // hive-escaped dir (the ':' in 'ap: south') still matches correctly
    val esc = TxTable.readWhere(spark, dir, col("region") === "ap: south")
    assert(esc.collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(esc.inputFiles.length === 1)
  }

  test("overwrite, vacuum, and incremental reads keep working with stats lines") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    TxTable.replacePartitions(spark, dir + "p",
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "pt"), Seq("pt"))
    TxTable.replacePartitions(spark, dir + "p",
      Seq((3L, "c", 2)).toDF("id", "v", "pt"), Seq("pt"))
    assert(TxTable.read(spark, dir + "p").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L), "partition 2 replaced")
    TxTable.vacuum(spark, dir, keepVersions = 1)
    assert(TxTable.read(spark, dir).count() == 30)
    val (added, _) = TxTable.changedFiles(spark, dir + "p", 1L, 2L)
    assert(added.forall(!_.contains('\t')), "changedFiles returns bare paths")
  }

  test("IS NULL prunes all-non-null files; IS NOT NULL prunes all-null files") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // file 1: v all non-null; file 2: v mixed; file 3: v all null
    TxTable.append(spark, dir,
      (0L until 5L).map(i => (i, Some(s"a$i"))).toDF("id", "v").coalesce(1))
    TxTable.append(spark, dir,
      Seq((10L, Some("b")), (11L, None)).toDF("id", "v").coalesce(1))
    TxTable.append(spark, dir,
      Seq((20L, None: Option[String]), (21L, None)).toDF("id", "v").coalesce(1))
    // IS NULL: skips the all-non-null file, keeps mixed + all-null
    val isNull = TxTable.readWhere(spark, dir, col("v").isNull)
    assert(isNull.inputFiles.length == 2,
      s"zero-null file must be skipped, scanned ${isNull.inputFiles.toSeq}")
    assert(isNull.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(11L, 20L, 21L))
    // IS NOT NULL: skips the all-null file
    val notNull = TxTable.readWhere(spark, dir, col("v").isNotNull)
    assert(notNull.inputFiles.length == 2,
      s"all-null file must be skipped, scanned ${notNull.inputFiles.toSeq}")
    assert(notNull.count() == 6)
    // a COMPARISON also skips the all-null file (no value can match)
    val cmp = TxTable.readWhere(spark, dir, col("v") === "b")
    assert(cmp.inputFiles.length <= 2 &&
      cmp.collect().map(_.getLong(0)).toSeq == Seq(10L),
      "all-null file cannot satisfy an equality")
    // partition-path pseudo-stats: non-null partition values prune IS NULL
    TxTable.replacePartitions(spark, dir + "n",
      Seq((1L, "x"), (2L, "y")).toDF("id", "pt"), Seq("pt"))
    assert(TxTable.readWhere(spark, dir + "n", col("pt").isNull).count() == 0)
  }

  test("metadata-only aggregates agree with a real scan across DML") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    TxTable.delete(spark, dir, col("id") % 5 === 2L)
    val scan = TxTable.read(spark, dir)
    assert(TxTable.metaRowCount(spark, dir) === Some(scan.count()))
    assert(TxTable.metaColumnCount(spark, dir, "name") ===
      Some(scan.where(col("name").isNotNull).count()))
    assert(TxTable.metaMinMax(spark, dir, "id") === Some(("0", "29")))
    // nulls: COUNT(col) < COUNT(*), all-null files still counted in rows
    val d2 = tmp()
    TxTable.append(spark, d2, Seq((1L, Some("a")), (2L, None), (3L, None))
      .toDF("id", "v").coalesce(1))
    assert(TxTable.metaRowCount(spark, d2) === Some(3L))
    assert(TxTable.metaColumnCount(spark, d2, "v") === Some(1L))
  }

  test("metadata min/max declines rather than guesses") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    threeCommits(dir)
    // string DATA column: chunk stats may be writer-truncated bounds,
    // so the exact-MIN/MAX contract refuses them
    assert(TxTable.metaMinMax(spark, dir, "name") === None)
    assert(TxTable.metaMinMax(spark, dir, "nope") === None)
    // an all-null column has no extremes
    val d2 = tmp()
    TxTable.append(spark, d2,
      Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "v").coalesce(1))
    assert(TxTable.metaMinMax(spark, d2, "v") === None)
  }

  test("metadata aggregates read partition columns from the path") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    TxTable.replacePartitions(spark, dir,
      Seq((1L, 10L), (2L, 10L), (3L, 40L)).toDF("id", "day"), Seq("day"))
    assert(TxTable.metaMinMax(spark, dir, "day") === Some(("10", "40")))
    assert(TxTable.metaColumnCount(spark, dir, "day") === Some(3L))
    // string partition columns need the caller-declared string order:
    // under the numeric default the "misc" value has no numeric stats
    // (decline); declared string-ordered, path values are exact
    val d2 = tmp()
    TxTable.replacePartitions(spark, d2,
      Seq((1L, "2024"), (2L, "misc")).toDF("id", "pt"), Seq("pt"))
    assert(TxTable.metaMinMax(spark, d2, "pt") === None)
    assert(TxTable.metaMinMax(spark, d2, "pt", stringOrdered = true) ===
      Some(("2024", "misc")))
    assert(TxTable.metaColumnCount(spark, d2, "pt") === Some(2L))
    // ALL-numeric-looking string partitions: the manifest's parse
    // guess tags them numeric, but string semantics order "10" < "5"
    // — the declared ordering must win (the silent-wrong-MIN trap)
    val d3 = tmp()
    TxTable.replacePartitions(spark, d3,
      Seq((1L, "5"), (2L, "10")).toDF("id", "pt"), Seq("pt"))
    assert(TxTable.metaMinMax(spark, d3, "pt", stringOrdered = true) ===
      Some(("10", "5")))
  }
}
