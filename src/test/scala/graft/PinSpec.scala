package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.ann.Mmr
import graft.dedup.Dedup
import graft.ops.TxTable
import graft.text.Bm25

/** [[GraftShim.pin]], the one way library code pins an intermediate:
  * its storage follows the SparkContext's checkpoint dir, it keeps the
  * plan's partitioning, and operators release every pin they do not
  * return.
  */
class PinSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body` under a fresh checkpoint dir; the prior setting comes back
    * after, so later suites keep their pins local.
    */
  private def underCheckpointDir[T](body: java.io.File => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val dir = tmp("graft_pin_ck")
    sc.setCheckpointDir(dir)
    try body(new java.io.File(dir)) finally sc.setCheckpointDir(prior.orNull)
  }

  /** Checkpoint data dirs (`rdd-<id>`) under `dir`. */
  private def checkpointFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      if (f.getName.startsWith("rdd-")) Seq(f)
      else if (f.isDirectory) checkpointFiles(f) else Nil)

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Remove every block of the pinned RDDs, as losing their executor
    * would.
    */
  private def dropBlocks(pinned: DataFrame): Unit =
    rddIds(pinned).foreach(id =>
      SparkEnv.get.blockManager.master.removeRdd(id, blocking = true))

  private def frame = spark.range(0, 200, 1, 4)
    .select(col("id"), (col("id") % 7).as("k"))

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("under a checkpoint dir a pin survives the loss of its blocks") {
    underCheckpointDir { dir =>
      val pinned = GraftShim.pin(frame)
      assert(checkpointFiles(dir).nonEmpty, "the rows went to the dir")
      dropBlocks(pinned)
      assert(rows(pinned) == rows(frame))
      GraftShim.unpin(pinned)
      assert(checkpointFiles(dir).isEmpty, "unpin deletes the files")
    }
  }

  test("without a checkpoint dir a pin whose blocks are lost fails by name") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val pinned = GraftShim.pin(frame)
    assert(rows(pinned) == rows(frame))
    dropBlocks(pinned)
    val e = intercept[org.apache.spark.SparkException](pinned.collect())
    assert(e.getMessage.contains("Checkpoint block") &&
      e.getMessage.contains("not found"), e.getMessage)
  }

  test("a pin keeps the plan's partitioning under either storage") {
    // a pin carries the partitioning of the physical plan it ran; under
    // AQE that plan reports none, so the check runs with AQE off
    val aqe = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      def plan(): String = {
        val pinned = GraftShim.pin(frame.repartition(4, col("k")))
        try pinned.groupBy("k").count().queryExecution.executedPlan.toString
        finally GraftShim.unpin(pinned)
      }
      assert(!plan().contains("Exchange"), plan())
      val reliable = underCheckpointDir(_ => plan())
      assert(!reliable.contains("Exchange"), reliable)
    } finally spark.conf.set(aqe, prior)
  }

  test("operators release every pin they do not return") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // the RDDs `op` left persisted, beyond the frame it returns
    def leftover(op: => Any): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      val returned = op match {
        case df: DataFrame => rddIds(df)
        case _ => Set.empty[Int]
      }
      sc.getPersistentRDDs.keySet.toSet -- before -- returned
    }
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L))
      .toDF("id_a", "id_b")
    val cands = Seq(MmrCand("q", 1L, 0.9, Array(1f, 0.01f)),
      MmrCand("q", 2L, 0.8, Array(1f, 0.02f)),
      MmrCand("q", 3L, 0.3, Array(0f, 1f))).toDF()
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val table = tmp("graft_pin_merge") + "/t"
    TxTable.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val left = Seq(
      "connectedComponents" -> leftover(Dedup.connectedComponents(pairs)),
      "Mmr.rerank" -> leftover(Mmr.rerank(cands, k = 3, lambda = 0.5)),
      "Bm25.buildIndex" -> leftover(Bm25.buildIndex(docs, "doc_id", "text",
        tmp("graft_pin_bm25") + "/idx")),
      "mergeInto" -> leftover(TxTable.mergeInto(spark, table,
        Seq((2L, "m"), (3L, "n")).toDF("id", "v"), Seq("id"),
        updateSet = Map("v" -> TxTable.src("v")))))
    left.foreach { case (op, ids) => assert(ids.isEmpty, s"$op left $ids") }
  }

  test("library code pins only through GraftShim.pin") {
    // the five harness mains live in src/main until they move out of
    // the library; the pin helper is the one place that may checkpoint
    val allowed = Set("GraftShim.scala", "SparkEntry.scala", "Bench.scala",
      "ScaleBench.scala", "MaintBench.scala", "Verify.scala")
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- sources(root) if !allowed(f.getName)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      call <- Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir(")
      if text.contains(call)
    } yield s"${f.getPath}: $call"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
