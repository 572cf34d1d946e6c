package graft.util

import org.apache.spark.sql.SparkSession

/** One session-builder for the three harness mains — same master,
  * shuffle partitions, timezone, and UI setting everywhere, so a plan
  * audited by ExplainAudit is the plan Bench times and Verify dumps.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else `fallback`. */
  def cpus(fallback: => String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", fallback)

  /** The builder every session here starts from — [[local]], the test
    * session and `Medallion.main`: local file I/O goes through
    * [[NioLocalFileSystem]], so Hadoop forks no `chmod` or `ls` per
    * file it creates or lists.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  def local(nCpus: String): SparkSession = {
    val spark = builder()
      .master(s"local[$nCpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.shuffle.partitions", nCpus)
      // InferFiltersFromGenerate clones an explode's ENTIRE input
      // expression into an inferred size(...)>0 && isnotnull(...)
      // Filter, which predicate pushdown then moves below the fan-out
      // spread exchange: the whole window/shingle/posting ARRAY BUILD
      // (interpreted higher-order functions — no codegen, no CSE with
      // the real projection) runs 2-3x per row, serially on the scan
      // tasks (measured: a 7.3 s single-task stage under
      // q_x_span_decontaminate whose only job was evaluating the
      // inferred filter). Every fan-out in this engine explodes an
      // expensive array, so the rule is a pure pessimization here at
      // any scale; excluding it changes no results (it only pre-drops
      // rows whose generate output would be empty).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
