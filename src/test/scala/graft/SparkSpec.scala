package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — Spark startup
  * is ~10 s, per-suite sessions would dominate test time.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.util.Sessions.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import scala.reflect.runtime.universe.TypeTag
  def df[T <: Product: TypeTag](rows: Seq[T]) = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }
}
