package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — Spark startup
  * is ~10 s, per-suite sessions would dominate test time. It is the
  * session the harness mains and perfbench run in, so the tests check
  * the plans they time; only the app name and the log level differ.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // Sessions.local names no app, so Spark takes the name from here
    sys.props.getOrElseUpdate("spark.app.name", "graft-tests")
    val s = graft.util.Sessions.local("4")
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

  /** Spark jobs started while `body` runs, counted by a listener; the
    * listener bus is drained before and after `body`, so the count
    * holds exactly the jobs `body` started.
    */
  def jobsStartedBy(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
