package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry

/** One benchmark run of one workload in one JVM; `run.py` drives it.
  *
  * 1. Start the session.
  * 2. Oracle pass: each query's output is written once to
  *    `--oracle-out/<query>` for the DuckDB comparison. It is also the
  *    warm-up: it pays the class loading and most of the JIT cost of each
  *    query's first execution outside the timed passes.
  * 3. `--warm-passes` untimed passes: the JIT keeps speeding up the
  *    first passes after the oracle pass by up to 40 %.
  * 4. Timed passes over the queries, in an order permuted by `--seed`,
  *    until `--seconds` have passed and at least `--min-passes` passes are
  *    done. Each frame is fully materialised through the `noop` writer.
  *    With `--trace 1`, odd passes run with the [[Trace]] listeners
  *    attached and even passes without, so one run yields the per-layer
  *    counters and the tracing overhead.
  * 5. JVM heap in use after full collections.
  *
  * The set-up time is measured from `--t0-ms`, the start of the run
  * (`run.py` takes it after the build and before its input check), to the
  * start of the first timed pass: it covers the input check, JVM start,
  * session start, the oracle pass and the warm-up passes.
  *
  * Everything measured is written as JSON to `--result`.
  */
object Main {
  private val Mb = 1024.0 * 1024.0

  final case class Exec(query: String, pass: Int, eagerS: Double, actionS: Double,
                        ok: Boolean, traced: Boolean)
  final case class Pass(wallS: Double, writtenMb: Double, traced: Boolean,
                        layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = opt("queries").split(',').toSeq
    val input = opt("input")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val t0Ms = opt("t0-ms").toLong
    queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown query $q"))

    // 1. session
    val spark = graft.util.Sessions.local(cpus)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val sc = spark.sparkContext

    def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(queries)

    // 2. oracle pass
    val oracleOut = opt("oracle-out")
    val o0 = System.nanoTime()
    val oracleFailed = order(-1).filterNot { q =>
      try {
        SparkEntry.queries(q)(spark, input).write.mode("overwrite")
          .parquet(s"$oracleOut/$q")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $q failed in the oracle pass: $e")
          false
      }
    }
    val oracleS = (System.nanoTime() - o0) / 1e9
    Files.write(Paths.get(s"$oracleOut/oracle_sql.json"), obj(queries.map(q =>
      q -> SparkEntry.oracleSql.get(q).map(str).getOrElse("null")): _*)
      .getBytes(StandardCharsets.UTF_8))

    // one pass over the queries in the order of `pass`; each frame is
    // materialised through the noop writer
    val trace = new Trace(spark)
    def runPass(pass: Int, tracedPass: Boolean): (Seq[Exec], Pass) = {
      if (tracedPass) trace.attach()
      val w0 = bytesWritten()
      val ms0 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val execs = order(pass).map { q =>
        val q0 = System.nanoTime()
        var q1 = q0
        val ok = try {
          val df = SparkEntry.queries(q)(spark, input)
          q1 = System.nanoTime()
          sc.setLocalProperty(Trace.PhaseKey, "action")
          try df.write.format("noop").mode("overwrite").save()
          finally sc.setLocalProperty(Trace.PhaseKey, null)
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $q failed in pass $pass: $e")
            false
        }
        val q2 = System.nanoTime()
        Exec(q, pass, (q1 - q0) / 1e9, (q2 - q1) / 1e9, ok, tracedPass)
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      val layers =
        if (tracedPass) {
          val l = trace.take(ms0, System.currentTimeMillis())
          trace.detach()
          l
        } else Map.empty[String, Double]
      (execs, Pass(wallS, (bytesWritten() - w0) / Mb, tracedPass, layers))
    }

    // 3. warm-up passes, untimed, numbered -2, -3, ...
    val warm = (1 to opt("warm-passes").toInt).flatMap(i => runPass(-1 - i, tracedPass = false)._1)

    // 4. timed passes
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = opt("min-passes").toInt
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline || pass < minPasses) {
      val (e, p) = runPass(pass, tracedPass = traced && pass % 2 == 1)
      execs ++= e
      passes += p
      pass += 1
    }

    // 5. retained heap: the gaps let the ContextCleaner drop the blocks of
    // frames the first collections found unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb

    val json = obj(
      "master" -> str(sc.master),
      "cpus" -> cpus,
      "spark_version" -> str(spark.version),
      "java_version" -> str(System.getProperty("java.version")),
      "setup_s" -> num(setupS),
      "session_s" -> num(sessionS),
      "oracle_pass_s" -> num(oracleS),
      "oracle_failed" -> arr(oracleFailed.map(str)),
      "warm_execs" -> warm.size.toString,
      "warm_failed" -> warm.count(!_.ok).toString,
      "heap_retained_mb" -> num(heapMb),
      "execs" -> arr(execs.toSeq.map(e => obj(
        "query" -> str(e.query), "pass" -> e.pass.toString,
        "eager_s" -> num(e.eagerS), "action_s" -> num(e.actionS),
        "ok" -> e.ok.toString, "traced" -> e.traced.toString))),
      "passes" -> arr(passes.toSeq.map(p => obj(
        "wall_s" -> num(p.wallS), "written_mb" -> num(p.writtenMb),
        "traced" -> p.traced.toString,
        "layers" -> obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)))))
    Files.write(Paths.get(opt("result")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Bytes written through Hadoop's local file system since JVM start. */
  private def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String = graft.util.Host.jsonStr(s)
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
