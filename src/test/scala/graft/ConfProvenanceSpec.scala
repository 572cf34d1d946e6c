package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{SharedHadoopConfs, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.ops.TxTable

/** Library use drops Hadoop's per-key provenance from the two Hadoop
  * confs a session shares, so the copies Spark serializes into every
  * write task and scan broadcast carry no gzipped sources, and keeps
  * every value.
  */
class ConfProvenanceSpec extends SparkSpec {
  import ConfProvenanceSpec._

  private def commit(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_confsrc").toString
    TxTable.append(spark, dir, spark.range(0, 3).toDF("id"))
  }

  private def values(c: Configuration): Map[String, String] =
    c.asScala.map(e => e.getKey -> e.getValue).toMap

  private def assertDropped(name: String, c: Configuration): Unit = {
    val left = withSources(c)
    assert(left.size == 0, s"$name keeps sources, e.g. ${left.take(3)}")
  }

  /** Reload `c` and check the reload refilled its provenance, so a
    * drop seen afterwards is the next commit's.
    */
  private def reload(name: String, c: Configuration): Unit = {
    c.reloadConfiguration()
    assert(withSources(c).size * 2 > defaultKeys.size,
      s"$name: a reload restores the sources of the default keys")
  }

  test("a commit drops the provenance of both shared confs and keeps every value") {
    val confs = SharedHadoopConfs.of(spark)
    confs.foreach { case (n, c) => reload(n, c) }
    val before = confs.map { case (n, c) => n -> values(c) }
    commit()
    confs.zip(before).foreach { case ((n, c), (_, vs)) =>
      assert(values(c) == vs, s"$n: values changed")
      assertDropped(n, c)
    }
    info(s"${defaultKeys.size} default keys, " +
      s"${before.head._2.size} keys in the shared conf")
  }

  test("the drop holds after the SparkContext's conf reloads and another commit") {
    val (name, sc) = SharedHadoopConfs.of(spark).head
    commit()
    reload(name, sc)
    commit()
    assertDropped(name, sc)
  }

  test("a SerializableConfiguration round trip keeps every key and value") {
    commit()
    SharedHadoopConfs.of(spark).foreach { case (n, c) =>
      val bytes = new ByteArrayOutputStream
      val out = new ObjectOutputStream(bytes)
      out.writeObject(new SerializableConfiguration(c))
      out.close()
      val back = new ObjectInputStream(
        new ByteArrayInputStream(bytes.toByteArray)).readObject()
        .asInstanceOf[SerializableConfiguration].value
      assert(values(back) == values(c), n)
      info(s"$n: ${c.size} keys, ${bytes.size} bytes serialized")
    }
  }

  test("a session built with plain SparkSession.builder() gets the drop") {
    val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xm"))
    val cmd = Seq(javaBin.getPath) ++ jvmArgs ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"),
      ConfProvenanceProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val output = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toList
    assert(proc.waitFor() == 0, output.takeRight(20).mkString("\n"))
    val left = output.collect { case ProbeLine(n, k) => n -> k.toInt }
    assert(left.map(_._1) == SharedHadoopConfs.of(spark).map(_._1),
      output.takeRight(20).mkString("\n"))
    left.foreach { case (n, k) => assert(k == 0, s"$n: $k keys keep sources") }
  }

  test("Hadoop's provenance field exists on the bundled Hadoop") {
    val f = classOf[Configuration].getDeclaredField("updatingResource")
    assert(classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
    info(s"Hadoop ${org.apache.hadoop.util.VersionInfo.getVersion}")
  }
}

object ConfProvenanceSpec {

  /** Keys a fresh conf takes from Hadoop's bundled `*-default.xml`. */
  lazy val defaultKeys: Set[String] = {
    val fresh = new org.apache.hadoop.mapred.JobConf()
    fresh.asScala.map(_.getKey).filter(k =>
      Option(fresh.getPropertySources(k)).exists(_.exists(
        _.endsWith("-default.xml")))).toSet
  }

  /** The default keys `c` still records a source for. */
  def withSources(c: Configuration): Seq[String] =
    defaultKeys.toSeq.sorted.filter(k => c.getPropertySources(k) != null)

  val ProbeLine = """PROBE (\S+) (\d+)""".r
}

/** Child-JVM half of the plain-builder test: one commit on a session
  * built with nothing but `SparkSession.builder().master(...)`, then
  * the count of default keys each shared conf keeps a source for.
  */
object ConfProvenanceProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").getOrCreate()
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_confsrc").toString
      TxTable.append(spark, dir, spark.range(0, 3).toDF("id"))
      SharedHadoopConfs.of(spark).foreach { case (n, c) =>
        println(s"PROBE $n ${ConfProvenanceSpec.withSources(c).size}")
      }
    } finally spark.stop()
  }
}
