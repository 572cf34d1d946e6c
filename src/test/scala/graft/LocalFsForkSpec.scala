package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ops.TxTable
import graft.util.{NioLocalFileSystem, NioRawLocalFileSystem}

/** The session's `file:` filesystem starts no processes (stock Hadoop
  * without libhadoop forks `chmod` per created file or dir and `ls -ld`
  * per permission read) and leaves the same bits, owners and checksum
  * sidecars stock does.
  */
class LocalFsForkSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_fsfork").toString

  test("append, mergeInto and read start no process") {
    val s = spark
    import s.implicits._
    val dir = tmp() + "/t"
    val rows = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "w")
    // warm-up outside the recording: one-time JVM/Hadoop initialisation
    // (shell capability probes) is not per-operation work
    TxTable.append(spark, tmp() + "/warm", rows)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      TxTable.append(spark, dir, rows)
      TxTable.mergeInto(spark, dir,
        Seq((2L, "bb", 5.0), (3L, "c", 3.0)).toDF("id", "v", "w"),
        Seq("id"), updateSet = Map("w" -> TxTable.src("w")))
      assert(TxTable.read(spark, dir).count() === 3L)
    } finally rec.stop()
    val out = Files.createTempFile("graft_fsfork", ".jfr")
    rec.dump(out)
    rec.close()
    // Spark deletes its own scratch dirs (session artifacts, shuffle
    // files) with a forked `rm -rf` on its cleaner threads whenever GC
    // lets it — not file-system work, and not this spec's subject
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filterNot(_.getString("command").startsWith("rm -rf "))
    assert(starts.isEmpty,
      starts.map(_.getString("command")).mkString("forked: ", " | ", ""))
    // the data files still got their checksum sidecars
    val data = Files.walk(Paths.get(dir, "data")).iterator().asScala
      .map(_.getFileName.toString).toList
    val parts = data.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(p => assert(data.contains(s".$p.crc"), s"no .crc for $p"))
  }

  test("the session resolves file: to the fork-free filesystem") {
    val fs = FileSystem.get(new URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("permission bits, owner and group match stock RawLocalFileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new RawLocalFileSystem
    stock.initialize(new URI("file:///"), conf)
    val nio = new NioRawLocalFileSystem
    nio.initialize(new URI("file:///"), conf)
    val root = tmp()
    def make(fs: RawLocalFileSystem, tag: String): (Path, Path) = {
      val d = new Path(s"$root/$tag/a/b")
      assert(fs.mkdirs(d))
      val f = new Path(d, "f.bin")
      fs.create(f).close()
      (d, f)
    }
    val (sd, sf) = make(stock, "stock")
    val (nd, nf) = make(nio, "nio")
    // what lands on disk
    Seq((sd, nd), (sf, nf), (sd.getParent, nd.getParent)).foreach {
      case (a, b) =>
        val pa = stock.pathToFile(a).toPath; val pb = nio.pathToFile(b).toPath
        assert(Files.getPosixFilePermissions(pa) ===
          Files.getPosixFilePermissions(pb), s"$a vs $b")
        assert(Files.getOwner(pa) === Files.getOwner(pb))
    }
    // what a status reports, read by stock (ls -ld) and by nio, of the
    // same path — a sticky dir included
    val sticky = new Path(s"$root/sticky")
    stock.mkdirs(sticky)
    stock.setPermission(sticky,
      new FsPermission(Integer.parseInt("1777", 8).toShort))
    Seq(sd, sf, nd, nf, sticky).foreach { p =>
      val a = stock.getFileStatus(p); val b = nio.getFileStatus(p)
      assert(b.getPermission === a.getPermission, p.toString)
      assert(b.getOwner === a.getOwner && b.getGroup === a.getGroup)
      assert(b.getLen === a.getLen && b.isDirectory === a.isDirectory)
      assert(b.getModificationTime === a.getModificationTime)
    }
    assert(nio.getFileStatus(sticky).getPermission.getStickyBit)
    // listings: a dir's entries, and a plain file's own listing
    def listed(fs: RawLocalFileSystem, p: Path) =
      fs.listStatus(p).map(st => (st.getPath.getName, st.getPermission,
        st.getOwner, st.getGroup)).toSeq.sortBy(_._1)
    assert(listed(nio, nd) === listed(stock, nd))
    assert(listed(nio, nf) === listed(stock, nf))
    // an explicit setPermission writes the same mode
    val mode = new FsPermission(Integer.parseInt("0640", 8).toShort)
    stock.setPermission(sf, mode); nio.setPermission(nf, mode)
    assert(Files.getPosixFilePermissions(nio.pathToFile(nf).toPath) ===
      Files.getPosixFilePermissions(stock.pathToFile(sf).toPath))
    assert(intercept[java.io.FileNotFoundException](
      nio.getFileStatus(new Path(s"$root/missing"))) != null)
  }
}
