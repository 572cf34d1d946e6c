package graft

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `racefs` scheme, with one hook: the
  * body given to [[RaceFs.beforeNextManifest]] runs, once, when the next
  * manifest tmp file (`.tmp_*`) is created — inside a commit's slot
  * claim, after its conflict checks passed. A racing commit run there
  * lands deterministically between a committer's checks and its claim.
  * Register with `fs.racefs.impl`; not being the `file` scheme, TxTable
  * claims through its rename path. Statuses carry default permissions:
  * the local one loads them through a `file:` URI, which a `racefs:`
  * path is not. `listStatus`, `open` and `rename` calls are counted per
  * path ([[RaceFs.calls]]). A second hook, [[RaceFs.beforeListing]],
  * runs a body once just before the n-th `_txlog` listing, so a commit
  * can land between two log reads of one operation.
  */
class RaceFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racefs:///")
  override def getScheme: String = "racefs"

  override def listStatus(f: Path): Array[FileStatus] = {
    RaceFs.count("listStatus", f)
    RaceFs.listing(f)
    super.listStatus(f).map(RaceFs.plain)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    RaceFs.count("open", f)
    super.open(f, bufferSize)
  }

  /** Counted by its destination. */
  override def rename(src: Path, dst: Path): Boolean = {
    RaceFs.count("rename", dst)
    super.rename(src, dst)
  }

  override def getFileStatus(f: Path): FileStatus =
    RaceFs.plain(super.getFileStatus(f))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RaceFs.fire(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    RaceFs.fire(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object RaceFs {
  private var hook: Option[() => Unit] = None
  private var listingHook: Option[(Int, () => Unit)] = None
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  private def count(op: String, f: Path): Unit =
    counts.merge((op, f.toUri.getPath), 1L, _ + _)

  /** Calls of `op` (`listStatus`, `open` or `rename`) since the last
    * [[resetCalls]] on paths that satisfy `path`.
    */
  def calls(op: String)(path: String => Boolean): Long = {
    import scala.jdk.CollectionConverters._
    counts.asScala.collect { case ((o, p), n) if o == op && path(p) => n }.sum
  }

  def resetCalls(): Unit = counts.clear()

  def beforeNextManifest(body: => Unit): Unit =
    synchronized { hook = Some(() => body) }

  /** Run `body`, once, just before the `n`-th `_txlog` listing from now
    * (`n >= 1`); listings are counted as [[calls]] counts them.
    */
  def beforeListing(n: Int)(body: => Unit): Unit = {
    require(n >= 1, "n counts listings from 1")
    synchronized { listingHook = Some((n, () => body)) }
  }

  /** Drop a [[beforeListing]] hook; true iff it had not fired yet. */
  def cancelListingHook(): Boolean =
    synchronized { val armed = listingHook.isDefined; listingHook = None; armed }

  private def listing(f: Path): Unit =
    if (f.getName == "_txlog") {
      val due = synchronized {
        listingHook match {
          case Some((1, body)) => listingHook = None; Some(body)
          case Some((n, body)) => listingHook = Some((n - 1, body)); None
          case None => None
        }
      }
      due.foreach(_())
    }

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)

  private def fire(f: Path): Unit =
    if (f.getName.startsWith(".tmp_")) {
      val h = synchronized { val h = hook; hook = None; h }
      h.foreach(_())
    }
}
