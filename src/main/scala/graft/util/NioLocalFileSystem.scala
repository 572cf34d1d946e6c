package graft.util

import java.io.FileNotFoundException
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without process forks: a [[LocalFileSystem]]
  * (so `.crc` checksum sidecars are still written and verified) over
  * [[NioRawLocalFileSystem]].
  *
  * Without libhadoop, stock [[RawLocalFileSystem]] forks `chmod` on
  * every `create`/`mkdirs` and `ls -ld` the first time a status's
  * permission, owner or group is read (`listFiles` reads all three).
  * One fork costs milliseconds; a commit touches dozens of files.
  * Register with `spark.hadoop.fs.file.impl` ([[Sessions.builder]]).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] whose permission writes and status reads go
  * through `java.nio` instead of a shell command. Same bits as stock:
  * the mode written is the umasked one stock passes to `chmod`, and a
  * status reports the file's own mode (sticky bit included), owner and
  * group without following a symlink, as `ls -ld` does. A sticky-bit
  * write, which POSIX permission sets cannot express, and a platform
  * without the `unix` attribute view keep the stock code path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** Stock lists a directory's entries through [[getFileStatus]]; only a
    * plain file's own listing needs routing here.
    */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))

  override def getFileStatus(f: Path): FileStatus = {
    // size and times come from stock; its permission fields load lazily
    // (by fork) and are never touched here
    val st = super.getFileStatus(f)
    val attrs =
      try Files.readAttributes(pathToFile(f).toPath, "unix:mode,owner,group",
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: UnsupportedOperationException => return st
        // vanished since the stock lookup: listStatus skips such entries
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      new FsPermission((attrs.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      attrs.get("owner").asInstanceOf[UserPrincipal].getName,
      attrs.get("group").asInstanceOf[GroupPrincipal].getName,
      null, st.getPath)
  }
}
