package graft.table

import java.nio.file.{Files, FileSystems, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file` scheme without process starts. Without Hadoop's native
  * library, `RawLocalFileSystem.setPermission` runs `chmod` for every
  * file, `.crc` sidecar and directory a write creates, and a status's
  * permission, owner and group load by running `ls -ld`. Here both go
  * through the JDK's POSIX attribute view instead; checksums, the mode
  * bits written and the statuses reported stay exactly Hadoop's. Graft
  * routes its own table writes here per write (see [[writeOptions]]);
  * the session's default filesystem is left alone. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private final class Raw extends RawLocalFileSystem {
    // POSIX modes carry no sticky bit; such a (never graft-written)
    // mode keeps Hadoop's route
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.toString))

    override def getFileStatus(p: Path): FileStatus =
      new Status(super.getFileStatus(p))

    override def listStatus(p: Path): Array[FileStatus] =
      super.listStatus(p).map(st => new Status(st): FileStatus)
  }

  /** Hadoop's status minus its `ls`: permission, owner and group load
    * from the file's POSIX attributes on first use (an unloaded status
    * has an empty owner, the same test as Hadoop's own lazy status). */
  private final class Status(st: FileStatus) extends FileStatus(st.getLen,
      st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, null, null, st.getPath) {
    private def load(): Unit = synchronized {
      if (super.getOwner.isEmpty) {
        val a = Files.readAttributes(Paths.get(getPath.toUri.getPath),
          classOf[PosixFileAttributes])
        setPermission(FsPermission.valueOf(
          "-" + PosixFilePermissions.toString(a.permissions)))
        setOwner(a.owner.getName)
        setGroup(a.group.getName)
      }
    }
    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }

  /** Whether this JVM's default file store has the POSIX attribute
    * view; without it graft's local IO keeps Hadoop's forking route. */
  lazy val available: Boolean = {
    val ok = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
    log.info(if (ok) "local table IO: JDK POSIX attributes, no chmod/ls processes"
      else "local table IO: no POSIX attribute view, keeping Hadoop's chmod/ls route")
    ok
  }

  /** Spark writer options that send a write's `file` scheme through
    * this class: Spark copies writer options into the job's Hadoop
    * conf, so the committer and the task writers both see them. Empty
    * when [[available]] is false; harmless on other schemes. */
  lazy val writeOptions: Map[String, String] =
    if (!available) Map.empty
    else Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")

  /** A checksum-free local filesystem for graft's own log writes. */
  def raw(conf: Configuration): RawLocalFileSystem = {
    val fs = new Raw
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  /** Every file under `root`, recursively, from plain `listStatus`:
    * unlike `listFiles`, no `LocatedFileStatus` is built, so no status
    * loads its permission (an `ls -ld` per file on Hadoop's local route). */
  def leafFiles(fs: FileSystem, root: Path): Vector[FileStatus] =
    fs.listStatus(root).toVector.flatMap { st =>
      if (st.isDirectory) leafFiles(fs, st.getPath) else Vector(st)
    }
}
