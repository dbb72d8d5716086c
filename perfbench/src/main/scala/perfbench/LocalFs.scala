package perfbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's raw local filesystem, setting permissions through java.nio.
  * Without Hadoop's native library the stock class forks a `chmod` process
  * for every file and directory it creates; at a few hundred files a crawl
  * round that fork latency, not the engine, would dominate the round. */
class NioRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val sym = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
      .map(_.SYMBOL).mkString
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(sym))
  }
}

/** The benchmark's `file:` filesystem (set in conf/core-site.xml): the
  * checksummed local filesystem over [[NioRawLocalFs]], counting listings
  * and file creations for the traced run. Bytes come from Hadoop's own
  * per-scheme statistics. */
class LocalFs extends LocalFileSystem(new NioRawLocalFs) {
  override def listStatus(f: Path): Array[FileStatus] = {
    LocalFs.lists.incrementAndGet()
    super.listStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    LocalFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object LocalFs {
  val lists = new AtomicLong()
  val creates = new AtomicLong()

  final case class Snap(readB: Double, writeB: Double, lists: Long, creates: Long) {
    def -(o: Snap): Snap = Snap(readB - o.readB, writeB - o.writeB, lists - o.lists, creates - o.creates)
    def +(o: Snap): Snap = Snap(readB + o.readB, writeB + o.writeB, lists + o.lists, creates + o.creates)
  }

  def snap(): Snap = {
    var r = 0L
    var w = 0L
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
    while (it.hasNext) {
      val s = it.next()
      if (s.getScheme == "file") {
        Option(s.getLong("bytesRead")).foreach(v => r += v)
        Option(s.getLong("bytesWritten")).foreach(v => w += v)
      }
    }
    Snap(r.toDouble, w.toDouble, lists.get(), creates.get())
  }
}
