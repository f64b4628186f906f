package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its metadata, open and create calls
  * counted. The local file system keeps no operation counts of its own
  * (its `FileSystem.Statistics` read and write ops stay 0), so a traced run
  * makes this the cached `file:` file system to count what the sink asks
  * of storage. The counts sit in the raw file system, under the checksummed
  * one, since the sink writes data files through the raw one; a create
  * with permissions goes through the counted plain create.
  */
final class CountingFs extends LocalFileSystem(new CountingRawFs)

object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong

  /** Makes this the cached `file:` file system every later lookup gets. */
  def install(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingFs].getName)
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), conf)
    ()
  }
}

final class CountingRawFs extends RawLocalFileSystem {
  import CountingFs.{reads, writes}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}
