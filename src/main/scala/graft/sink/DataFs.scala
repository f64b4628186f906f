package graft.sink

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell

/** Decides which file system the sink creates its landed data files
  * (their partition directories and bloom sidecars), Compact.run's
  * outputs, and the commit log's manifests, shards and compaction-index
  * markers through.
  *
  *  - A checksummed fs is bypassed for its raw fs: `ChecksumFileSystem`'s
  *    output stream never propagates `flush()` (so the keep-alive could
  *    not make bytes visible mid-epoch), and every file would gain a
  *    `.crc` sidecar plus client-side checksumming. Data files are
  *    verified by their own format (parquet/orc footers, JSONL line
  *    parsing), not by a sidecar.
  *  - When that raw fs is exactly Hadoop's `RawLocalFileSystem`, a
  *    [[ForkFreeLocalFs]] over the same URI and conf stands in for it:
  *    without libhadoop, the stock one forks `chmod` on every create and
  *    on every new directory.
  *  - Anything else — HDFS, S3A, a user's own `fs.<scheme>.impl` or raw
  *    subclass — is used as configured.
  *
  * A manifest carries its own CRC-32 in place of the sidecar, and each
  * shard's CRC-32 rides its reference in the manifest. What still goes
  * through the checksummed fs, `.crc` checked on read: the table records
  * (`_schema.json`, `_partitioning`), Compact's lock and its ledgers.
  */
object DataFs {

  def resolve(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem match {
      case raw if raw.getClass == classOf[RawLocalFileSystem] =>
        val local = new ForkFreeLocalFs
        local.initialize(raw.getUri, raw.getConf)
        local
      case raw => raw
    }
    case other => other
  }
}

/** Hadoop's local file system with one difference: `setPermission` sets
  * the nine permission bits through java.nio, where the stock one spawns
  * `chmod` when libhadoop is absent. Every create and mkdirs calls it with
  * the mode 0666 (files) or 0777 (directories) & ~umask, so modes,
  * create-new semantics, parent creation, buffering and statistics are
  * Hadoop's own. On Windows, or for a mode carrying the sticky bit, the
  * stock path runs.
  */
final class ForkFreeLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (Shell.WINDOWS || permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(
      pathToFile(p).toPath, ForkFreeLocalFs.posix(permission.toShort))
}

object ForkFreeLocalFs {
  // PosixFilePermission declares owner/group/others × read/write/execute
  // in the same order as the nine mode bits, high to low
  private val bits = PosixFilePermission.values

  private[sink] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < bits.length) {
      if ((mode & (1 << (8 - i))) != 0) set.add(bits(i))
      i += 1
    }
    set
  }
}
