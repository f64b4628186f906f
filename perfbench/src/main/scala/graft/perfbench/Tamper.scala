package graft.perfbench

import org.apache.hadoop.fs.{FileUtil, Path}

import graft.sink.CommitLog

/** Deliberate damage to a landed table, for the self-test that proves the
  * correctness gate can fail: `manifest` deletes one epoch's manifest (its
  * rows vanish), `duplicate` commits a copy of one committed file as a new
  * epoch (its rows land twice).
  */
object Tamper {
  def apply(ctx: Ctx, tableDir: String): Unit = ctx.tamper.foreach { kind =>
    val log = new CommitLog(tableDir, ctx.conf)
    kind match {
      case "manifest" =>
        ctx.fs.delete(log.manifestPath(log.committedEpochs().filter(_ >= 0).max), false)
      case "duplicate" =>
        val f = new Path(log.committedFiles().head)
        val copy = new Path(f.getParent, "dup-" + f.getName)
        FileUtil.copy(ctx.fs, f, ctx.fs, copy, false, ctx.conf)
        log.commit(log.committedEpochs().max + 1, Seq(copy.toString))
      case other => throw new IllegalArgumentException(s"unknown tamper '$other'")
    }
    System.err.println(s"[perfbench] tampered: $kind on $tableDir")
  }
}
