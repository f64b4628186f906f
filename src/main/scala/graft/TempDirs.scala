package graft

/** Temp directories that clean themselves up at JVM exit — for the
  * fixture-scale index/codes copies the registry queries materialize
  * (`q_sim_ivf_pq_stored`, Bench's `pq_split` prep). Verify/Bench/gate
  * JVMs are per-run, so exit-time deletion bounds /tmp growth across
  * repeated iterations that previously leaked one encoded-corpus copy
  * per call.
  */
object TempDirs {

  // ONE shutdown hook draining a concurrent list, installed lazily on the
  // first scratch() call — a long-lived session looping over
  // q_sim_ivf_pq_stored previously accumulated one hook thread per call.
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = pending.poll()
      while (p != null) { delete(p.toFile); p = pending.poll() }
    }))
  }
  // one live dir per prefix: re-requesting a prefix deletes the previous
  // scratch dir eagerly so looping sessions don't accumulate corpus copies
  private val live = new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** SINGLE-LIVE-CONSUMER CONTRACT (r20 advice): requesting a prefix
    * eagerly deletes the previous same-prefix dir, so any still-lazy plan
    * reading the old dir (e.g. a held stored-index search DataFrame) must
    * be fully consumed before the same prefix is requested again. Callers
    * that memoize a scratch path across invocations must make the prefix
    * injective for the content it backs (hash the identity into the
    * prefix — see Dedup.incrementalDedup).
    */
  def scratch(prefix: String): String = {
    hook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    pending.add(p)
    val prev = live.put(prefix, p)
    if (prev != null) { pending.remove(prev); delete(prev.toFile) }
    p.toString
  }

  /** Deletes `f` and, for a directory, everything below it (a symbolic
    * link is deleted, not followed).
    */
  private[graft] def delete(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }
}
