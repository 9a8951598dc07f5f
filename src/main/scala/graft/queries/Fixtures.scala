package graft.queries

/** Per-process temp fixture paths.
  *
  * Query fixtures (at-rest table copies, signature/blob tables,
  * chunked-HDF5 snapshots) are memoized per JVM but were written to
  * SHARED /tmp paths keyed only by dataset dir — two concurrent graft
  * JVMs (a Verify beside a Bench, or parallel Verify passes) could
  * overwrite a fixture another process was mid-reading (observed:
  * UNABLE_TO_INFER_SCHEMA when a second Verify's overwrite emptied
  * the sorted-lineitem copy under a concurrent scan). Pid isolation
  * makes every fixture single-writer by construction. Within a
  * process a fixture's path is a pure function of its prefix and the
  * dataset dir, so an oracle computes the path its build wrote from
  * the dataset alone; the files outlive the process for the baseline
  * replay.
  */
object Fixtures {
  private val pid = ProcessHandle.current().pid()

  /** Best-effort sweep of fixture dirs left by DEAD graft processes —
    * pid-scoped paths fix the concurrent-overwrite race but would
    * otherwise accumulate a fresh copy of every fixture per process
    * with no cleanup. Runs once per JVM, first tmpPath call: any
    * `graft_*_<pid>_<hash>` entry whose pid is dead AND whose content
    * hasn't changed for `SweepAgeMs` is deleted. The age guard
    * protects the baseline-replay protocol: oracle_sql.json
    * interpolates fixture paths that DuckDB replays MINUTES after the
    * writing JVM exits (dedup_simhash signature table), so a
    * same-round replay must survive an interleaved Bench JVM's sweep;
    * hours-old debris from previous rounds goes. Failures are
    * ignored — the next process sweeps again. */
  private val SweepAgeMs = 3L * 3600 * 1000

  private lazy val sweep: Unit = {
    val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val stale = "^graft_.*_([0-9]+)_[0-9a-f]+$".r
    val cutoff = System.currentTimeMillis() - SweepAgeMs
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case stale(p) if p.toLong != pid && f.lastModified() < cutoff &&
            !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive).orElse(false) =>
          try delete(f) catch { case _: Exception => }
        case _ =>
      }
    }
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }

  /** `/tmp/<prefix>_<pid>_<datasetHash>` — stable within a process,
    * disjoint across processes. */
  def tmpPath(prefix: String, datasetDir: String): String = {
    sweep
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/" + prefix +
      "_" + pid + "_" + Integer.toHexString(datasetDir.hashCode)
  }

  private val written = scala.collection.mutable.Set.empty[String]

  /** The per-(JVM, dataset) artifact at `p`: runs `write(p)` the first
    * time `p` is asked for in this process, then returns `p`.
    * Reentrant, so one artifact may be built from another. */
  def writeOnce(p: String)(write: String => Unit): String =
    written.synchronized {
      if (!written(p)) { write(p); written += p }
      p
    }
}
