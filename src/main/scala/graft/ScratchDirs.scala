package graft

/** Route the JVM's temp directory — where Spark places ad-hoc streaming
  * CHECKPOINTS (memory-sink queries without an explicit location) and its
  * shuffle/spill local dirs — onto tmpfs when the host has one.
  *
  * This is HARNESS placement, not engine semantics: the streaming floor for
  * a bounded feed is per-micro-batch state-store commit latency, and on
  * this box /tmp is ext4 while /dev/shm is RAM — the commit's
  * write+rename rounds are pure disk latency for kilobyte-sized state. A
  * production deployment sets real durable locations (`spark.local.dir`,
  * `checkpointLocation` on cluster storage) and never goes through this
  * path; checkpoint durability on tmpfs is exactly as strong as the
  * single-box /tmp default it replaces.
  */
object ScratchDirs {

  /** Delete `f` and, for a directory, everything under it. */
  private[graft] def wipe(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete(): Unit
  }

  /** Idempotent; call FIRST in a main, before the SparkSession builds.
    *
    * Gating (driver ADVICE r8): tmpfs routing silently changes what a
    * benchmark measures (RAM "spill" vs disk spill) and can exhaust
    * /dev/shm on big runs, so it is OPT-IN. Timed entrypoints (Bench)
    * call `preferTmpfs()` and only reroute when `GRAFT_SCRATCH=tmpfs` is
    * set in the environment; untimed harnesses (tests, Verify) call
    * `preferTmpfs(force = true)` — their wall time is nobody's metric and
    * the state-store commit rounds dominate otherwise. The effective
    * location is exposed via [[scratchRoot]] so Bench can record it in
    * its JSON metadata and cross-round numbers stay attributable.
    */
  def preferTmpfs(force: Boolean = false): Unit = synchronized {
    if (force || sys.env.get("GRAFT_SCRATCH").contains("tmpfs")) {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          !sys.props.get("java.io.tmpdir").exists(_.startsWith("/dev/shm/"))) {
        val d = new java.io.File(shm, s"graft-tmp-${ProcessHandle.current().pid()}")
        if (d.mkdirs() || d.isDirectory) {
          sys.props("java.io.tmpdir") = d.getAbsolutePath
          Runtime.getRuntime.addShutdownHook(new Thread(() => wipe(d)))
        }
      }
    }
  }

  /** Where scratch (spill, ad-hoc checkpoints) actually lands right now. */
  def scratchRoot: String = sys.props.getOrElse("java.io.tmpdir", "/tmp")
}
