package graft

/** Scratch-storage policy for every non-artifact byte the engine writes
  * (shuffle files, streaming state/checkpoints, staged stream sources,
  * snapshot materializations, managed-table warehouses).
  *
  * Guide §6: local scratch belongs on the fastest local storage the
  * host offers. The default java.io.tmpdir here sits on the host's
  * SHARED virtual disk, and r13 plan-metric dumps measured 11–14 s of
  * task-time in shuffleWriteTime (OPTIMIZATION_r13.md §3) for
  * KILOBYTE-sized exchanges while
  * co-tenants hammered that disk — pure I/O wait charged to whichever
  * qid was running. A RAM-backed tmpfs removes that channel entirely;
  * on a production cluster the same decision is "put spark.local.dir
  * on the provisioned NVMe", expressed via SPARK_GRAFT_LOCAL_DIR.
  *
  * Resolution order (decided once per JVM):
  *   1. SPARK_GRAFT_LOCAL_DIR — explicit deployment choice, any path.
  *   2. /dev/shm, only when it is a writable directory with ≥ 8 GiB
  *      usable (containers often mount a 64 MB shm — that must never
  *      take the shuffle; fixture-scale scratch is MBs, rehearsal
  *      corpora ≲ 1 GiB, both far under the guard).
  *   3. None — Spark/JVM defaults stand.
  *
  * Everything written under the fast root is rebuildable scratch keyed
  * by content/existence markers, so a reboot-cleared tmpfs merely
  * causes a re-stage, exactly like a reaped /tmp.
  */
object Scratch {
  /** Fast scratch root, if this host offers one (see resolution order). */
  lazy val fastRoot: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim).filter(_.nonEmpty)
      .orElse {
        try {
          val shm = java.nio.file.Paths.get("/dev/shm")
          if (java.nio.file.Files.isDirectory(shm) &&
              java.nio.file.Files.isWritable(shm) &&
              java.nio.file.Files.getFileStore(shm)
                .getUsableSpace >= (8L << 30)) {
            val root = shm.resolve("graft_scratch")
            java.nio.file.Files.createDirectories(root)
            Some(root.toString)
          } else None
        } catch { case _: Throwable => None }
      }

  /** Temp root for the engine's staged/derived data: the fast root when
    * available, else the JVM default — a drop-in replacement for
    * the java.io.tmpdir system property in scratch paths. */
  lazy val tmpRoot: String =
    fastRoot.getOrElse(System.getProperty("java.io.tmpdir"))

  /** Owner pid of a per-process scratch entry, if the name carries one
    * (graft_transport_<pid>_..., graft_chk_<pid>_...). */
  private val PidName = "graft_(?:transport|chk)_([0-9]+)(?:_.*)?".r
  private[graft] def pidOf(name: String): Option[Long] = name match {
    case PidName(p) => p.toLongOption
    case _ => None
  }

  /** Bound graft_scratch growth (r14, VERDICT r13 ask #8). Everything
    * under [[tmpRoot]] named graft_* is rebuildable staging, but two
    * classes used to accumulate forever on a long-lived host:
    * per-process dirs (graft_transport_<pid>_*, leaked checkpoint dirs
    * from crashed runs) — one per JVM ever run — and corpus-keyed
    * staging whose corpus was regenerated under a new key (the
    * per-source supersede logic only covers the same source). This
    * pass deletes (a) pid-keyed entries whose owner process is dead —
    * immediately safe, the owner is the only JVM that ever reads its
    * own transport/checkpoint staging — and (b) any other graft_*
    * entry older than `maxAgeMillis` (default 48 h).
    *
    * The _DONE-marker race, documented: corpus-keyed staging dirs are
    * written by the first JVM to need them and gated on a _DONE/marker
    * file; a CONCURRENT second JVM that loses the staging race re-reads
    * or re-stages on miss, so deletion is always recoverable — but
    * deleting a dir another live JVM is mid-read fails that JVM's one
    * query. The age bound is the mitigation: reads don't refresh mtime,
    * so the bound must exceed any plausible gap between a host's
    * staging and its last use (48 h ≫ the minutes a bench/verify run
    * lives). graft_scale (the rehearsal corpora, minutes to resynth)
    * is excluded outright.
    *
    * Returns the number of entries deleted. Injectable root/clock/
    * liveness for the unit test. */
  def cleanupStale(root: java.nio.file.Path = java.nio.file.Paths.get(tmpRoot),
      maxAgeMillis: Long = 48L * 3600 * 1000,
      now: Long = System.currentTimeMillis(),
      isAlive: Long => Boolean =
        pid => ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)): Int = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current().pid()
    var deleted = 0
    try {
      val listing = java.nio.file.Files.list(root)
      val entries =
        try listing.iterator().asScala.toSeq finally listing.close()
      entries.foreach { p =>
        val name = p.getFileName.toString
        val owned = name.startsWith("graft_") && name != "graft_scale"
        if (owned) {
          val stale = pidOf(name) match {
            case Some(pid) => pid != self && !isAlive(pid)
            case None =>
              try java.nio.file.Files.getLastModifiedTime(p).toMillis <
                now - maxAgeMillis
              catch { case _: Throwable => false }
          }
          if (stale) {
            try {
              val files = java.nio.file.Files.walk(p)
              try files.iterator().asScala.toSeq.reverseIterator
                .foreach(f => java.nio.file.Files.deleteIfExists(f))
              finally files.close()
              deleted += 1
            } catch { case _: Throwable => () } // another JVM won the race
          }
        }
      }
    } catch { case _: Throwable => () } // unreadable root: nothing to bound
    deleted
  }
}
