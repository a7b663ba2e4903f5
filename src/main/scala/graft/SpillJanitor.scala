package graft

/** Stale shuffle-spill cleanup for [[Bench]].
  *
  * Every Spark JVM writes block-manager spill under `/tmp/spark-<uuid>`
  * and removes it on CLEAN shutdown — but a killed Bench or scale run
  * (OOM, ctrl-C, a scale experiment cut off mid-spill) leaves the
  * litter behind. Round 11 hit ENOSPC mid-measurement from ~50 GB of
  * exactly this (PLANS.md round-11 ops note) and the cleanup was
  * manual; this janitor makes it automatic at JVM start, BEFORE the
  * SparkSession exists (so none of the candidate dirs can be ours).
  *
  * Safety: only `/tmp/spark-*` directories whose mtime is older than
  * `staleAfterMin` are touched — a CONCURRENT healthy JVM's dir is
  * fresh (created at its session start) and survives; under the bench
  * protocol (no concurrent JVMs during a measured run) everything this
  * deletes is orphaned by construction. Errors are swallowed per-file:
  * a dir another process is actively deleting must not fail the bench.
  */
object SpillJanitor {

  /** Delete stale spark spill dirs; returns (nDirs, bytes) reclaimed. */
  def sweep(staleAfterMin: Long = 60L): (Int, Long) = {
    val cutoff = System.currentTimeMillis() - staleAfterMin * 60L * 1000L
    val tmp = new java.io.File("/tmp")
    val cands = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("spark-")
        && f.lastModified() < cutoff)
    var nDirs = 0
    var bytes = 0L
    cands.foreach { d =>
      try {
        bytes += delete(d)
        nDirs += 1
      } catch { case _: Throwable => () }
    }
    if (nDirs > 0)
      println(f"[janitor] reclaimed ${bytes / (1024.0 * 1024 * 1024)}%.1f GB" +
        s" from $nDirs stale /tmp/spark-* dirs")
    (nDirs, bytes)
  }

  /** Recursive delete returning bytes removed (best-effort per entry). */
  private def delete(f: java.io.File): Long = {
    var n = 0L
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(n += delete(_))
    } else n += f.length()
    try { if (!f.delete()) () } catch { case _: Throwable => () }
    n
  }
}
