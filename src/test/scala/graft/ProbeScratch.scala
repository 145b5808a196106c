package graft

/** Scratch-directory discipline of the scale ladder (r13 + r14
  * reviews). A probe may only write into a directory it can PROVE is
  * probe scratch: a fresh path (the helper drops a sentinel file on
  * creation) or one carrying the sentinel from a previous probe run.
  * This closes BOTH halves of the mistyped-outRoot hazard — the r13
  * fix guarded only the final delete, but `mode("overwrite")` had
  * already clobbered any same-named parquet at WRITE time — and makes
  * cleanup exception-safe (a failed rung is exactly where multi-GB
  * scratch was historically abandoned). */
object ProbeScratch {
  private val Sentinel = ".graft_probe_scratch"

  /** Claims `outRoot` as probe scratch (creating it if needed), runs
    * `body`, and ALWAYS deletes the claimed root afterwards. Fails
    * loudly BEFORE any write when `outRoot` pre-exists without the
    * sentinel — a pre-existing data directory is never overwritten or
    * deleted. */
  def runWith(outRoot: String)(body: => Unit): Unit = {
    val root = new java.io.File(outRoot)
    val marker = new java.io.File(root, Sentinel)
    if (root.exists() && !marker.exists())
      sys.error(s"refusing to use pre-existing non-scratch directory " +
        s"'$outRoot' as probe scratch (no $Sentinel sentinel found) — " +
        "pass a fresh path")
    root.mkdirs()
    marker.createNewFile()
    try body
    finally rm(root)
  }

  private def rm(f: java.io.File): Unit = {
    // Never recurse through a directory SYMLINK (ADVICE r14):
    // listFiles follows it, so a link inside the scratch root would
    // have its TARGET's contents deleted — outside the sentinel-guarded
    // root. Delete the link itself only.
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
    }
    f.delete()
  }
}
