package graft.util

/** One process-wide ledger of per-process scratch (every [[Memo.path]]
  * — stored artifacts, the session's local and warehouse dirs, the
  * streaming checkpoint roots, the layout rewrites' scratch — and the
  * witness dumps at [[Memo.stablePath]] outside Verify) with a single
  * JVM shutdown hook deleting them all — instead of one ad-hoc hook per
  * module, or none. Paths are registered BEFORE the write starts, so a
  * JVM exit mid-build still cleans the partial directory. Registration
  * never deletes during the run (already-planned readers reference
  * these paths until exit). */
object TempArtifacts {
  private val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    paths.forEach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(p))
    }))

  /** Record `path` for deletion at JVM exit; returns it for chaining. */
  def register(path: String): String = {
    paths.add(path)
    path
  }

  /** The one root of all of it: tmpfs when the host offers one with
    * room to spare, else java.io.tmpdir. On a host whose tmpdir is
    * disk-backed ext4, every small parquet artifact write, shuffle
    * file and checkpoint commit pays file-system journaling that
    * local-mode scratch never needs; v25's 64-file fragmentation paid
    * it 64 times. Cluster deployments never see this path: it only
    * holds local-mode scratch. */
  lazy val fastBase: String = {
    val shm = new java.io.File("/dev/shm")
    // Capacity probe: tmpfs is typically capped at 50% of RAM, and
    // what lands here (bucketed table copies, stored indexes, shuffle
    // files) grows with the bench SF. Demand comfortable headroom
    // (16 GiB ≫ the ×100 artifact budget measured in SCALING.md)
    // before preferring it, and honor an explicit opt-out, so a
    // constrained host degrades to the disk-backed tmpdir instead of
    // ENOSPC mid-run.
    val wantTmpfs = !sys.env.contains("SPARK_GRAFT_NO_TMPFS") &&
      shm.isDirectory && shm.canWrite &&
      shm.getUsableSpace >= (16L << 30)
    if (wantTmpfs) "/dev/shm" else sys.props("java.io.tmpdir")
  }
}
