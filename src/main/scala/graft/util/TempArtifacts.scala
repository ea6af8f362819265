package graft.util

/** One process-wide ledger of per-process artifacts (every
  * [[Memo.path]] — memoized plans, bucket tables, IVF and inverted
  * indexes, streaming scratch — the witness dumps at
  * [[Memo.stablePath]] outside Verify, plus the session's local dir and
  * the streaming checkpoint root) with a single JVM shutdown hook
  * deleting them all — instead of one ad-hoc hook per module, or none.
  * Paths are registered BEFORE the write starts, so a JVM exit
  * mid-build still cleans the partial directory. Registration
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

  /** Root for the small per-process artifacts above plus the
    * cross-process memo/index stores: tmpfs when the host offers one
    * (round 12 — the GraftSession `spark.local.dir` convention applied
    * to our own artifact I/O: java.io.tmpdir here is disk-backed ext4,
    * so every tiny parquet memo/fixture write paid file-system
    * journaling, and v25's 64-file fragmentation fixture paid it 64
    * times), else java.io.tmpdir unchanged. Cluster deployments never
    * see this path — these artifacts are local-mode scratch. */
  lazy val fastBase: String = {
    val shm = new java.io.File("/dev/shm")
    // Capacity probe (round-13 ADVICE): tmpfs is typically capped at
    // 50% of RAM, and the artifacts routed here include bucketed table
    // copies and stored indexes that grow with the bench SF. Demand
    // comfortable headroom (16 GiB ≫ the ×100 artifact budget measured
    // in SCALING.md) before preferring it, and honor an explicit
    // opt-out, so a constrained host degrades to the disk-backed
    // tmpdir instead of ENOSPC mid-run.
    val wantTmpfs = !sys.env.contains("SPARK_GRAFT_NO_TMPFS") &&
      shm.isDirectory && shm.canWrite &&
      shm.getUsableSpace >= (16L << 30)
    if (wantTmpfs) "/dev/shm" else sys.props("java.io.tmpdir")
  }
}
