package graft.util

/** Once-per-(kind, dir) stored-artifact builder — THE index-build
  * idiom: the build is a [[Memo]] entry (built once per process, evicted
  * on failure), its path a fresh [[Memo.path]] registered for exit-time
  * cleanup BEFORE the build so a JVM kill cannot leak a partial
  * directory. */
object ArtifactCache {
  def cached(kind: String, dir: String)(build: String => Unit): String =
    Memo(None, s"artifact:$kind", dir) {
      val path = Memo.path(s"graft_$kind")
      build(path)
      path
    }

  // ---- persistent (cross-process) catalog ----------------------------
  //
  // The honest 100 TB shape computes an index/codebook/probe ONCE and
  // REUSES it across runs; the per-process memo above forgets everything
  // at exit, so every process (Verify, Bench, each test JVM) re-built
  // the same stored artifacts. `persistent` adds a disk catalog under
  // one well-known root, keyed by (kind, builder version, content
  // fingerprint of the source dir's parquet files): a cold process
  // whose inputs are byte-identical ADOPTS the warm process's artifact
  // instead of rebuilding. The round-3 fixture-clobber guard is
  // structural: a build lands in a fresh pid+seq tmp dir, its
  // _COMPLETE marker is written INSIDE, and the whole dir is renamed
  // into place exactly once — a published artifact is immutable, never
  // mode(overwrite)-swapped under a reader, and a lost publish race
  // simply adopts the winner. Builders bump `version` when the
  // artifact FORMAT changes (the index-format-version contract every
  // storage engine has); a changed input file changes the fingerprint
  // and so the path.

  private val catalogRoot: java.io.File = {
    val f = new java.io.File(
      s"${graft.util.TempArtifacts.fastBase}/graft_artifact_catalog")
    java.nio.file.Files.createDirectories(f.toPath)
    f
  }

  /** md5 over the sorted (name, length, mtime) of `dir`'s top-level
    * parquet files — the input identity of every table-derived
    * artifact. */
  private[graft] def inputFingerprint(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(
        Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length()}:${f.lastModified()}")
    // a dir with NO top-level parquet (mistyped path, pre-ingest dir)
    // must not alias every other such dir to md5("") in the SHARED
    // catalog — that would let a later process silently adopt an
    // artifact built from the wrong dir's data. Keep the historical
    // fingerprint for the normal case (existing published artifacts
    // stay valid); disambiguate the empty case by the canonical path.
    val id =
      if (files.isEmpty)
        s"EMPTY|${new java.io.File(dir).getCanonicalPath}"
      else files.mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Like [[cached]], but the artifact survives the process: resolved
    * against the disk catalog first, built-and-published only when no
    * prior process left a _COMPLETE artifact for the same (kind,
    * version, input fingerprint). Returns the immutable published
    * path. */
  def persistent(kind: String, version: String, dir: String)(
      build: String => Unit): String =
    Memo(None, s"persistent:$kind@$version", dir, counted = false) {
      val fp = inputFingerprint(dir)
      val finalDir =
        new java.io.File(catalogRoot, s"${kind}_${version}_$fp")
      val marker = new java.io.File(finalDir, "_COMPLETE")
      if (!marker.exists()) {
        BuildCounters.inc(s"persistent:$kind@$version:$dir")
        val tmp = Memo.path(
          s"${catalogRoot.getName}/.build_${kind}_${version}_$fp")
        build(tmp)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "_COMPLETE"),
          Array.emptyByteArray): Unit
        if (!new java.io.File(tmp).renameTo(finalDir)) {
          // lost the publish race (or a stale finalDir without a
          // marker blocks the rename): adopt the winner if complete,
          // otherwise surface the inconsistency loudly
          require(marker.exists(),
            s"artifact publish failed and $finalDir is incomplete")
        }
      }
      finalDir.getPath
    }

  /** TEST-ONLY seam: forget the in-process memo for kinds matching
    * `prefix` so a spec can prove the disk catalog alone satisfies a
    * "cold process" lookup (prefix-scoped so the spec never evicts
    * other suites' live artifacts mid-JVM). */
  private[graft] def resetInProcess(prefix: String): Unit = {
    Memo.forget(s"artifact:$prefix")
    Memo.forget(s"persistent:$prefix")
  }

  /** Snapshot of a directory's parquet part files (path → length) —
    * the append-contract witness: a delta write must leave every base
    * file present byte-identical in place. */
  def parquetListing(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      // listFiles() is null for vanished/unreadable dirs (a Spark
      // _temporary dir deleted mid-walk) — same guard as
      // inputFingerprint, or the witness fails with an NPE instead of
      // a file diff
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }
}
