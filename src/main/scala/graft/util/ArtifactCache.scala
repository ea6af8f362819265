package graft.util

/** Once-per-(kind, dir) stored-artifact builder — THE index-build
  * idiom: the build is a [[Memo]] entry (built once per process, evicted
  * on failure), its path a fresh [[Memo.path]] registered for exit-time
  * cleanup BEFORE the build so a JVM kill cannot leak a partial
  * directory. An artifact lives for one process: the next process
  * rebuilds it from its input with the code it runs, so no artifact
  * built by older code or from older input is ever read. A parameter
  * that changes the artifact belongs in `kind` (`ivfpq_index-ck32`,
  * `stsrc_events-n4`). */
object ArtifactCache {
  def cached(kind: String, dir: String)(build: String => Unit): String =
    Memo(None, s"artifact:$kind", dir) {
      val path = Memo.path(s"graft_$kind")
      build(path)
      path
    }

  /** Snapshot of a directory's parquet part files (path → length) —
    * the append-contract witness: a delta write must leave every base
    * file present byte-identical in place. */
  def parquetListing(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      // listFiles() is null for vanished/unreadable dirs (a Spark
      // _temporary dir deleted mid-walk): guarded, so the witness
      // reports a file diff instead of an NPE
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }
}
