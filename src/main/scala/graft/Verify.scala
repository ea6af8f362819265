package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected registry entry's result
  * → parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // tools/check.py reads the witness dumps after this JVM exits
    graft.util.Memo.keepStablePaths()
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Failures must be VISIBLE, not just absent: round 5's testdata schema
    // change broke every events-based entry, and because a failed entry
    // simply produced no dump, the driver's correctness report silently
    // shrank from 154 rows to 82 all-green ones. verify_errors.json makes
    // a skipped entry a first-class artifact the driver/judge can see.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = Drive.selected
    selected.foreach { q =>
      val r = Drive.run(spark, q.run(_, sfDir), { df =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.id}")
        0L
      })
      r.problem.foreach { p =>
        errors(q.id) = p
        System.err.println(s"[verify] ${q.id} failed: $p")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the oracles of the entries this run dumped, and no others: a
    // SPARK_GRAFT_ONLY subset must not list entries check.py then finds
    // no output for (unset, every entry is selected and the file is the
    // full map)
    val ids = selected.map(_.id).toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => ids(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // mirror into the repo so the artifact survives even if the driver only
    // collects stdout + the named correctness file (path overridable so a
    // checkout elsewhere doesn't silently lose the mirror — best-effort
    // either way)
    try Files.writeString(Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_REPO_DIR", "/root/repo"), "VERIFY_ERRORS.json"), errJson)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
