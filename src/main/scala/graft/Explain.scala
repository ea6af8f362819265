package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan-audit main: dumps the formatted physical plan of every selected
  * registry entry to one file for review — the ".explain until it's the
  * plan you'd want" loop (prompt/SURVEY §4). Run:
  *   sbt "runMain graft.Explain /root/testdata/sf0.001 PLANS.txt"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = GraftSession.local(appName = "graft-explain")
    val sb = new StringBuilder
    val entries = Drive.selected.map(q =>
      (q.id, q.doc, (s: SparkSession) => q.run(s, sfDir)))
    // v66's entry plan reads the checkpointed ledger (zero raw scans by
    // design), so the plan the optimization rounds actually argue about
    // is the LEDGER's — dump it as a pseudo-entry alongside v66
    val ledgers =
      if (!entries.exists(_._1 == "v66_curation_dag")) Nil
      else for ((nm, fb) <- Seq(("v66_ledger", false), ("v66b_ledger", true)))
        yield (nm, s"verdictLedger(fixedBench=$fb) pre-checkpoint",
          (s: SparkSession) =>
            graft.nlp.CurationDagOps.verdictLedger(s, sfDir, fb))
    (ledgers ++ entries).foreach { case (id, doc, build) =>
      sb.append(s"==== $id — $doc\n")
      Drive.run(spark, build, { (df: DataFrame) =>
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        0L
      }).problem.foreach(p => sb.append(s"(explain failed: $p)\n"))
      sb.append("\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
