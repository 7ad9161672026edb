package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Fleet-wide scan-count audit: for every registered query, counts how
  * many file scan nodes its final executed plan (subqueries included,
  * reused exchanges not) has per source table and prints the queries
  * that read some table more than once. A table
  * scanned twice inside one query usually means Catalyst inlined a
  * shared frame into each reference (it does not share DAG nodes) — the
  * round-7 class of defect fixed in Q15/Q17/Q20, TF-IDF, retention, and
  * the prefix-sum queries. Some multi-scans are intentional (self-joins
  * like g_triangles, set ops over one table, per-stage funnel filters);
  * the audit surfaces candidates, a human judges intent.
  *
  * Usage: tools/run_main.sh graft.tools.Probe scan-audit [sfDir]
  */
object ScanAudit extends Subcommand with AdaptiveSparkPlanHelper {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val tableRe = "/([a-z_]+)\\.parquet".r
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val scans = collectWithSubqueries(Plan.executed(spark, dir, name).executedPlan) {
          case s: FileSourceScanExec => s.relation.location.rootPaths.mkString(",")
        }.flatMap(p => tableRe.findFirstMatchIn(p).map(_.group(1)))
        val multi = scans.groupBy(identity).filter(_._2.size > 1)
        if (multi.nonEmpty)
          println(s"[scans] $name: " +
            multi.map { case (t, s) => s"$t x${s.size}" }.mkString(", "))
      } catch {
        case e: Throwable => println(s"[scans] $name: ERROR ${e.getMessage}")
      }
    }
    0
  }
}
