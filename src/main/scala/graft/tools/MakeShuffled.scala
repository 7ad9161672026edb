package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Writes a LAYOUT-SHUFFLED copy of a testdata dir: identical rows,
  * different physical arrangement — rows hash-scattered across a
  * different partition count and ordered differently within files.
  * Input to the layout-invariance sweep (`check_layout_invariance.py`):
  * a query whose VALUES depend on physical layout (an under-specified
  * window order, an order-sensitive `first()`, a partition-dependent
  * sample) produces a different output on this copy than on the
  * original — the whole defect class behind round 13's `g_scc` catch
  * (engines agreed at one layout, diverged at another), hunted
  * systematically instead of waiting for a decade probe to trip it.
  *
  * The scatter key is a HASH of all columns (deterministic in the data,
  * not in the input layout), so the copy itself is reproducible.
  *
  * Run: `tools/run_main.sh graft.tools.Probe make-shuffled [srcDir] [outDir]`.
  */
object MakeShuffled extends Subcommand {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/graft_shuf_sf001")
    graft.Tables.names.foreach { name =>
      val dest = s"$out/$name.parquet"
      if (!new java.io.File(s"$dest/_SUCCESS").exists()) {
        val base = graft.Tables(spark, src, name)
        base
          .withColumn("__scatter", pmod(xxhash64(base.columns.map(col): _*), lit(7)))
          .repartition(7, col("__scatter"))
          .sortWithinPartitions(col("__scatter")) // co-locates unlike neighbors
          .drop("__scatter")
          .write.mode("overwrite").parquet(dest)
        println(s"[shuf] $name -> $dest")
      }
    }
    0
  }
}
