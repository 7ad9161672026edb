package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runtime row-level Bloom-filter join probe: measure
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` injecting a
  * creation-side Bloom filter into the FACT scan of a shuffle join whose
  * dim side is selectively filtered — the automatic form of the manual
  * `j_bloom_prune` pattern (SketchQ), and the optimization that decides
  * whether a 100 TB fact scan ships 100× too many rows into the join
  * exchange.
  *
  * Shape: lineitem at the decade dir joined to orders filtered to a thin
  * price slice (~1 % of orderkeys) on the FK. Broadcast is disabled so
  * the join stays shuffle-side — the broadcast path already prunes via
  * DPP/broadcast reuse; the Bloom filter is the tool for the
  * both-sides-too-big-to-broadcast regime.
  *
  * Thresholds, the first lesson (same as SkewProbe): injection is gated
  * on `applicationSideScanSizeThreshold` (default 10 GB) — sized for
  * cluster-scale scans, so at the probe's ~2 GB decade scan the filter
  * is NEVER injected under defaults. The probe lowers the app-side gate
  * (100 MB) to see the behavior a 100 TB run gets for free. The metric
  * that matters is the join exchange's shuffle-write collapse: the wall
  * delta on one machine understates the win because a single box hides
  * network cost — on a cluster the pruned bytes are cross-node traffic.
  */
object BloomProbe extends Subcommand {
  override val confs: Seq[(String, String)] = Seq(
    // force the shuffle-join regime the Bloom filter exists for
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    // scale the app-side gate to the probe's data (default 10 GB
    // targets cluster scans — the probe's first lesson)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "100MB",
    // the creation-side gate compares the dim's ESTIMATED size — without
    // column stats the selective filter doesn't shrink the estimate, so
    // the default 10 MB rejects any real-sized dim; a 100 TB deployment
    // sets this to what it can afford to build (the filter itself stays
    // small — it's a bitmap, not the rows)
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB")

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      s"${sys.props("java.io.tmpdir")}/graft_sf100")
    val stats = new graft.StageMetrics(spark)

    val fact = graft.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    // ~1% of orders: a selective dim filter the fact side can't see
    // statically (no partition/minmax correlation with the FK).
    val dim = graft.Tables(spark, dir, "orders")
      .filter(col("o_totalprice") > 60000.0 && col("o_totalprice") <= 61000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))

    def variant(bloom: Boolean): Unit = {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", bloom.toString)
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s"))
      stats.drain()
      val t0 = System.nanoTime()
      val n = joined.collect().map(_.getLong(1)).sum
      val wall = (System.nanoTime() - t0) / 1e9
      val shuffleWriteMb = stats.drain().map(_.shuffleWrite).sum / 1e6
      // Read the plan AFTER execution (ADVICE r14): under AQE the
      // finally-executed plan can differ from the pre-execution one, so
      // the injected flag must come from the final plan.
      val injected = joined.queryExecution.executedPlan.toString()
        .contains("might_contain")
      println(f"PROBE bloom=$bloom%-5s injected=$injected%-5s wall=$wall%6.2f s " +
        f"rows=$n shuffleWriteMb=$shuffleWriteMb%9.1f")
    }

    variant(bloom = false) // also warms the OS page cache
    variant(bloom = false)
    variant(bloom = true)
    variant(bloom = true)
    0
  }
}
