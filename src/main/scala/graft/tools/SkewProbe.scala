package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** AQE skew-join probe (round-14 verdict stretch task): measure how
  * `spark.sql.adaptive.skewJoin` splits one hot join key, against the
  * same join with the splitter disabled — the data for SCALE.md's "when
  * is manual salting (j_skew_salted) still needed" row.
  *
  * Shape: lineitem at the decade dir, join key = `l_orderkey % 100`
  * except ~30 % of rows collapsed onto key 0 (one genuinely hot key
  * among 99 normal ones — AQE's skew detector needs a hot PARTITION
  * relative to the median, which the 3-uniformly-hot-keys shape of
  * j_skew_salted deliberately does not give it). The dim side is a
  * 100-row frame; broadcast is disabled on both the static and AQE
  * planners so the join stays sort-merge — the only join kind the
  * skew splitter rewrites.
  *
  * Thresholds: the DEFAULT skewedPartitionThresholdInBytes (256 MB) and
  * advisoryPartitionSizeInBytes (64 MB) target cluster-scale shuffle
  * partitions; at this probe's scale the hot partition is tens of MB,
  * so the probe lowers them (8 MB / 2 MB) to make the detector see the
  * same RELATIVE skew a 100 TB run would. That is the first SCALE.md
  * lesson: AQE skew-join is size-threshold-gated, so a "skewed but
  * everywhere-small" stage under the advisory size is never split —
  * manual salting remains the tool there, and for skewed AGGREGATIONS
  * (no join for AQE to rewrite).
  *
  * Reported per variant: wall seconds, join-stage task count, max and
  * median task ms — the spread collapse (max/median → ~1) is the win.
  */
object SkewProbe extends Subcommand {
  override val confs: Seq[(String, String)] = Seq(
    // keep the join a sort-merge join: broadcast would bypass both the
    // skew and the splitter
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    // scale AQE's size gates down to the probe's data (see scaladoc)
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    // coalescing would merge the 99 small partitions and muddy the
    // task-count comparison; leave partitions as sized
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** (task count, max ms, median ms) of the BOTTLENECK stage — the one
    * holding the longest single task. Wall-clock is gated on that task;
    * by-total-time selection flips between the (uniform) scan and the
    * (skewed) join once the page cache warms, muddying the comparison. */
  private def heaviestStage(stages: Seq[graft.StageMetrics.Stage]): (Int, Long, Long) =
    stages.filter(_.taskMs.nonEmpty).map(_.taskMs.sorted).maxByOption(_.last)
      .fold((0, 0L, 0L))(ds => (ds.length, ds.last, ds(ds.length / 2)))

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      s"${sys.props("java.io.tmpdir")}/graft_sf100")
    val stats = new graft.StageMetrics(spark)

    // One hot key (0) holding ~30% of the fact, 99 normal keys.
    val fact = graft.Tables(spark, dir, "lineitem")
      .select(
        when(col("l_orderkey") % 100 < 30, lit(0L))
          .otherwise(col("l_orderkey") % 100).as("k"),
        col("l_extendedprice"))
    val dim = spark.range(100).select(col("id").as("k"),
      concat(lit("grp_"), col("id") % 10).as("grp"))

    def variant(skewJoin: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      stats.drain()
      val t0 = System.nanoTime()
      val n = fact.join(dim, "k")
        .groupBy(col("grp"))
        .agg(sum(col("l_extendedprice")).as("s"), count(lit(1)).as("n"))
        .collect().map(_.getLong(2)).sum
      val wall = (System.nanoTime() - t0) / 1e9
      val (tasks, maxMs, medMs) = heaviestStage(stats.drain())
      println(f"PROBE skewJoin=$skewJoin%-5s wall=$wall%6.2f s rows=$n " +
        f"joinStageTasks=$tasks maxTaskMs=$maxMs medianTaskMs=$medMs " +
        f"spread=${maxMs.toDouble / math.max(1, medMs)}%.1fx")
    }

    variant(skewJoin = false) // also warms the input cache
    variant(skewJoin = false)
    variant(skewJoin = true)
    variant(skewJoin = true)
    0
  }
}
