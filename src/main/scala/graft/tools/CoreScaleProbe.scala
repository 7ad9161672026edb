package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Core-count scaling probe at a REAL decade (r18, VERDICT r17 task 2):
  * the driver's 8-vs-32-core bench comparison at sf0.1 is flat because
  * every query there is fixed-cost-bound (largest per-query shuffle
  * 26.9 MB, zero spill — the committed shuffle census), so it carries no
  * information about parallelism. This tool runs a named key list over a
  * `MakeSf` scale-up dir (default /tmp/graft_sf10) under the SAME env
  * contract as the bench (`local[$SPARK_GRAFT_CPUS]`,
  * `shuffle.partitions = $SPARK_GRAFT_CPUS`) and prints one JSON line —
  * run it once with SPARK_GRAFT_CPUS=8 and once with 32, and the per-key
  * ratios ARE the scaling evidence (shuffle-bound keys should approach
  * the core ratio; fixed-cost keys stay flat, which is itself the honest
  * reading).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_GRAFT_CPUS=8 \
  *          tools/run_main.sh graft.tools.CoreScaleProbe q1 q2 ...
  * Two timed passes per key, min reported (cold-JVM codegen lands in
  * pass 1; the min tracks the plan, not the weather).
  */
object CoreScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same untimed warmup as Bench: scan + shuffle + window machinery.
    locally {
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v")
      (1 to 1000).map(i => (i % 7, i)).toDF("k", "v")
        .withColumn("rn", row_number().over(w))
        .groupBy("k").agg(sum("rn")).count()
      graft.Tables(spark, dir, "lineitem").select(count(lit(1))).count()
    }
    // A pass that throws is no timing: its key reports null and the probe
    // exits non-zero.
    val results = args.toSeq.map { name =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { graft.SparkEntry.queries(name)(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[corescale] $name FAILED: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        Option.when(ok)(dt)
      }
      val best = Option.when(times.forall(_.isDefined))(times.flatten.min)
      println(f"[corescale] cpus=$cpus $name%-28s ${best.fold("FAILED")(t => f"$t%7.2f s")} " +
        s"(passes ${times.map(_.fold("failed")(t => f"$t%.2f")).mkString(", ")})")
      name -> best
    }
    val qs = results.map { case (k, v) => s""""$k":${v.fold("null")(t => f"$t%.3f")}""" }
      .mkString("{", ",", "}")
    println(s"""{"probe":"core_scale","cpus":$cpus,"sf_dir":"$dir","queries":$qs}""")
    spark.stop()
    if (results.exists(_._2.isEmpty)) sys.exit(1)
  }
}
