package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One-shot probe for reading a transformWithState checkpoint through
  * the state data source: runs [[graft.streaming.StreamingOps.runningTotals]]
  * over a 2-slice landing at N shuffle partitions, then reads the
  * checkpoint back with `format("statestore")` + `stateVarName` and
  * prints the exact key/value schema — the ground truth the
  * st_state_repartition migration path pins.
  *
  * Usage: tools/run_main.sh graft.tools.Probe tws-state <sfDir>
  */
object TwsStateProbe extends Subcommand {
  override val confs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4", Subcommand.rocksDb)

  def run(spark: SparkSession, args: Seq[String]): Int = {
    import spark.implicits._
    StateProbe.probeState(spark, args.headOption.getOrElse("/root/testdata/sf0.001"), 2,
        Map("stateVarName" -> "totals"))(
      (landing, sink, ckpt) => graft.streaming.StreamingOps.runningTotals(
          landing.as[graft.streaming.Event])
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.UserTotal], _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()) { (st, ev) =>
      println("state rows: " + st.count() +
        "  distinct users: " + ev.select(countDistinct(col("user_id"))).head().getLong(0))
    }
    0
  }
}
