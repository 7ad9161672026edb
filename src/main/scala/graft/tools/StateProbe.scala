package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files

/** One-shot probe for the Spark 4 state data source reader surface:
  * runs a small dropDuplicatesWithinWatermark stream to a scratch
  * checkpoint, then reads it back via `format("statestore")` and
  * `format("state-metadata")` and prints the exact schemas/rows — the
  * ground truth the st_state_read / st_state_meta oracles pin.
  *
  * Usage: tools/run_main.sh graft.tools.Probe state <sfDir>
  */
object StateProbe extends Subcommand {
  /** The state partition count the printed rows were pinned at. */
  override val confs: Seq[(String, String)] = Seq("spark.sql.shuffle.partitions" -> "32")

  def run(spark: SparkSession, args: Seq[String]): Int = {
    probeState(spark, args.headOption.getOrElse("/root/testdata/sf0.001"), 3, Map.empty)(
      (landing, sink, ckpt) => graft.streaming.StreamingOps.dedupEvents(landing,
          watermark = "3650 days")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()) { (st, ev) =>
      println("state rows: " + st.count() + "  events: " + ev.count())
    }
    0
  }

  /** Lands `dir`'s events in `slices` parquet files, runs the stream that
    * `start` builds over them (one file per trigger) into a scratch sink
    * dir and checkpoint, prints the checkpoint's `state-metadata` rows and
    * its `statestore` rows read with `options`, and hands those rows and
    * the events to `report`. The scratch dirs are deleted after, also
    * when a step fails. */
  private[tools] def probeState(spark: SparkSession, dir: String, slices: Int,
                                options: Map[String, String])(
      start: (DataFrame, String, String) => StreamingQuery)(
      report: (DataFrame, DataFrame) => Unit): Unit = {
    val ev = graft.Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val Seq(landing, sink, ckpt) = Seq("landing", "sink", "ckpt")
      .map(t => Files.createTempDirectory(s"graft_stateprobe_$t").toString)
    try {
      ev.repartition(slices).write.mode("overwrite").parquet(landing)
      val schema = spark.read.parquet(landing).schema
      start(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(landing),
        sink, ckpt).awaitTermination()

      println("=== state-metadata ===")
      val meta = spark.read.format("state-metadata").load(ckpt)
      meta.printSchema()
      meta.show(20, truncate = false)

      println(s"=== statestore${options.map { case (k, v) => s" $k=$v" }.mkString} ===")
      val st = spark.read.format("statestore").option("path", ckpt).options(options).load()
      st.printSchema()
      st.show(10, truncate = false)
      report(st, ev)
    } finally Seq(landing, sink, ckpt).foreach(p =>
      graft.queries.Fixtures.deleteRecursively(new java.io.File(p)))
  }
}
