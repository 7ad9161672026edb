package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming DECADE probe (round-15 verdict task #7): batch queries have
  * two-decade scale curves in SCALE.md, but the true-streaming replays
  * were only ever gated at sf0.01. This probe replays the two heaviest
  * stateful shapes — the watermarked stream-stream join and the
  * transformWithState running totals — over the SAME landings the gated
  * keys use, at any sf dir, and prints per-batch state-operator curves
  * (rows in state, rows updated, store memory, commit/execution times)
  * from the query's progress events. Run at sf0.01 and the MakeSf
  * decade to see whether per-batch cost scales with DATA (healthy: rows
  * per batch grow 100x, batch count fixed) or with STATE REOPENS
  * (unhealthy: fixed per-batch floor dominating at both scales).
  *
  * Usage: tools/run_main.sh graft.tools.Probe stream-scale <sfDir>
  */
object StreamScaleProbe extends Subcommand {
  override val confs: Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> "4") // the tuned replay conf

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    import spark.implicits._

    def report(tag: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.awaitTermination()
      q.recentProgress.foreach { p =>
        val so = p.stateOperators.toSeq.map { s =>
          s"""{"op":"${s.operatorName}","rowsTotal":${s.numRowsTotal},"rowsUpdated":${s.numRowsUpdated},"memBytes":${s.memoryUsedBytes}}"""
        }.mkString("[", ",", "]")
        println(s"""PROBE {"probe":"$tag","batch":${p.batchId},"inputRows":${p.numInputRows},""" +
          s""""execMs":${Option(p.durationMs.get("triggerExecution")).getOrElse(-1L)},""" +
          s""""commitMs":${Option(p.durationMs.get("commitOffsets")).getOrElse(-1L)},""" +
          s""""state":$so}""")
      }
    }

    // 1. Watermarked stream-stream join (the st_join_replay shape).
    {
      val left = graft.queries.StreamingReplayQ.joinLandingDir(spark, dir, 0)
      val right = graft.queries.StreamingReplayQ.joinLandingDir(spark, dir, 1)
      val sink = Files.createTempDirectory("graft_ssp_join_sink").toString
      val ckpt = Files.createTempDirectory("graft_ssp_join_ckpt").toString
      def fs(d: String) = graft.queries.StreamingReplayQ.fileStream(spark, d,
        graft.queries.StreamingReplayQ.eventLandingSchema)
      val q = graft.streaming.StreamingOps.timeBoundJoin(fs(left), fs(right),
          maxGap = "30 minutes", watermark = "3650 days")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      report("join", q)
      Seq(sink, ckpt).foreach(p => graft.queries.Fixtures.deleteRecursively(new java.io.File(p)))
    }

    // 2. transformWithState running totals (the st_running_totals shape).
    {
      spark.conf.set(Subcommand.rocksDb._1, Subcommand.rocksDb._2)
      val landing = graft.queries.StreamingReplayQ.sessionLandingDir(spark, dir)
      val sink = Files.createTempDirectory("graft_ssp_tws_sink").toString
      val ckpt = Files.createTempDirectory("graft_ssp_tws_ckpt").toString
      val q = graft.streaming.StreamingOps.runningTotals(
          graft.queries.StreamingReplayQ.fileStream(spark, landing,
              graft.queries.StreamingReplayQ.eventLandingSchema)
            .as[graft.streaming.Event])
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.UserTotal], _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      report("tws_totals", q)
      Seq(sink, ckpt).foreach(p => graft.queries.Fixtures.deleteRecursively(new java.io.File(p)))
    }
    0
  }
}
