package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Pins the watermark-pushdown pitfall that st_join_window_replay routes
  * around (found empirically in round 15, previously documented only in
  * a comment): an in-stream filter placed between a stream-stream join
  * and a downstream window aggregate gets pushed by Catalyst below the
  * EventTimeWatermark nodes into BOTH scans. Sentinel rows then never
  * reach the watermark-stats collector, the watermark never advances
  * past the real data, and the final windows are silently withheld.
  *
  * The fixture makes the stall total: real data spans < watermark delay,
  * so WITHOUT the sentinels' advance nothing ever closes — the pitfall
  * variant must emit ZERO windows while the post-sink-filter variant
  * emits all of them. Both directions are asserted, so a future
  * Spark/Catalyst upgrade that stops (or starts) pushing the filter
  * breaks this spec loudly instead of silently changing
  * st_join_window_replay's safety argument.
  */
class WatermarkPushdownSpec extends SparkSpec {

  private val Minute = 60L * 1000
  private val Day = 24L * 3600 * 1000
  private val T0 = 1700000000000L // fixed epoch base; any constant works

  // slice writing + stream opening reuse the canonical replay helpers
  // (graft.queries.StreamingReplayQ) so the mtime/ordering contract
  // can't drift from the production landings this spec reasons about
  private def writeSlice(build: java.io.File, k: Int, df: DataFrame): Unit =
    graft.queries.StreamingReplayQ.writeSlice(build.toPath, k, df)

  /** One side's landing: the real rows as batch 0, then the two-step
    * far-future sentinels (advance, then flush) as batches 1-2. */
  private def landing(rows: Seq[(Long, Long)], sentinelIdBase: Long): String = {
    val s = spark; import s.implicits._
    val build = Files.createTempDirectory("graft_wmpd_landing").toFile
    def df(xs: Seq[(Long, Long)]) = xs.map { case (id, ms) =>
      Event(id, new java.sql.Timestamp(ms), if (id >= 0) 1L else -1L, "t", 0.0)
    }.toDF()
    writeSlice(build, 0, df(rows))
    val s1 = T0 + 370 * Day
    writeSlice(build, 1, df(Seq((sentinelIdBase, s1))))
    writeSlice(build, 2, df(Seq((sentinelIdBase - 1, s1 + 3600 * 1000))))
    build.toString
  }

  /** Runs the join→window chain; `inStreamFilter` selects the pitfall
    * variant (filter BETWEEN join and window) vs the post-sink cut. */
  private def run(inStreamFilter: Boolean): Seq[(java.sql.Timestamp, Long)] = {
    // left rows at +0/+5/+12/+25 min, right rows 1 min after each left:
    // all pairs join within the 30-minute gap; real span 26 min < the
    // 30-minute watermark delay, so only the sentinels can close windows
    val left = landing(Seq((0L, T0), (2L, T0 + 5 * Minute),
      (4L, T0 + 12 * Minute), (6L, T0 + 25 * Minute)), sentinelIdBase = -10L)
    val right = landing(Seq((1L, T0 + Minute), (3L, T0 + 6 * Minute),
      (5L, T0 + 13 * Minute), (7L, T0 + 26 * Minute)), sentinelIdBase = -20L)
    val sink = Files.createTempDirectory("graft_wmpd_sink").toString
    val ckpt = Files.createTempDirectory("graft_wmpd_ckpt").toString
    def fs(d: String) = graft.queries.StreamingReplayQ.fileStream(spark, d,
      graft.queries.StreamingReplayQ.eventLandingSchema)
    val joined = StreamingOps.timeBoundJoin(fs(left), fs(right),
      maxGap = "30 minutes", watermark = "30 minutes")
    val filtered = if (inStreamFilter) joined.filter(col("user_id") >= 0) else joined
    val q = filtered
      .groupBy(window(col("l_ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("window.start").as("w_start"), col("n_pairs"))
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(sink)
      .filter(col("w_start") <= lit(new java.sql.Timestamp(T0 + Day)))
      .orderBy("w_start")
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getLong(1)))
    Seq(left, right, sink, ckpt).foreach(p =>
      graft.queries.Fixtures.deleteRecursively(new java.io.File(p)))
    out
  }


  test("post-sink sentinel handling emits every real window") {
    val windows = run(inStreamFilter = false)
    // pairs (l,r): l at 0,5 -> window [T0, +10); l at 12 -> [+10,+20);
    // l at 25 -> [+20,+30). Each left matches every later-or-equal right
    // within 30 min: l@0 matches r@1,6,13,26 (4); l@5 matches r@6,13,26
    // (3); l@12 matches r@13,26 (2); l@25 matches r@26 (1).
    assert(windows.map(_._2) == Seq(7L, 2L, 1L),
      s"expected the 3 real windows with 7/2/1 pairs, got $windows")
  }

  test("in-stream filter between join and window stalls the watermark (pitfall pinned)") {
    val windows = run(inStreamFilter = true)
    assert(windows.isEmpty,
      "the in-stream-filter variant now emits windows: Catalyst no longer " +
        "pushes the filter below EventTimeWatermark. The pitfall " +
        "st_join_window_replay routes around has been fixed upstream — " +
        "re-evaluate its post-sink sentinel cut and update this spec.")
  }
}
