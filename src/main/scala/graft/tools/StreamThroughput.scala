package graft.tools

import graft.ops.LabelRule
import graft.pipeline.BytesPipeline
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Streaming-flagship throughput measurement (BASELINE.md evidence): the
  * same synthetic capture the batch `Throughput` tool uses, laid out as a
  * multi-file landing zone (the shape a streaming ingest actually sees —
  * the binaryFile source holds one whole file per task, so a single
  * multi-GB file is neither splittable nor realistic here), processed by
  * `BytesPipeline.runStreaming` with `Trigger.AvailableNow`: catch up on
  * every file present through the checkpointed incremental path, then
  * stop. Reports end-to-end wall time (including the parquet sink, which
  * the batch tool's `count` elides), rows/s, MB/s, and micro-batch count.
  *
  * Arg 1 (optional): packet count, default 12,000,000 (~4.1 GB across 128
  * files — ~32 MB each, so the default 16-files-per-trigger micro-batch
  * holds ~512 MB of input; 128 MB files put a whole-trigger's decoded
  * feature vectors ~37 GB into the per-batch persist and OOM a 48 g
  * heap). `widen=false` keeps the sink at the ArrayType feature column —
  * the widened 1532-column layout is a sink-format choice already
  * golden-tested elsewhere; here it would only multiply parquet volume.
  *
  * Run: `SPARK_DRIVER_MEM=48g tools/run_main.sh graft.tools.Probe stream-throughput`.
  */
object StreamThroughput extends Subcommand {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val n = args.headOption.map(_.toInt).getOrElse(12000000)
    val nFiles = 128
    val watchDir = Paths.get(s"/tmp/graft_stream_watch_${n}_f$nFiles")
    val done = watchDir.resolve("_ALL_FILES_WRITTEN")
    if (!Files.exists(done)) {
      Files.createDirectories(watchDir)
      val rnd = new scala.util.Random(7)
      val perFile = n / nFiles
      for (f <- 0 until nFiles) // global packet index keeps the mix stable
        Throughput.writeCapture(watchDir.resolve(f"part_$f%04d.pcap"),
          f.toLong * perFile, perFile, rnd)
      Files.write(done, Array.emptyByteArray)
    }
    val inputBytes = {
      val listing = Files.list(watchDir)
      try listing.toArray.map(p => Files.size(p.asInstanceOf[java.nio.file.Path])).sum
      finally listing.close() // Files.list holds a directory fd until closed
    }

    val cfg = BytesPipeline.Config(
      rules = Seq(LabelRule(1499350000.0, 1499352000.0,
        Seq("192.168.10.1"), Seq("10.0.0.1"), "dos")),
      rangesToExtract = Seq((1499350000.0, 1499360000.0)),
      widen = false)

    // fresh output+checkpoint per run — a surviving checkpoint would make
    // AvailableNow a no-op and time nothing
    val outDir = s"/tmp/graft_stream_out_$n"
    graft.queries.Fixtures.deleteRecursively(new java.io.File(outDir))

    val t0 = System.nanoTime()
    val q = BytesPipeline.runStreaming(spark, watchDir.toString, outDir, cfg,
      availableNow = true)
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9

    val out = spark.read.parquet(s"$outDir/data")
    val rows = out.count()
    val batches = out.select("batch_id").distinct().count()
    println(f"STREAM packets=$n files=$nFiles input=${inputBytes / 1e6}%.0f MB " +
      f"rows_out=$rows batches=$batches wall=$secs%.1f s " +
      f"rate=${n / secs}%.0f pkt/s ${inputBytes / 1e6 / secs}%.1f MB/s")
    0
  }
}
