package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Throughput probe for the incremental span-dedup path
  * (`StreamingOps.spanVerdicts`): stream the documents table through the
  * file source with `Trigger.AvailableNow` — the catch-up shape a
  * landing-zone ingest runs — into the digest-keyed transformWithState
  * dedup, and report wall time, docs/s and span verdicts/s. RocksDB
  * state store as TWS requires; checkpoint under /tmp so a re-run is a
  * fresh stream (delete to re-measure).
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sfDir> tools/run_main.sh graft.tools.Probe span-stream`.
  */
object SpanStreamProbe extends Subcommand {
  override val confs: Seq[(String, String)] = Seq(Subcommand.rocksDb)

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dir = graft.Harness.sfDir
    import spark.implicits._

    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val ckpt = java.nio.file.Files.createTempDirectory("span_stream_ckpt").toString

    // The file stream source wants a landing DIRECTORY (the real ingest
    // shape); testdata ships documents.parquet as a single file, so stage
    // it into a temp landing zone.
    val landing = java.nio.file.Files.createTempDirectory("span_stream_in")
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    if (java.nio.file.Files.isDirectory(src)) {
      val listing = java.nio.file.Files.list(src)
      try listing.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, landing.resolve(p.getFileName))
      } finally listing.close() // Files.list holds a directory fd until closed
    } else java.nio.file.Files.copy(src, landing.resolve("part-0.parquet"))

    val docs = spark.readStream.schema(schema)
      .parquet(landing.toString)
      .selectExpr("doc_id", "text").as[graft.streaming.DocIn]

    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingOps.spanVerdicts(docs)
      .writeStream.format("memory").queryName("span_probe")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val nSpans = spark.table("span_probe").count()
    val nDups = spark.table("span_probe").filter($"dup").count()
    println(f"SPANSTREAM docs=$nDocs spans=$nSpans dups=$nDups wall=$secs%.2f s " +
      f"docs_per_s=${nDocs / secs}%.0f spans_per_s=${nSpans / secs}%.0f")
    0
  }
}
