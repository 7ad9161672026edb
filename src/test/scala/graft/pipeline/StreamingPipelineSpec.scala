package graft.pipeline

import graft.SparkSpec
import graft.ops.LabelRule
import graft.pcap.Fixtures
import java.nio.file.Files

/** Continuous-ingestion flagship: drop capture files into a watched
  * directory across micro-batches, confirm both sinks accumulate with
  * exactly-once file semantics.
  */
class StreamingPipelineSpec extends SparkSpec {
  import Fixtures._

  test("streaming dual-sink pipeline ingests files as they arrive") {
    val root = Files.createTempDirectory("graft-stream-pipe").toFile
    root.deleteOnExit()
    val watch = new java.io.File(root, "in"); watch.mkdirs()
    val out = s"$root/out"

    val cfg = BytesPipeline.Config(
      rules = Seq(LabelRule(0.0, 1e12, Seq("10.0.0.66"), Nil, "bad")),
      rangesToExtract = Seq((0.0, 1e12)),
      width = 32)

    def drop(name: String, recs: (Double, Array[Byte])*): Unit =
      Files.write(new java.io.File(watch, name).toPath, pcapOf(recs: _*))

    drop("a.pcap",
      (100.0, frame("10.0.0.1", "10.0.0.2", 1, 2, 6)),
      (101.0, frame("10.0.0.66", "10.0.0.2", 3, 4, 17)))

    val plans = SinkPlans.capture(spark) {
      val q = BytesPipeline.runStreaming(spark, watch.getAbsolutePath, out, cfg)
      try {
        q.processAllAvailable()
        val n1 = spark.read.parquet(s"$out/data").count()
        assert(n1 == 2)
        assert(spark.read.parquet(s"$out/adversarial").count() == 1)

        drop("b.pcap", (200.0, frame("10.0.0.5", "10.0.0.6", 5, 6, 6)))
        q.processAllAvailable()
        val d = spark.read.parquet(s"$out/data")
        assert(d.count() == 3)
        assert(d.columns.length == 7 + 32 + 1) // widened + batch_id partition
        assert(d.select("batch_id").distinct().count() == 2) // one per micro-batch
        // adversarial unchanged by the benign batch, which touched no
        // adversarial path at all
        assert(spark.read.parquet(s"$out/adversarial").count() == 1)
        assert(!new java.io.File(s"$out/adversarial/batch_id=1").exists())
      } finally q.stop()
    }
    // each micro-batch writes both sinks straight from WidenExec: no
    // projection re-copies the widened rows (e.g. to add batch_id)
    val sinks = plans.filter(SinkPlans.hasWiden)
    // data x 2 batches, adversarial for the first batch only
    assert(sinks.size == 3, s"expected 3 widened writes, got ${sinks.size}")
    assert(sinks.forall(p => SinkPlans.projectsOverWiden(p).isEmpty))
  }

  test("AvailableNow trigger drains the landing zone then terminates on its own") {
    val root = Files.createTempDirectory("graft-stream-an").toFile
    root.deleteOnExit()
    val watch = new java.io.File(root, "in"); watch.mkdirs()
    val out = s"$root/out"
    val cfg = BytesPipeline.Config(
      rules = Seq(LabelRule(0.0, 1e12, Seq("10.0.0.66"), Nil, "bad")),
      rangesToExtract = Seq((0.0, 1e12)),
      width = 16)
    Files.write(new java.io.File(watch, "a.pcap").toPath, pcapOf(
      (100.0, frame("10.0.0.1", "10.0.0.2", 1, 2, 6)),
      (101.0, frame("10.0.0.66", "10.0.0.2", 3, 4, 17))))

    val q = BytesPipeline.runStreaming(
      spark, watch.getAbsolutePath, out, cfg, availableNow = true)
    // The defining property vs a continuous query: it STOPS unaided once
    // the landing zone is drained (no q.stop() in the happy path).
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(spark.read.parquet(s"$out/data").count() == 2)

    // A second catch-up run picks up only files newer than the checkpoint.
    Files.write(new java.io.File(watch, "b.pcap").toPath, pcapOf(
      (200.0, frame("10.0.0.5", "10.0.0.6", 5, 6, 6))))
    val q2 = BytesPipeline.runStreaming(
      spark, watch.getAbsolutePath, out, cfg, availableNow = true)
    assert(q2.awaitTermination(120000), "second catch-up did not self-terminate")
    val d = spark.read.parquet(s"$out/data")
    assert(d.count() == 3)
    assert(d.select("batch_id").distinct().count() == 2)
  }
}
