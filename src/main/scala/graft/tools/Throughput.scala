package graft.tools

import graft.pcap.{PcapFormat, PcapRecord, PcapSource}
import graft.pipeline.BytesPipeline
import graft.ops.LabelRule
import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Flagship throughput + at-scale split-correctness measurement (mirrors
  * BASELINE.md row): synthesizes a capture incrementally, runs the full
  * feature pipeline (decode -> anonymize -> range filter -> label ->
  * 1525-float vectorize), reports packets/s and MB/s.
  *
  * Arg 1 (optional): packet count, default 2,000,000 (~620 MB). Pass
  * 12000000 for the ~4 GB scale proof.
  *
  * At multi-GB size a whole-file read can't exist (a JVM byte array caps
  * at 2 GB), so split==whole equality is replaced by the stronger
  * cross-granularity check: decode the SAME capture at 64 MB and 100 MB
  * split sizes — nearly every range boundary differs, so the two runs
  * resynchronize at disjoint offsets — and compare an order-insensitive
  * full-content signature (count + wrapping sum of xxhash64 over all
  * metadata columns and the payload). Identical signatures mean both
  * granularities assigned every record to exactly one task and decoded
  * identical bytes; the small-size split==whole equality lives in
  * BytesPipelineSpec.
  *
  * Run: `tools/run_main.sh graft.tools.Probe throughput [nPackets]`.
  */
object Throughput extends Subcommand {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val n = args.headOption.map(_.toInt).getOrElse(2000000)
    val path = Paths.get(s"/tmp/graft_throughput_$n.pcap")
    if (!Files.exists(path)) writeCapture(path, 0L, n, new scala.util.Random(7))
    val bytes = Files.size(path)
    import org.apache.spark.sql.functions._

    val cfg = BytesPipeline.Config(
      rules = Seq(LabelRule(1499350000.0, 1499352000.0, Seq("192.168.10.1"), Seq("10.0.0.1"), "dos")),
      rangesToExtract = Seq((1499350000.0, 1499360000.0)))
    // Two timed passes, both reported: the first pays the JIT ramp (the
    // decode inner loop runs interpreted/C1 until HotSpot tiers it up —
    // measured 4-5x on this path) plus heap growth; the second is the
    // steady state a long-running cluster executor actually sees.
    def pass(): (Long, Double) = {
      val t0 = System.nanoTime()
      val cnt = BytesPipeline.features(
        PcapSource.packetsSplittable(spark, Seq(path.toString), targetSplitBytes = 64L << 20), cfg).count()
      (cnt, (System.nanoTime() - t0) / 1e9)
    }
    val (cnt, cold) = pass()
    val (_, warm) = pass()
    println(f"THROUGHPUT rows=$cnt bytes=$bytes cold_sec=$cold%.2f warm_sec=$warm%.2f " +
      f"warm_pkt_s=${cnt / warm}%.0f warm_mb_s=${bytes / 1e6 / warm}%.1f")

    // Cross-granularity decode signature: count + two order-insensitive
    // hash folds over every column of every decoded packet (xor never
    // overflows; the sum is masked to 32 bits so even 2^31 rows stay
    // under Long.MaxValue with ANSI arithmetic on).
    def signature(splitBytes: Long): (Long, Long, Long) = {
      val h = xxhash64(col("timestamp"), col("src_ip"), col("dst_ip"),
        col("src_port"), col("dst_port"), col("protocol"), col("payload"),
        col("label"))
      val row = PcapSource.packetsSplittable(spark, Seq(path.toString), splitBytes)
        .toDF()
        .agg(count(lit(1)).as("n"),
          bit_xor(h).as("hx"),
          sum(h.bitwiseAND(lit(0xffffffffL))).as("hs"))
        .head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    val sig64 = signature(64L << 20)
    val sig100 = signature(100L << 20)
    val ok = sig64 == sig100
    println(s"SPLIT_EQUALITY 64MB=$sig64 100MB=$sig100 ${if (ok) "OK" else "MISMATCH"}")
    if (ok) 0 else 1
  }

  /** Writes packets `first until first + n` of the synthetic mix to a
    * classic pcap at `path`: hosts, ports and protocol cycle with the
    * packet index (so a capture cut into files keeps the mix), payload
    * lengths come from `rnd`. Records are written one at a time, so the
    * capture may exceed a JVM array. */
  private[tools] def writeCapture(path: java.nio.file.Path, first: Long, n: Int,
                                  rnd: scala.util.Random): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try {
      out.write(PcapFormat.write(Seq.empty)) // global header
      for (g <- first until first + n) {
        val frame = graft.queries.PipelineQ.mkFrame(
          s"192.168.10.${g % 9 + 1}", s"10.0.0.${g % 7 + 1}",
          (1024 + g % 5000).toInt, if (g % 3 == 0) 443 else 53,
          if (g % 3 == 0) 6 else 17, rnd.nextInt(560), 0x2A.toByte)
        val rec = PcapFormat.write(Seq(PcapRecord(1499350000.0 + g * 0.001, frame)))
        out.write(rec, 24, rec.length - 24) // strip repeated global header
      }
    } finally out.close()
  }
}
