package graft.pcap

import java.nio.ByteOrder
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Pcap files -> Dataset[Packet] (reference R1, the driver read loop at
  * BytesProcessor.py:48-108). Two sources over one record walker per
  * framing ([[PcapFormat.walk]], [[PcapngFormat.walk]]); this object only
  * plans splits and reads byte ranges:
  *
  * 1. [[packets]] and its streaming twin [[packetsStream]] — whole-file:
  *    `binaryFile` + [[PcapFormat.records]] + [[PacketDecoder.decode]], one
  *    task per file. A file is one byte array, so at most 2 GiB
  *    (`spark.sql.sources.binaryFile.maxLength`).
  *
  * 2. [[packetsSplittable]] — the 100 TB path, which is the DataSource V2
  *    [[PcapScan]]: one task per byte-range split from [[planSplits]], no
  *    shuffle. Pcap records are self-framing but carry no sync marker, so
  *    a walker that starts at an arbitrary byte offset resynchronizes: it
  *    scans forward for an offset where a CHAIN of k record headers (or
  *    pcapng blocks) parses with sane lengths, which is a deterministic
  *    boundary (false positives must forge k consecutive plausible
  *    headers). Tasks read only their byte range (+ one record overhang),
  *    so a 100 GB file becomes ~800 independent 128 MB tasks with no
  *    driver-side scan — the driver touches metadata and the file head
  *    only. A file that fits in one split reads exactly as through
  *    [[packets]]; a pcapng file of many splits does when its sections and
  *    interfaces are declared in its first 64 KiB
  *    ([[PcapngFormat.SectionMeta]]).
  */
object PcapSource {

  /** Default byte-range split size of [[planSplits]]. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  def packets(spark: SparkSession, paths: Seq[String],
              ipv6: Boolean = false): Dataset[Packet] =
    decodeFiles(spark.read.format("binaryFile").load(paths: _*), ipv6)

  /** Continuous ingestion: watch a directory for new pcap files and
    * stream their decoded packets (Structured Streaming over the
    * binaryFile source — each new capture file becomes a micro-batch).
    * The 100 TB operational mode: capture hosts drop finished pcap
    * files into object storage; this source picks them up exactly-once
    * via the file-stream checkpoint log.
    */
  def packetsStream(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Int = 16,
                    ipv6: Boolean = false): Dataset[Packet] =
    decodeFiles(spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.pcap*") // .pcap and .pcapng both ingest
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(new org.apache.spark.sql.types.StructType()
        .add("path", "string").add("modificationTime", "timestamp")
        .add("length", "long").add("content", "binary"))
      .load(dir), ipv6)

  /** `binaryFile` rows -> packets, each file framed whole. */
  private def decodeFiles(files: DataFrame, ipv6: Boolean): Dataset[Packet] = {
    import files.sparkSession.implicits._
    files.select(col("content")).as[Array[Byte]]
      .flatMap(PcapFormat.records(_))
      .flatMap(r => PacketDecoder.decode(r.ts, r.frame, ipv6))
  }

  /** One byte-range split of one capture file. `ng` marks pcapng framing;
    * for those, `bigEndian`, `ifcDivisors` and `ifcTsOffsets` carry the
    * section state the split starts in — byte order and the per-interface
    * timestamp divisor and `if_tsoffset` tables — which the driver takes
    * from the file's leading blocks ([[PcapngFormat.SectionMeta]]). */
  final case class PcapSplit(
      path: String, start: Long, end: Long, fileLen: Long,
      bigEndian: Boolean, nanos: Boolean,
      ng: Boolean = false, ifcDivisors: Seq[Double] = Nil,
      ifcTsOffsets: Seq[Long] = Nil) {
    private def order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    def header: PcapFormat.Header = PcapFormat.Header(order, if (nanos) 1e9 else 1e6)
    def section: PcapngFormat.SectionMeta = PcapngFormat.SectionMeta(bigEndian,
      ifcDivisors.indices.map(i => PcapngFormat.IfaceTs(ifcDivisors(i), ifcTsOffsets.lift(i).getOrElse(0L))))
  }

  /** Largest split size [[planSplits]] accepts: [[readSplit]] reads a
    * split plus one record overhang into one byte array. */
  val MaxSplitBytes: Long = Int.MaxValue - 8L - PcapngFormat.MaxBlock

  /** Metadata bytes the driver reads per file: the classic global header,
    * or the pcapng SHB and leading IDBs. */
  private val HeadBytes = 64 * 1024

  def planSplits(spark: SparkSession, paths: Seq[String],
                 targetSplitBytes: Long = DefaultSplitBytes): Seq[PcapSplit] = {
    require(targetSplitBytes > 0 && targetSplitBytes <= MaxSplitBytes,
      s"pcap split size $targetSplitBytes is outside [1, $MaxSplitBytes]: " +
        "a split and its record overhang are read into one byte array")
    val conf = spark.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val len = fs.getFileStatus(hp).getLen
      val head = new Array[Byte](math.min(len, HeadBytes.toLong).toInt)
      val in = fs.open(hp)
      try in.readFully(0, head) finally in.close()
      def ranges(dataStart: Long): Seq[(Long, Long)] = {
        val n = math.max(1L, (len - dataStart + targetSplitBytes - 1) / targetSplitBytes)
        (0L until n).map(i => (dataStart + i * targetSplitBytes,
          math.min(len, dataStart + (i + 1) * targetSplitBytes)))
      }
      if (PcapngFormat.isPcapng(head)) {
        // start at 0: the first task walks the leading SHB/IDB blocks itself
        val rs = ranges(0L)
        PcapngFormat.sectionsAt(head, rs.map(_._1)).toSeq.flatMap(_.zip(rs).map {
          case (m, (a, b)) => PcapSplit(p, a, b, len, m.bigEndian, nanos = false,
            ng = true, ifcDivisors = m.divisors, ifcTsOffsets = m.ifaces.map(_.offsetSeconds))
        })
      } else
        PcapFormat.header(head).toSeq.flatMap { h =>
          val bigEndian = h.order == ByteOrder.BIG_ENDIAN
          val nanos = h.fracDivisor == 1e9
          ranges(PcapFormat.GlobalHeaderLen.toLong).map { case (a, b) =>
            PcapSplit(p, a, b, len, bigEndian, nanos)
          }
        }
    }
  }

  def packetsSplittable(spark: SparkSession, paths: Seq[String],
                        targetSplitBytes: Long = DefaultSplitBytes,
                        ipv6: Boolean = false): Dataset[Packet] = {
    import spark.implicits._
    spark.read.format("pcap")
      .option("splitBytes", targetSplitBytes)
      .option("ipv6", ipv6)
      .load(paths: _*)
      .as[Packet]
  }

  /** Read the records whose HEADER starts inside [start, end); executed on
    * executors, one task per split. Reads range + overhang only: the split
    * plus one max-size record, so a record that starts in the split ends
    * in the buffer. The framing's walker ([[PcapFormat.walk]],
    * [[PcapngFormat.walk]]) resyncs and frames the records.
    */
  def readSplit(s: PcapSplit): Iterator[PcapRecord] =
    if (s.ng) PcapngFormat.walk(readRange(s, PcapngFormat.MaxBlock), s.start, s.end, s.fileLen, s.section)
    else PcapFormat.walk(readRange(s, PcapFormat.MaxRecord), s.start, s.end, s.fileLen, s.header)

  /** The split's bytes plus `overhang`, cut at EOF. [[MaxSplitBytes]]
    * keeps them within one array. */
  private def readRange(s: PcapSplit, overhang: Int): Array[Byte] = {
    val hp = new Path(s.path)
    val buf = new Array[Byte]((math.min(s.fileLen, s.end + overhang) - s.start).toInt)
    val in = hp.getFileSystem(new Configuration()).open(hp)
    try in.readFully(s.start, buf) finally in.close()
    buf
  }
}
