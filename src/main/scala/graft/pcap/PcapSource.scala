package graft.pcap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Pcap files -> Dataset[Packet] (reference R1, the driver read loop at
  * BytesProcessor.py:48-108). Two readers:
  *
  * 1. [[packets]] and its streaming twin [[packetsStream]] — whole-file:
  *    `binaryFile` + [[PcapFormat.records]] + [[PacketDecoder.decode]], one
  *    task per file. A file is one byte array, so at most 2 GiB
  *    (`spark.sql.sources.binaryFile.maxLength`). The only reader for
  *    pcapng files that declare interfaces after their first 64 KiB.
  *
  * 2. [[packetsSplittable]] — the 100 TB path, which is the DataSource V2
  *    [[PcapScan]]: one task per byte-range split from [[planSplits]], no
  *    shuffle. Pcap records are self-framing but carry no sync marker, so
  *    arbitrary byte offsets need resynchronization: each task scans
  *    forward from its range start for an offset where a CHAIN of k
  *    record headers parses with sane lengths/timestamps, which is a
  *    deterministic boundary (false positives must forge k consecutive
  *    plausible headers). Tasks read only their byte range (+ one record
  *    overhang), so a 100 GB file becomes ~800 independent 128 MB tasks
  *    with no driver-side scan — the driver touches metadata and the
  *    file head only.
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
    * for those, `ifcDivisors`/`ifcTsOffsets` carry the per-interface
    * timestamp divisor and `if_tsoffset` tables the driver collected from
    * the file's leading SHB/IDB blocks (tcpdump/Wireshark declare
    * interfaces up front; a file that defines interfaces mid-stream is
    * served by the whole-file reader). */
  final case class PcapSplit(
      path: String, start: Long, end: Long, fileLen: Long,
      bigEndian: Boolean, nanos: Boolean,
      ng: Boolean = false, ifcDivisors: Seq[Double] = Nil,
      ifcTsOffsets: Seq[Long] = Nil) {
    def ifaceTs(ifc: Int): PcapngFormat.IfaceTs =
      if (ifc >= 0 && ifc < ifcDivisors.length)
        PcapngFormat.IfaceTs(ifcDivisors(ifc),
          if (ifc < ifcTsOffsets.length) ifcTsOffsets(ifc) else 0L)
      else PcapngFormat.DefaultIfaceTs
  }

  /** How many consecutive record headers must chain-parse before an
    * offset counts as a record boundary. */
  private val ResyncChain = 4
  /** Largest credible captured frame; bounds both resync scanning and the
    * cross-split record overhang. */
  private val MaxFrame = 262144
  /** Largest credible pcapng block (frame + framing + options slack);
    * bounds resync scanning and the cross-split overhang. */
  private val MaxNgBlock = MaxFrame + 4096

  /** Largest split size [[planSplits]] accepts: [[readSplit]] reads a
    * split plus one record overhang into one byte array. */
  val MaxSplitBytes: Long = Int.MaxValue - 8L - MaxNgBlock

  /** Metadata bytes the driver reads per pcapng file to collect the
    * interface table (SHB + leading IDBs). */
  private val NgHeadBytes = 64 * 1024

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
      val head = new Array[Byte](math.min(len, NgHeadBytes.toLong).toInt)
      val in = fs.open(hp)
      try in.readFully(0, head) finally in.close()
      def ranges(dataStart: Long): Seq[(Long, Long)] = {
        val n = math.max(1L, (len - dataStart + targetSplitBytes - 1) / targetSplitBytes)
        (0L until n).map(i => (dataStart + i * targetSplitBytes,
          math.min(len, dataStart + (i + 1) * targetSplitBytes)))
      }
      if (PcapngFormat.isPcapng(head))
        PcapngFormat.headMeta(head).toSeq.flatMap { m =>
          // start at 0: the first task skips SHB/IDB blocks while walking
          ranges(0L).map { case (a, b) =>
            PcapSplit(p, a, b, len, m.bigEndian, nanos = false,
              ng = true, ifcDivisors = m.divisors,
              ifcTsOffsets = m.ifaces.map(_.offsetSeconds))
          }
        }
      else
        PcapFormat.header(head).toSeq.flatMap { h =>
          val bigEndian = h.order == java.nio.ByteOrder.BIG_ENDIAN
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
    * executors, one task per split. Reads range + overhang only.
    * Dispatches on framing: classic record-chain resync, or pcapng
    * block-boundary resync ([[readSplitNg]]).
    */
  def readSplit(s: PcapSplit): Iterator[PcapRecord] =
    if (s.ng) readSplitNg(s) else readSplitClassic(s)

  /** The split's bytes plus `overhang` (cut at EOF), in the capture's byte
    * order. [[MaxSplitBytes]] keeps them within one array. */
  private def readRange(s: PcapSplit, overhang: Int): java.nio.ByteBuffer = {
    val hp = new Path(s.path)
    val buf = new Array[Byte]((math.min(s.fileLen, s.end + overhang) - s.start).toInt)
    val in = hp.getFileSystem(new Configuration()).open(hp)
    try in.readFully(s.start, buf) finally in.close()
    java.nio.ByteBuffer.wrap(buf)
      .order(if (s.bigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
  }

  private def readSplitClassic(s: PcapSplit): Iterator[PcapRecord] = {
    // Buffer = split + resync window + one max-size record overhang.
    val bb = readRange(s, MaxFrame + PcapFormat.RecordHeaderLen)
    val buf = bb.array()
    def u32(off: Int): Long = if (off + 4 <= buf.length) bb.getInt(off) & 0xffffffffL else -1L

    // A header at `off` is plausible if incl_len is sane and, recursively,
    // the following ResyncChain headers are too (or EOF is reached). The
    // ANCHOR (depth == ResyncChain) must be fully verifiable inside the
    // buffer — a candidate whose claimed length jumps past the readable
    // range would otherwise self-certify (every continuation check would
    // hit "beyond buffer"), which is exactly how a payload word that
    // happens to look like a huge-but-sane incl_len forges a sync point.
    // A TRUE anchor always fits: the overhang covers one max-size record,
    // and near EOF the buffer extends to fileLen.
    def chainOk(off: Int, depth: Int): Boolean = {
      if (s.start + off >= s.fileLen) return true // clean EOF
      if (off + PcapFormat.RecordHeaderLen > buf.length)
        return depth < ResyncChain // unverifiable: ok mid-chain, never as anchor
      val incl = u32(off + 8)
      val orig = u32(off + 12)
      if (incl < 0 || incl > MaxFrame || orig < incl || orig > MaxFrame) return false
      if (off + PcapFormat.RecordHeaderLen + incl > buf.length)
        return depth < ResyncChain
      if (depth <= 1) true else chainOk(off + PcapFormat.RecordHeaderLen + incl.toInt, depth - 1)
    }

    val syncedStart: Int =
      if (s.start == PcapFormat.GlobalHeaderLen.toLong) 0 // aligned by construction
      else {
        var o = 0
        val scanLimit = math.min(buf.length, MaxFrame + PcapFormat.RecordHeaderLen)
        while (o < scanLimit && !chainOk(o, ResyncChain)) o += 1
        o
      }

    Iterator.unfold(syncedStart) { off =>
      // stop once the record header would start at/after the split end
      val from = off + PcapFormat.RecordHeaderLen
      val incl = u32(off + 8)
      if (s.start + off >= s.end || from > buf.length || incl < 0 || from + incl > buf.length) None
      else Some((PcapRecord(u32(off) + u32(off + 4) / (if (s.nanos) 1e9 else 1e6),
        java.util.Arrays.copyOfRange(buf, from, from + incl.toInt)), from + incl.toInt))
    }
  }

  /** pcapng byte-range reader: resynchronize to a BLOCK boundary, then
    * emit the packet blocks whose header starts inside [start, end).
    *
    * Resync is stronger than the classic path's: a block boundary must
    * show a sane 4-aligned total length whose TRAILER copy matches, and
    * that property must chain across [[ResyncChain]] consecutive blocks —
    * a false positive needs k forged length-sandwiches in a row. The
    * interface divisor table rides in the split (driver-collected);
    * single-section files only, which is what capture tools write.
    */
  private def readSplitNg(s: PcapSplit): Iterator[PcapRecord] = {
    val bb = readRange(s, MaxNgBlock)
    val buf = bb.array()
    def u32(off: Int): Long = if (off + 4 <= buf.length) bb.getInt(off) & 0xffffffffL else -1L

    // The anchor (depth == ResyncChain) must be fully inside the buffer —
    // length-sandwich verified — else a payload word masquerading as a
    // huge-but-sane total length would jump past the buffer and
    // self-certify through the unverifiable-continuation branch. A true
    // anchor always fits (overhang covers one max block; near EOF the
    // buffer reaches fileLen).
    def blockOk(off: Int, depth: Int): Boolean = {
      if (s.start + off >= s.fileLen) return true // clean EOF
      if (off + PcapngFormat.FramingLen > buf.length)
        return depth < ResyncChain // unverifiable: ok mid-chain, never as anchor
      val total = u32(off + 4)
      if (total < PcapngFormat.FramingLen || total > MaxNgBlock || total % 4 != 0) return false
      if (off + total > buf.length) return depth < ResyncChain
      if (u32(off + total.toInt - 4) != total) return false
      if (depth <= 1) true else blockOk(off + total.toInt, depth - 1)
    }

    val syncedStart: Int =
      if (s.start == 0L) 0 // SHB-aligned by construction
      else {
        var o = 0
        val scanLimit = math.min(buf.length, MaxNgBlock)
        while (o < scanLimit && !blockOk(o, ResyncChain)) o += 1
        o
      }

    // (offset, total length) of each block whose header starts in the split
    Iterator.unfold(syncedStart) { off =>
      val total = u32(off + 4)
      if (s.start + off >= s.end || off + PcapngFormat.FramingLen > buf.length ||
          total < PcapngFormat.FramingLen || total % 4 != 0 || off + total > buf.length) None
      else Some(((off, total.toInt), off + total.toInt))
    }.flatMap { case (off, total) =>
      val blockType = u32(off).toInt
      val bodyStart = off + 8
      val bodyEnd = off + total - 4
      if (blockType == PcapngFormat.EpbType && bodyEnd - bodyStart >= 20) {
        val ifc = bb.getInt(bodyStart)
        val ts64 = (bb.getInt(bodyStart + 4).toLong << 32) |
          (bb.getInt(bodyStart + 8) & 0xffffffffL)
        val capLen = bb.getInt(bodyStart + 12)
        Option.when(capLen >= 0 && bodyStart + 20 + capLen <= bodyEnd)(
          PcapRecord(s.ifaceTs(ifc).toSeconds(ts64),
            java.util.Arrays.copyOfRange(buf, bodyStart + 20, bodyStart + 20 + capLen)))
      } else if (blockType == PcapngFormat.SpbType && bodyEnd - bodyStart >= 4) {
        val cap = math.min(math.max(bb.getInt(bodyStart), 0), bodyEnd - bodyStart - 4)
        Some(PcapRecord(0.0, java.util.Arrays.copyOfRange(buf, bodyStart + 4, bodyStart + 4 + cap)))
      } else None
    }
  }
}
