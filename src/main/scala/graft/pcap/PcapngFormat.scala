package graft.pcap

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** pcapng (next-generation capture) framing — the format modern
  * `tcpdump`/Wireshark write by default. The reference punts on it
  * ("dpkt does not support pcapng", /root/reference/README.md:72); this
  * is an engine extension so a user's un-converted captures ingest
  * directly. Public block layout (IETF draft-tuexen-opsawg-pcapng):
  *
  * Every block: type (4 B), total length (4 B), body, total length again
  * (4 B trailer); total length includes the 12 framing bytes and is
  * padded to a 4-byte multiple. Blocks handled:
  *  - Section Header (0x0A0D0D0A): byte-order magic 0x1A2B3C4D selects
  *    endianness for the section; a new SHB resets the interface table.
  *  - Interface Description (1): link type, snaplen, options — option 9
  *    (`if_tsresol`) sets the timestamp divisor: value v with MSB clear
  *    means 10^v units/second, MSB set means 2^v; absent means 10^6.
  *    Option 14 (`if_tsoffset`, 64-bit signed seconds) makes packet
  *    timestamps RELATIVE: absolute time = offset + raw/divisor; absent
  *    (or zero) means raw timestamps are already absolute.
  *  - Enhanced Packet (6): interface id, 64-bit timestamp in that
  *    interface's resolution (high word first), captured/original
  *    length, frame bytes.
  *  - Simple Packet (3): original length + frame, NO timestamp (emitted
  *    with ts=0.0) — present for completeness.
  *  - Anything else (name resolution, statistics, custom): skipped by
  *    total length, as the spec requires for unknown types.
  *
  * A truncated trailing block ends iteration quietly, matching the
  * classic reader's flush-and-finish EOF contract
  * (/root/reference/BytesProcessor.py:96-104).
  */
object PcapngFormat {
  val ShbType = 0x0a0d0d0a
  val ByteOrderMagic = 0x1a2b3c4d
  val IdbType = 1
  val SpbType = 3
  val EpbType = 6
  /** block framing: type + 2× total length */
  val FramingLen = 12
  /** Largest credible block (frame + framing + options slack); bounds
    * resync scanning and the cross-split overhang. */
  val MaxBlock: Int = PcapFormat.MaxFrame + 4096

  /** The SHB type field reads the same under either byte order, so this
    * is order-independent. */
  def isPcapng(buf: Array[Byte]): Boolean =
    buf.length >= 4 &&
      ByteBuffer.wrap(buf, 0, 4).order(ByteOrder.BIG_ENDIAN).getInt == ShbType

  /** One interface's timestamp interpretation: `absolute = offsetSeconds
    * + raw / divisor` (divisor in units/second). */
  final case class IfaceTs(divisor: Double, offsetSeconds: Long) {
    def toSeconds(raw: Long): Double = offsetSeconds + raw / divisor
  }
  val DefaultIfaceTs: IfaceTs = IfaceTs(1e6, 0L)

  /** Walk an IDB's options for if_tsresol (9) and if_tsoffset (14). */
  private def ifaceTsOpts(buf: Array[Byte], order: ByteOrder,
                          optStart: Int, optEnd: Int): IfaceTs = {
    val bb = ByteBuffer.wrap(buf).order(order)
    var div = 1e6
    var off = 0L
    var o = optStart
    var stop = false
    while (!stop && o + 4 <= optEnd) {
      val code = bb.getShort(o) & 0xffff
      val len = bb.getShort(o + 2) & 0xffff
      if (code == 0) stop = true // opt_endofopt
      else {
        if (code == 9 && len >= 1 && o + 4 < optEnd) {
          val v = buf(o + 4) & 0xff
          div = if ((v & 0x80) == 0) math.pow(10, v) else math.pow(2, v & 0x7f)
        }
        if (code == 14 && len >= 8 && o + 12 <= optEnd)
          off = bb.getLong(o + 4)
        o += 4 + ((len + 3) & ~3)
      }
    }
    IfaceTs(div, off)
  }

  /** Lazily iterate packet records from an in-memory pcapng image.
    * Handles multiple sections (each with its own byte order and
    * interface table). Non-pcapng input yields no records; a truncated
    * tail stops quietly.
    */
  def records(buf: Array[Byte]): Iterator[PcapRecord] =
    if (!isPcapng(buf)) Iterator.empty
    else walk(buf, 0L, buf.length, buf.length, FileStart)

  /** A section's state: byte order plus the interface timestamp table —
    * (divisor, tsoffset) per IDB, in declaration order.
    *
    * Split planning takes each split's starting state from one walk over
    * the file's first 64 KiB (the head): a split that starts inside the
    * head begins from the state at its start, one that starts past it
    * from the head's final state, and every split applies the SHBs and
    * IDBs it meets itself. So a file that fits in one split reads the
    * same split or whole, multi-section files and late IDBs included,
    * and a file of many splits reads the same when its sections and
    * interfaces are declared in the head — as tcpdump/Wireshark write
    * them, every interface before the first packet block. */
  final case class SectionMeta(bigEndian: Boolean, ifaces: Seq[IfaceTs]) {
    def divisors: Seq[Double] = ifaces.map(_.divisor)
  }
  /** The state before a file's first SHB, which replaces it. */
  private val FileStart = SectionMeta(bigEndian = true, Nil)

  /** The section state after the blocks of `head` (a file's leading
    * bytes); None unless it opens with a valid SHB. */
  def headMeta(head: Array[Byte]): Option[SectionMeta] =
    sectionsAt(head, Seq(head.length.toLong)).map(_.head)

  /** The section state at each of the ascending file offsets `at`: the
    * blocks of `head` whose header starts before it, applied in one walk.
    * None unless `head` opens with a valid SHB. */
  def sectionsAt(head: Array[Byte], at: Seq[Long]): Option[Seq[SectionMeta]] =
    Option.when(isPcapng(head) && shbOrder(head, 0).isDefined) {
      val w = new Walk(head, 0L, head.length, FileStart)
      at.map { a => while (w.step(a) != null) (); w.section }
    }

  /** The pcapng block walker, for a whole image and for one byte-range
    * split alike. `buf` holds the file's bytes from offset `base` on, and
    * the walk starts in section state `from`. It emits the packet blocks
    * whose header starts before file offset `end` and stops quietly at the
    * first block the buffer does not hold whole. A buffer at the file
    * start is aligned; any other is resynchronized to a BLOCK boundary: a
    * sane 4-aligned total length whose TRAILER copy matches, chained
    * across [[PcapFormat.ResyncChain]] consecutive blocks, so a false
    * positive needs k forged length-sandwiches in a row. An SHB in the
    * chain is a boundary, and the blocks after it are read in its byte
    * order. No boundary within one block's reach of the start means no
    * records.
    */
  def walk(buf: Array[Byte], base: Long, end: Long, fileLen: Long,
           from: SectionMeta): Iterator[PcapRecord] = {
    val w = new Walk(buf, base, fileLen, from)
    Iterator.continually(w.step(end)).takeWhile(_ != null).filter(_ ne NoRecord)
  }

  /** What [[Walk.step]] returns for a block that carries no packet. */
  private val NoRecord = PcapRecord(0.0, Array.emptyByteArray)

  /** The byte order an SHB at `off` declares; None for a corrupt magic. */
  private def shbOrder(buf: Array[Byte], off: Int): Option[ByteOrder] =
    if (off + 12 > buf.length) None
    else ByteBuffer.wrap(buf, off + 8, 4).order(ByteOrder.BIG_ENDIAN).getInt match {
      case ByteOrderMagic => Some(ByteOrder.BIG_ENDIAN)
      case m if Integer.reverseBytes(m) == ByteOrderMagic => Some(ByteOrder.LITTLE_ENDIAN)
      case _ => None
    }

  private final class Walk(buf: Array[Byte], base: Long, fileLen: Long, from: SectionMeta) {
    /** Reads in the current section's byte order. */
    private val bb = ByteBuffer.wrap(buf)
      .order(if (from.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    private val ifaces = ArrayBuffer.from(from.ifaces)
    private var off: Int =
      if (base == 0L) 0
      else (0 until math.min(buf.length, MaxBlock))
        .find(blockOk(_, PcapFormat.ResyncChain, bb.order)).getOrElse(buf.length)

    def section: SectionMeta = SectionMeta(bb.order == ByteOrder.BIG_ENDIAN, ifaces.toSeq)

    private def u32(o: Int, order: ByteOrder): Long = {
      val v = bb.getInt(o)
      (if (order == bb.order) v else Integer.reverseBytes(v)) & 0xffffffffL
    }

    // The anchor (depth == ResyncChain) must be fully inside the buffer —
    // length-sandwich verified — else a payload word masquerading as a
    // huge-but-sane total length would jump past the buffer and
    // self-certify through the unverifiable-continuation branch. A true
    // anchor always fits (overhang covers one max block; near EOF the
    // buffer reaches fileLen, and a link past it is no block).
    private def blockOk(o: Int, depth: Int, order: ByteOrder): Boolean = {
      if (base + o >= fileLen) return true // clean EOF
      val unverifiable = depth < PcapFormat.ResyncChain && base + buf.length < fileLen
      if (o + FramingLen > buf.length)
        return unverifiable // ok mid-chain before EOF, never as anchor
      val ord = if (bb.getInt(o) == ShbType) shbOrder(buf, o).orNull else order
      if (ord == null) return false
      val total = u32(o + 4, ord)
      if (total < FramingLen || total > MaxBlock || total % 4 != 0) return false
      if (o + total > buf.length) return unverifiable
      if (u32(o + total.toInt - 4, ord) != total) return false
      depth <= 1 || blockOk(o + total.toInt, depth - 1, ord)
    }

    /** Applies the block at the walk's position when its header starts
      * before file offset `end` and the buffer holds it whole, then moves
      * past it. Returns the block's record, [[NoRecord]] when it carries
      * none, or null where the walk stops. */
    def step(end: Long): PcapRecord = {
      if (base + off >= end || off + FramingLen > buf.length) return null
      // SHB first: its type is order-palindromic and it RESETS order
      val blockType = bb.getInt(off)
      val ord = if (blockType == ShbType) shbOrder(buf, off).orNull else bb.order
      if (ord == null) return null // corrupt section header
      val totalLen = u32(off + 4, ord)
      if (totalLen < FramingLen || totalLen % 4 != 0 || off + totalLen > buf.length)
        return null // truncated
      val bodyStart = off + 8
      val bodyEnd = off + totalLen.toInt - 4
      off += totalLen.toInt
      blockType match {
        case ShbType =>
          bb.order(ord)
          ifaces.clear() // new section, new interface table
          NoRecord
        case IdbType if bodyEnd - bodyStart >= 8 =>
          ifaces += ifaceTsOpts(buf, bb.order, bodyStart + 8, bodyEnd)
          NoRecord
        case EpbType if bodyEnd - bodyStart >= 20 =>
          val ifc = bb.getInt(bodyStart)
          val ts64 = (bb.getInt(bodyStart + 4).toLong << 32) |
            (bb.getInt(bodyStart + 8) & 0xffffffffL)
          val capLen = bb.getInt(bodyStart + 12)
          if (capLen < 0 || capLen > bodyEnd - bodyStart - 20) NoRecord
          else PcapRecord(
            (if (ifc >= 0 && ifc < ifaces.length) ifaces(ifc) else DefaultIfaceTs).toSeconds(ts64),
            java.util.Arrays.copyOfRange(buf, bodyStart + 20, bodyStart + 20 + capLen))
        case SpbType if bodyEnd - bodyStart >= 4 =>
          val cap = math.min(math.max(bb.getInt(bodyStart), 0), bodyEnd - bodyStart - 4)
          PcapRecord(0.0, java.util.Arrays.copyOfRange(buf, bodyStart + 4, bodyStart + 4 + cap))
        case _ => NoRecord // unknown types skipped by length
      }
    }
  }

  /** Serialize records to pcapng bytes — fixtures/tests only, the engine
    * just reads. One SHB, one IDB per divisor (with `if_tsresol` when not
    * the 10^-6 default; powers of two use the MSB form; `if_tsoffset`
    * when a nonzero per-interface offset is given — EPB raw timestamps
    * are then written RELATIVE to it, as the spec requires), then one
    * EPB per record via `ifcFor(index)`.
    */
  def write(records: Seq[PcapRecord], divisors: Seq[Double] = Seq(1e6),
            ifcFor: Int => Int = _ => 0, littleEndian: Boolean = false,
            snaplen: Int = 65535, tsOffsets: Seq[Long] = Nil): Array[Byte] = {
    val order = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    def offsetOf(ifc: Int): Long = if (ifc < tsOffsets.length) tsOffsets(ifc) else 0L
    val out = new java.io.ByteArrayOutputStream()
    def block(blockType: Int, body: ByteBuffer): Unit = {
      val b = body.array().take(body.position())
      val pad = (4 - b.length % 4) % 4
      val total = FramingLen + b.length + pad
      val bb = ByteBuffer.allocate(total).order(order)
      bb.putInt(blockType).putInt(total).put(b).put(new Array[Byte](pad)).putInt(total)
      out.write(bb.array())
    }
    // SHB: magic, version 1.0, section length -1 (unknown)
    val shb = ByteBuffer.allocate(16).order(order)
    shb.putInt(ByteOrderMagic).putShort(1).putShort(0).putLong(-1L)
    block(ShbType, shb)
    divisors.zipWithIndex.foreach { case (d, ifc) =>
      val idb = ByteBuffer.allocate(48).order(order)
      idb.putShort(1).putShort(0).putInt(snaplen) // LINKTYPE_ETHERNET
      val off = offsetOf(ifc)
      if (d != 1e6) {
        val log10 = math.round(math.log10(d)).toInt
        val v: Int =
          if (math.pow(10, log10) == d) log10
          else 0x80 | java.lang.Long.numberOfTrailingZeros(d.toLong)
        idb.putShort(9).putShort(1).put(v.toByte).put(new Array[Byte](3))
      }
      if (off != 0L)
        idb.putShort(14).putShort(8).putLong(off)
      if (d != 1e6 || off != 0L)
        idb.putShort(0).putShort(0) // opt_endofopt
      block(IdbType, idb)
    }
    records.zipWithIndex.foreach { case (r, i) =>
      val ifc = ifcFor(i)
      val div = divisors(ifc)
      val ts64 = math.rint((r.ts - offsetOf(ifc)) * div).toLong
      val epb = ByteBuffer.allocate(20 + r.frame.length).order(order)
      epb.putInt(ifc).putInt((ts64 >>> 32).toInt).putInt(ts64.toInt)
      epb.putInt(r.frame.length).putInt(r.frame.length).put(r.frame)
      block(EpbType, epb)
    }
    out.toByteArray
  }
}
