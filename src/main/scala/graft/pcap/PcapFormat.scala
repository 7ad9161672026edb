package graft.pcap

import java.nio.{ByteBuffer, ByteOrder}

/** One raw capture record: float epoch seconds + captured frame bytes.
  * Mirrors the (ts, buf) pairs dpkt's reader yields
  * (/root/reference/BytesProcessor.py:59-61).
  */
final case class PcapRecord(ts: Double, frame: Array[Byte])

/** Classic libpcap file framing (public format, observable in the
  * reference via its dpkt usage: /root/reference/BytesProcessor.py:56-62).
  *
  * Global header (24 B): magic, version, thiszone, sigfigs, snaplen,
  * network. Magic selects byte order and timestamp fraction unit:
  * 0xa1b2c3d4 micros, 0xa1b23c4d nanos (and their byte-swapped forms).
  * Each record: ts_sec, ts_frac, incl_len, orig_len (16 B) + incl_len
  * frame bytes.
  *
  * A truncated final record ends iteration quietly — the reference treats
  * EOFError as flush-and-finish, not failure
  * (/root/reference/BytesProcessor.py:96-104). pcapng — which the
  * reference punts on (/root/reference/README.md:72) — is an engine
  * extension handled by [[PcapngFormat]]; [[records]] dispatches on the
  * leading magic so callers never care which framing a capture uses.
  */
object PcapFormat {
  val MagicMicro = 0xa1b2c3d4
  val MagicMicroSwapped = 0xd4c3b2a1
  val MagicNano = 0xa1b23c4d
  val MagicNanoSwapped = 0x4d3cb2a1
  val GlobalHeaderLen = 24
  val RecordHeaderLen = 16

  final case class Header(order: ByteOrder, fracDivisor: Double)

  /** How many consecutive record headers must chain-parse before an
    * offset counts as a record boundary. */
  private[pcap] val ResyncChain = 4
  /** Largest credible captured frame; bounds both resync scanning and the
    * cross-split record overhang. */
  val MaxFrame = 262144
  /** Largest credible record: header plus [[MaxFrame]]. */
  val MaxRecord: Int = RecordHeaderLen + MaxFrame

  /** Parse the 24-byte global header; None for non-pcap bytes. */
  def header(buf: Array[Byte]): Option[Header] = {
    if (buf.length < GlobalHeaderLen) return None
    val magicBE = ByteBuffer.wrap(buf, 0, 4).order(ByteOrder.BIG_ENDIAN).getInt
    magicBE match {
      case MagicMicro        => Some(Header(ByteOrder.BIG_ENDIAN, 1e6))
      case MagicMicroSwapped => Some(Header(ByteOrder.LITTLE_ENDIAN, 1e6))
      case MagicNano         => Some(Header(ByteOrder.BIG_ENDIAN, 1e9))
      case MagicNanoSwapped  => Some(Header(ByteOrder.LITTLE_ENDIAN, 1e9))
      case _                 => None
    }
  }

  /** Lazily iterate records from an in-memory capture image — classic
    * pcap, or pcapng via [[PcapngFormat]] (magic-dispatched, so every
    * consumer of this entry point reads both). Stops (without throwing)
    * at EOF or a truncated trailing record. Unrecognized input yields no
    * records.
    */
  def records(buf: Array[Byte]): Iterator[PcapRecord] =
    if (PcapngFormat.isPcapng(buf)) PcapngFormat.records(buf)
    else header(buf).fold(Iterator.empty[PcapRecord])(walk(buf, 0L, buf.length, buf.length, _))

  /** The classic record walker, for a whole image and for one byte-range
    * split alike. `buf` holds the file's bytes from offset `base` on; the
    * walk emits the records whose header starts before file offset `end`
    * and stops quietly at the first record the buffer does not hold
    * whole. A buffer that starts at or before the first record
    * (`base <= GlobalHeaderLen`) is aligned; any other is resynchronized:
    * records carry no sync marker, so the walk starts at the first offset
    * where a chain of [[ResyncChain]] record headers parses with sane
    * lengths — a false positive must forge k plausible headers in a row.
    * No such offset within one record's reach of the start means no
    * records.
    */
  def walk(buf: Array[Byte], base: Long, end: Long, fileLen: Long, h: Header): Iterator[PcapRecord] = {
    val bb = ByteBuffer.wrap(buf).order(h.order)
    def u32(off: Int): Long = if (off + 4 <= buf.length) bb.getInt(off) & 0xffffffffL else -1L

    // A header at `off` is plausible if incl_len is sane and, recursively,
    // the following ResyncChain headers are too (or EOF is reached). The
    // ANCHOR (depth == ResyncChain) must be fully verifiable inside the
    // buffer — a candidate whose claimed length jumps past the readable
    // range would otherwise self-certify (every continuation check would
    // hit "beyond buffer"), which is exactly how a payload word that
    // happens to look like a huge-but-sane incl_len forges a sync point.
    // A TRUE anchor always fits: a split's buffer overhangs its end by one
    // max-size record, and near EOF it extends to fileLen. A link past a
    // buffer that reaches EOF is no record at all (a zero-length record's
    // header, read one byte early, chains into one).
    val cut = base + buf.length < fileLen
    def chainOk(off: Int, depth: Int): Boolean = {
      if (base + off >= fileLen) return true // clean EOF
      if (off + RecordHeaderLen > buf.length)
        return depth < ResyncChain && cut // unverifiable: ok mid-chain, never as anchor
      val incl = u32(off + 8)
      val orig = u32(off + 12)
      if (incl < 0 || incl > MaxFrame || orig < incl || orig > MaxFrame) return false
      if (off + RecordHeaderLen + incl > buf.length) return depth < ResyncChain && cut
      depth <= 1 || chainOk(off + RecordHeaderLen + incl.toInt, depth - 1)
    }

    val first =
      if (base <= GlobalHeaderLen) (GlobalHeaderLen - base).toInt
      else (0 until math.min(buf.length, MaxRecord)).find(chainOk(_, ResyncChain)).getOrElse(buf.length)
    Iterator.unfold(first) { off =>
      val from = off + RecordHeaderLen
      val incl = u32(off + 8)
      if (base + off >= end || from > buf.length || incl < 0 || from + incl > buf.length) None
      else Some((PcapRecord(u32(off) + u32(off + 4) / h.fracDivisor,
        java.util.Arrays.copyOfRange(buf, from, from + incl.toInt)), from + incl.toInt))
    }
  }

  /** Serialize records back to classic pcap bytes (micro unless `nanos`,
    * big-endian unless `littleEndian`). Used by tests/fixtures; the engine
    * itself only reads.
    */
  def write(records: Seq[PcapRecord], nanos: Boolean = false,
            littleEndian: Boolean = false): Array[Byte] = {
    val body = records.map(r => RecordHeaderLen + r.frame.length).sum
    val bb = ByteBuffer.allocate(GlobalHeaderLen + body)
      .order(if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    bb.putInt(if (nanos) MagicNano else MagicMicro)
    bb.putShort(2.toShort).putShort(4.toShort) // version 2.4
    bb.putInt(0).putInt(0).putInt(65535).putInt(1) // zone, sigfigs, snaplen, LINKTYPE_ETHERNET
    val div = if (nanos) 1e9 else 1e6
    records.foreach { r =>
      val sec = math.floor(r.ts).toLong
      val frac = math.rint((r.ts - sec) * div).toLong
      bb.putInt(sec.toInt).putInt(frac.toInt)
      bb.putInt(r.frame.length).putInt(r.frame.length)
      bb.put(r.frame)
    }
    bb.array()
  }
}
