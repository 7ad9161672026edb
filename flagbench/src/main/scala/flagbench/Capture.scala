package flagbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

import graft.ops.LabelRule

/** Seeded synthetic classic-pcap capture plus the counts and read-back
  * signatures the pipeline must reproduce from it.
  *
  * Every expected value is computed here from the frames as they are
  * written, with the reference semantics restated independently of the
  * engine: IPv4 TCP/UDP frames decode (one 802.1Q tag is unwrapped), ARP,
  * IPv6 and ICMP frames drop; a packet is in range when `lo <= ts <= hi`
  * for some extraction window; its label is the last rule whose window
  * holds `ts` and whose attacker/victim pair matches in either direction;
  * it is forward when some rule's window holds `ts` and `src` is one of
  * that rule's attackers.
  *
  * Packets are written in generation order, not sorted by time, so the
  * in-range rows spread evenly over the byte-range splits.
  */
object Capture {

  final case class Spec(
      packets: Int,
      dayLo: Long,
      dayHi: Long,
      ranges: Seq[(Double, Double)],
      rules: Seq[LabelRule],
      inRangeShare: Double, // drawn inside an extraction window on purpose
      attackShare: Double,  // drawn between a rule's attacker and victim, inside its window
      nonIpShare: Double,   // ARP and IPv6 frames
      icmpShare: Double,
      udpShare: Double,
      vlanShare: Double,
      maxPayload: Int)

  final case class Expected(
      framed: Long,
      decoded: Long,
      inRange: Long,
      forward: Long,
      labels: Map[String, Long],
      dataSig: Long,
      advSig: Long,
      fileBytes: Long)

  /** Columns of the widened table that enter the read-back signature:
    * the IP header (anonymized addresses at 12-19), the transport ports,
    * payload bytes and the zero padding. */
  val SigCols: Seq[Int] = Seq(0, 2, 3, 9, 12, 16, 19, 20, 22, 24, 33, 40, 54, 100, 400, 1000, 1460, 1524)

  /** Row signature, the same formula [[Flagship]] evaluates over the sink. */
  def rowSig(ts: Double, sport: Int, dport: Int, proto: Int, datagram: Array[Byte]): Long = {
    var s = (ts * 1000.0).toLong % 1000003L + 7919L * (sport + dport) + 104729L * proto
    SigCols.foreach { i =>
      if (i < datagram.length) s += (i + 1).toLong * (datagram(i) & 0xff)
    }
    s
  }

  private val Benign = "benign"

  private def ipBytes(ip: String): Array[Byte] = ip.split('.').map(_.toInt.toByte)

  /** Write the capture for `seed` to `path`; returns what decoding it must give. */
  def generate(spec: Spec, seed: Long, path: String): Expected = {
    val rng = new SplittableRandom(seed)
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val rec = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    val rangeLen = spec.ranges.map { case (lo, hi) => hi - lo }
    val rangeTotal = rangeLen.sum
    val attackPairs = spec.rules.flatMap(r => for (a <- r.attackers; v <- r.victims)
      yield (r, a.toString, v.toString))

    var framed, decoded, inRange, forward, dataSig, advSig = 0L
    var fileBytes = 24L
    val labels = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

    val header = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    header.putInt(0xa1b2c3d4).putShort(2.toShort).putShort(4.toShort)
      .putInt(0).putInt(0).putInt(65535).putInt(1)
    out.write(header.array())

    def drawTs(lo: Double, hi: Double): (Long, Long) = {
      val t = lo + rng.nextDouble() * (hi - lo)
      val sec = math.floor(t).toLong
      (sec, rng.nextLong(1000000L))
    }
    def inWindow(ts: Double, lo: Any, hi: Any): Boolean =
      lo.asInstanceOf[Double] <= ts && ts <= hi.asInstanceOf[Double]
    def benignIp(): String =
      if (rng.nextBoolean()) s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
      else s"172.20.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"

    var n = 0
    while (n < spec.packets) {
      // --- when, and between whom -------------------------------------
      val attack = attackPairs.nonEmpty && rng.nextDouble() < spec.attackShare
      val (srcIp, dstIp, (sec, usec)) =
        if (attack) {
          val (r, a, v) = attackPairs(rng.nextInt(attackPairs.size))
          val t = drawTs(r.tsLo.asInstanceOf[Double], r.tsHi.asInstanceOf[Double])
          if (rng.nextDouble() < 0.6) (a, v, t) else (v, a, t)
        } else {
          val t =
            if (rangeTotal > 0 && rng.nextDouble() < spec.inRangeShare) {
              var pick = rng.nextDouble() * rangeTotal
              var i = 0
              while (i < rangeLen.size - 1 && pick > rangeLen(i)) { pick -= rangeLen(i); i += 1 }
              drawTs(spec.ranges(i)._1, spec.ranges(i)._2)
            } else drawTs(spec.dayLo.toDouble, spec.dayHi.toDouble)
          (benignIp(), benignIp(), t)
        }
      // The decoder's timestamp: seconds + micros / 1e6, as a double.
      val ts: Double = sec + usec / 1e6

      // --- frame --------------------------------------------------------
      val kind = rng.nextDouble()
      val nonIp = kind < spec.nonIpShare
      val icmp = !nonIp && kind < spec.nonIpShare + spec.icmpShare
      val udp = !nonIp && !icmp && rng.nextDouble() < spec.udpShare
      val vlan = !nonIp && rng.nextDouble() < spec.vlanShare
      val sport = 1024 + rng.nextInt(64000)
      val dport = if (rng.nextBoolean()) 80 + rng.nextInt(400) else 1024 + rng.nextInt(64000)
      val payloadLen = rng.nextInt(spec.maxPayload + 1)

      val frame: Array[Byte] =
        if (nonIp) {
          if (rng.nextBoolean()) { // ARP request
            val f = new Array[Byte](60)
            f(12) = 0x08; f(13) = 0x06
            var i = 14; while (i < 42) { f(i) = rng.nextInt(256).toByte; i += 1 }
            f
          } else { // IPv6 + TCP: dropped by the reference-parity decoder
            val f = new Array[Byte](14 + 40 + 20 + payloadLen)
            f(12) = 0x86.toByte; f(13) = 0xdd.toByte
            f(14) = 0x60; f(18) = ((20 + payloadLen) >> 8).toByte; f(19) = (20 + payloadLen).toByte
            f(20) = 6; f(21) = 64
            var i = 22; while (i < f.length) { f(i) = rng.nextInt(256).toByte; i += 1 }
            f
          }
        } else {
          val ipOff = if (vlan) 18 else 14
          val proto = if (icmp) 1 else if (udp) 17 else 6
          val l4 = if (icmp) 8 else if (udp) 8 else 20
          val ipLen = 20 + l4 + payloadLen
          val f = new Array[Byte](math.max(60, ipOff + ipLen)) // Ethernet pads to 60 B
          var i = 0; while (i < 12) { f(i) = rng.nextInt(256).toByte; i += 1 }
          if (vlan) {
            f(12) = 0x81.toByte; f(13) = 0x00; f(14) = 0; f(15) = (1 + rng.nextInt(4000)).toByte
            f(16) = 0x08; f(17) = 0x00
          } else { f(12) = 0x08; f(13) = 0x00 }
          f(ipOff) = 0x45
          f(ipOff + 2) = (ipLen >> 8).toByte; f(ipOff + 3) = ipLen.toByte
          f(ipOff + 4) = rng.nextInt(256).toByte; f(ipOff + 5) = rng.nextInt(256).toByte
          f(ipOff + 8) = 64; f(ipOff + 9) = proto.toByte
          f(ipOff + 10) = rng.nextInt(256).toByte; f(ipOff + 11) = rng.nextInt(256).toByte
          System.arraycopy(ipBytes(srcIp), 0, f, ipOff + 12, 4)
          System.arraycopy(ipBytes(dstIp), 0, f, ipOff + 16, 4)
          val t = ipOff + 20
          f(t) = (sport >> 8).toByte; f(t + 1) = sport.toByte
          f(t + 2) = (dport >> 8).toByte; f(t + 3) = dport.toByte
          if (proto == 6) f(t + 12) = 0x50
          if (proto == 17) { f(t + 4) = ((8 + payloadLen) >> 8).toByte; f(t + 5) = (8 + payloadLen).toByte }
          i = t + (if (proto == 6) 13 else 6)
          while (i < ipOff + ipLen) { f(i) = rng.nextInt(256).toByte; i += 1 }
          f
        }

      rec.clear()
      rec.putInt(sec.toInt).putInt(usec.toInt).putInt(frame.length).putInt(frame.length)
      out.write(rec.array())
      out.write(frame)
      fileBytes += 16 + frame.length
      framed += 1

      // --- what the pipeline must make of it -----------------------------
      if (!nonIp && !icmp) {
        decoded += 1
        if (spec.ranges.exists { case (lo, hi) => lo <= ts && ts <= hi }) {
          inRange += 1
          val label = spec.rules.foldLeft(Benign) { (acc, r) =>
            val pair = r.attackers.contains(srcIp) && r.victims.contains(dstIp) ||
              r.attackers.contains(dstIp) && r.victims.contains(srcIp)
            if (inWindow(ts, r.tsLo, r.tsHi) && pair) r.label else acc
          }
          labels(label) += 1
          val ipOff = if (vlan) 18 else 14
          val datagram = java.util.Arrays.copyOfRange(frame, ipOff, ipOff + 20 + (if (udp) 8 else 20) + payloadLen)
          java.util.Arrays.fill(datagram, 12, 24, 0.toByte) // anonymized addresses and ports
          val sig = rowSig(ts, sport, dport, if (udp) 17 else 6, datagram)
          dataSig += sig
          if (spec.rules.exists(r => inWindow(ts, r.tsLo, r.tsHi) && r.attackers.contains(srcIp))) {
            forward += 1
            advSig += sig
          }
        }
      }
      n += 1
    }
    out.close()
    Expected(framed, decoded, inRange, forward, labels.toMap, dataSig, advSig, fileBytes)
  }

  private def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map("%02x".format(_)).mkString

  /** Generator self-test: one seed gives a byte-identical capture and the
    * same expected counts twice; another seed gives a different capture.
    * Returns failure messages, empty when the generator is sound. */
  def selfTest(spec: Spec, seed: Long, dir: String): Seq[String] = {
    val small = spec.copy(packets = 2000)
    val paths = Seq("a", "b", "c").map(n => s"$dir/selftest-$n.pcap")
    val ea = generate(small, seed, paths(0))
    val eb = generate(small, seed, paths(1))
    val ec = generate(small, seed + 1, paths(2))
    val Seq(da, db, dc) = paths.map(sha256)
    paths.foreach(p => new java.io.File(p).delete())
    Seq(
      (da == db) -> "same seed wrote different bytes",
      (ea == eb) -> "same seed gave different expected counts",
      (da != dc) -> "different seeds wrote identical captures",
      (ea.decoded > 0 && ea.decoded < ea.framed) -> "capture lacks a dropped-frame share").collect {
      case (false, msg) => s"generator self-test: $msg"
    }
  }
}
