package graft

import java.nio.{ByteBuffer, ByteOrder}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.pcap.{PcapFormat, PcapRecord, PcapSource, PcapngFormat}

/** Property-based suites (scalacheck driven directly — no scalatestplus
  * bridge on the offline classpath): randomized inputs against model
  * implementations for the pure-JVM kernels whose example specs can
  * only pin single points. The session is used only for its Hadoop conf
  * (split planning); no case runs a Spark job.
  */
class PropertySpec extends SparkSpec {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(org.scalacheck.rng.Seed(20260815L))

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: ${r.status}")
  }

  test("PcapFormat write->records round-trips frames exactly and ts to format precision") {
    val genRec = for {
      ts <- Gen.chooseNum(0L, 4000000000L).map(_ / 1e3) // µs-aligned epochs
      n <- Gen.chooseNum(0, 256)
      bytes <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    } yield PcapRecord(ts, bytes.toArray)
    check("classic round-trip", Prop.forAll(Gen.listOfN(20, genRec)) { recs =>
      val out = PcapFormat.records(PcapFormat.write(recs)).toSeq
      out.length == recs.length &&
        out.zip(recs).forall { case (a, b) =>
          java.util.Arrays.equals(a.frame, b.frame) &&
            math.abs(a.ts - b.ts) <= 1e-6 // classic pcap stores sec+µs
        }
    })
    check("nanos round-trip", Prop.forAll(Gen.listOfN(20, genRec)) { recs =>
      val out = PcapFormat.records(PcapFormat.write(recs, nanos = true)).toSeq
      out.zip(recs).forall { case (a, b) => math.abs(a.ts - b.ts) <= 1e-9 }
    })
  }

  /** A random capture and the frames it carries, in file order: classic
    * (BE/LE, µs/ns), or pcapng of 1–2 sections of random byte order, each
    * with 1–3 interfaces of mixed `if_tsresol`/`if_tsoffset` (all but the
    * first declared between packets), EPBs, SPBs and unknown blocks. */
  private def capture(r: Random): (Array[Byte], Seq[Array[Byte]]) = {
    def bytes(n: Int): Array[Byte] = { val a = new Array[Byte](n); r.nextBytes(a); a }
    def ts(): Double = r.nextInt(2000000000) + r.nextInt(1000000) / 1e6
    if (r.nextBoolean()) {
      val recs = Seq.fill(r.nextInt(40))(PcapRecord(ts(), bytes(r.nextInt(120))))
      (PcapFormat.write(recs, nanos = r.nextBoolean(), littleEndian = r.nextBoolean()),
        recs.map(_.frame))
    } else {
      val out = new java.io.ByteArrayOutputStream
      val frames = ArrayBuffer.empty[Array[Byte]]
      for (_ <- 0 to r.nextInt(2)) {
        val le = r.nextBoolean()
        val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
        val divisors = Seq.fill(1 + r.nextInt(3))(Seq(1e6, 1e9, 1e3, 1024.0)(r.nextInt(4)))
        val offsets = divisors.map(_ => if (r.nextBoolean()) 1500000000L else 0L)
        // the writer's SHB and first n IDBs, then its EPBs on those n
        def head(n: Int) = PcapngFormat.write(Nil, divisors.take(n), littleEndian = le,
          tsOffsets = offsets.take(n))
        def block(tpe: Int, body: Array[Byte]): Array[Byte] = {
          val total = 12 + (body.length + 3) / 4 * 4
          ByteBuffer.allocate(total).order(order).putInt(tpe).putInt(total).put(body)
            .position(total - 4).putInt(total).array()
        }
        var declared = 1
        out.write(head(declared))
        for (_ <- 0 until r.nextInt(30)) r.nextInt(8) match {
          case 0 if declared < divisors.length =>
            out.write(head(declared + 1).drop(head(declared).length))
            declared += 1
          case 1 =>
            val f = bytes(r.nextInt(120)); frames += f
            out.write(block(PcapngFormat.SpbType,
              ByteBuffer.allocate(4 + f.length).order(order).putInt(f.length).put(f).array()))
          case 2 => out.write(block(0x40000bad, bytes(r.nextInt(16))))
          case _ =>
            val f = bytes(r.nextInt(120)); frames += f
            val ifc = r.nextInt(declared)
            out.write(PcapngFormat.write(Seq(PcapRecord(ts(), f)), divisors.take(declared),
              _ => ifc, le, tsOffsets = offsets.take(declared)).drop(head(declared).length))
        }
      }
      (out.toByteArray, frames.toSeq)
    }
  }

  test("split reads over planSplits concatenate to the whole-image read; hostile images never throw") {
    withTempDir("graft_prop_splits") { dir =>
      val file = new java.io.File(dir, "cap")
      def viaSplits(img: Array[Byte], splitBytes: Int): Seq[PcapRecord] = {
        java.nio.file.Files.write(file.toPath, img)
        PcapSource.planSplits(spark, Seq(file.getPath), splitBytes).flatMap(PcapSource.readSplit)
      }
      def same(a: Seq[PcapRecord], b: Seq[PcapRecord]): Boolean =
        a.length == b.length && a.zip(b).forall { case (x, y) =>
          x.ts == y.ts && java.util.Arrays.equals(x.frame, y.frame) }
      val genSplit = Gen.oneOf(Gen.chooseNum(16, 256), Gen.chooseNum(256, 16384))
      check("split == whole", Prop.forAllNoShrink(Gen.long, genSplit) { (seed, splitBytes) =>
        val (img, frames) = capture(new Random(seed))
        val whole = PcapFormat.records(img).toSeq
        whole.map(_.frame.toSeq) == frames.map(_.toSeq) && same(viaSplits(img, splitBytes), whole)
      })
      check("total on truncated and corrupted images", Prop.forAllNoShrink(Gen.long, genSplit) {
        (seed, splitBytes) =>
          val r = new Random(seed)
          val img = capture(r)._1
          val hostile =
            if (r.nextBoolean()) img.take(r.nextInt(img.length + 1))
            else {
              val c = img.clone()
              for (_ <- 0 to r.nextInt(8) if c.nonEmpty) c(r.nextInt(c.length)) = r.nextInt().toByte
              c
            }
          PcapFormat.records(hostile).size >= 0 && viaSplits(hostile, splitBytes).size >= 0
      })
    }
  }

  test("MisraGries(k) result is a superset of every key with frequency > n/k") {
    val genStream = for {
      domain <- Gen.chooseNum(1, 12)
      n <- Gen.chooseNum(1, 500)
      // skewed: low keys drawn much more often than high ones
      xs <- Gen.listOfN(n, Gen.frequency(
        (8, Gen.chooseNum(0, 1)), (3, Gen.chooseNum(0, domain / 2)),
        (1, Gen.chooseNum(0, domain))))
    } yield xs.map(_.toLong)
    val genK = Gen.chooseNum(2, 8)
    check("superset guarantee (sequential)", Prop.forAll(genStream, genK) { (xs, k) =>
      val mg = new graft.ops.MisraGries(k)
      val kept = mg.finish(xs.foldLeft(mg.zero)(mg.reduce)).toSet
      val freq = xs.groupBy(identity).view.mapValues(_.size).toMap
      freq.forall { case (key, c) => c * k <= xs.length || kept.contains(key) }
    })
    check("superset guarantee survives arbitrary merge splits",
      Prop.forAll(genStream, genK, Gen.chooseNum(0, 100)) { (xs, k, cut) =>
        val mg = new graft.ops.MisraGries(k)
        val (l, r) = xs.splitAt(if (xs.isEmpty) 0 else cut % (xs.length + 1))
        val merged = mg.merge(
          l.foldLeft(mg.zero)(mg.reduce), r.foldLeft(mg.zero)(mg.reduce))
        val kept = mg.finish(merged).toSet
        val freq = xs.groupBy(identity).view.mapValues(_.size).toMap
        freq.forall { case (key, c) => c * k <= xs.length || kept.contains(key) }
      })
  }
}
