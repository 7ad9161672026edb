package graft.pcap

import graft.SparkSpec
import java.nio.ByteBuffer
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The DSv2 connector must agree byte-for-byte with the typed source,
  * split planning included.
  */
class PcapDataSourceSpec extends SparkSpec {
  import Fixtures._

  /** Runs `body` on a 400-packet capture written to a fresh temp dir. */
  private def withPcapFile[T](body: String => T): T = {
    val rnd = new scala.util.Random(11)
    val recs = (0 until 400).map { i =>
      val app = new Array[Byte](rnd.nextInt(250)); rnd.nextBytes(app)
      (2000.0 + i, frame(s"10.1.${i % 4}.1", "10.9.9.9", 2000 + i, 443,
        if (i % 2 == 0) 6 else 17, app))
    }
    withTempDir("dsv2") { dir =>
      val f = new java.io.File(dir, "cap.pcap")
      Files.write(f.toPath, pcapOf(recs: _*))
      body(f.getAbsolutePath)
    }
  }

  test("format(\"pcap\") short name resolves and matches the typed source") {
    withPcapFile { pcapFile =>
      val viaDs = spark.read.format("pcap").load(pcapFile)
      assert(viaDs.schema == PcapTable.schema)
      val a = viaDs.select("timestamp", "src_ip", "src_port", "protocol")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Double])
      val b = PcapSource.packets(spark, Seq(pcapFile))
        .select("timestamp", "src_ip", "src_port", "protocol")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Double])
      assert(a.length == 400 && a.sameElements(b))
    }
  }

  test("splitBytes option multiplies partitions without changing rows") {
    withPcapFile { pcapFile =>
      val one = spark.read.format("pcap").load(pcapFile)
      val many = spark.read.format("pcap").option("splitBytes", 4096).load(pcapFile)
      assert(one.rdd.getNumPartitions == 1)
      assert(many.rdd.getNumPartitions > 5)
      assert(many.count() == one.count())
      // payload bytes identical across split plans
      val h1 = one.select(md5(col("payload")).as("h")).orderBy("h").collect().map(_.getString(0))
      val h2 = many.select(md5(col("payload")).as("h")).orderBy("h").collect().map(_.getString(0))
      assert(h1.sameElements(h2))
    }
  }

  private def rows(ds: org.apache.spark.sql.Dataset[Packet]) =
    ds.collect().map(p => (p.timestamp, p.src_port, p.payload.toSeq)).sortBy(r => (r._1, r._2))

  test("split reader emits Simple Packet Blocks and skips unknown blocks as whole-file does") {
    def block(tpe: Int, body: Array[Byte]): Array[Byte] = {
      val total = 12 + (body.length + 3) / 4 * 4
      ByteBuffer.allocate(total).putInt(tpe).putInt(total).put(body)
        .position(total - 4).putInt(total).array()
    }
    def spb(f: Array[Byte]) =
      block(PcapngFormat.SpbType, ByteBuffer.allocate(4 + f.length).putInt(f.length).put(f).array())
    val epbs = (0 until 300).map(i => PcapRecord(3000.0 + i,
      frame(s"10.2.${i % 5}.1", "10.9.9.9", 1000 + i, 80, 6, Array.fill[Byte](i % 200)(i.toByte))))
    // SPBs (no timestamp) and an unknown block interleaved mid-file and at the tail
    val img = PcapngFormat.write(epbs.take(150)) ++ spb(frame("10.2.7.1", "10.9.9.9", 7001, 80, 6)) ++
      block(0x40000bad, Array[Byte](1, 2, 3)) ++
      PcapngFormat.write(epbs.drop(150)).drop(PcapngFormat.write(Nil).length) ++
      spb(frame("10.2.7.2", "10.9.9.9", 7002, 80, 17))
    withTempDir("dsv2spb") { dir =>
      val f = new java.io.File(dir, "spb.pcapng")
      Files.write(f.toPath, img)
      val whole = rows(PcapSource.packets(spark, Seq(f.getAbsolutePath)))
      assert(whole.length == 302 && whole.take(2).map(_._2).toSeq == Seq(7001L, 7002L))
      assert(PcapSource.planSplits(spark, Seq(f.getAbsolutePath), 4096).size > 5)
      assert(rows(PcapSource.packetsSplittable(spark, Seq(f.getAbsolutePath), 4096)).sameElements(whole))
    }
  }

  test("multi-file reads keep paths whole: a comma or quote in a directory name") {
    def capture(dir: java.io.File, base: Double): String = {
      dir.mkdirs()
      val f = new java.io.File(dir, "cap.pcap")
      Files.write(f.toPath, pcapOf((0 until 20).map(i =>
        (base + i, frame("10.1.0.1", "10.9.9.9", 3000 + i, 80, 6))): _*))
      f.getAbsolutePath
    }
    withTempDir("dsv2paths") { root =>
      val paths = Seq(capture(new java.io.File(root, "a,b \"c\""), 100.0),
        capture(new java.io.File(root, "plain"), 200.0))
      val split = rows(PcapSource.packetsSplittable(spark, paths))
      assert(split.length == 40)
      assert(split.sameElements(rows(PcapSource.packets(spark, paths))))
    }
  }

  test("split sizes a task cannot buffer are refused at planning") {
    withPcapFile { pcapFile =>
      def refused(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains("split size"))
      // 2-4 GiB would overflow the task's buffer size on a large capture
      for (bad <- Seq(0L, PcapSource.MaxSplitBytes + 1, 3L << 30, 4L << 30))
        assert(refused(intercept[IllegalArgumentException](
          PcapSource.planSplits(spark, Seq(pcapFile), bad))), bad)
      assert(PcapSource.planSplits(spark, Seq(pcapFile), PcapSource.MaxSplitBytes).size == 1)
      assert(refused(intercept[Exception](
        spark.read.format("pcap").option("splitBytes", 3L << 30).load(pcapFile).count())))
    }
  }

  test("SQL over the connector: CREATE TABLE USING pcap") {
    withPcapFile { pcapFile =>
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW packets_sql USING pcap OPTIONS (path '$pcapFile')")
      val n = spark.sql("SELECT protocol, COUNT(*) AS n FROM packets_sql GROUP BY protocol ORDER BY protocol")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(n == Map("6" -> 200L, "17" -> 200L))
    }
  }
}
