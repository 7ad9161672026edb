package graft.pipeline

import graft.SparkSpec
import graft.ops.LabelRule
import graft.pcap.{Fixtures, PcapSource}
import java.nio.file.Files
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** End-to-end flagship test: synthesize a pcap on disk, run the full
  * pipeline, read back both parquet sinks, assert the reference contract
  * (schema, labels, anonymized bytes, normalization, adversarial subset).
  */
class BytesPipelineSpec extends SparkSpec {
  import Fixtures._

  private val width = 64 // small width keeps the widened schema readable

  // attacker 10.0.0.66 -> victim 10.0.0.2 inside [100,200); benign flows around it
  private val frames = Seq(
    (50.0, frame("10.0.0.1", "10.0.0.2", 1111, 80, 6)),   // outside ranges -> excluded
    (120.0, frame("10.0.0.1", "10.0.0.2", 1111, 80, 6)),  // in range, benign
    (130.0, frame("10.0.0.66", "10.0.0.2", 666, 80, 6, Array.fill[Byte](200)(0x7F))), // attack fwd
    (140.0, frame("10.0.0.2", "10.0.0.66", 80, 666, 6)),  // attack reverse (victim->attacker)
    (150.0, arpFrame),                                    // dropped by decode
    (260.0, frame("10.0.0.66", "10.0.0.9", 666, 81, 17)), // attacker, but outside rule window
  )

  private val cfg = BytesPipeline.Config(
    rules = Seq(LabelRule(100.0, 200.0, Seq("10.0.0.66"), Seq("10.0.0.2"), "dos")),
    rangesToExtract = Seq((100.0, 300.0)),
    width = width)

  private def runPipeline(): (String, Option[String]) = {
    val dir = Files.createTempDirectory("graft-pipe").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "cap.pcap")
    Files.write(pcap.toPath, pcapOf(frames: _*))
    BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/out", cfg)
  }

  test("flagship dual-sink pipeline end-to-end") {
    val (dataPath, advPath) = runPipeline()
    val data = spark.read.parquet(dataPath).collect()

    // 4 decodable packets in range (arp dropped, ts=50 filtered)
    assert(data.length == 4)
    val cols = spark.read.parquet(dataPath).columns
    assert(cols.take(7).toSeq ==
      Seq("timestamp", "src_ip", "dst_ip", "src_port", "dst_port", "protocol", "label"))
    assert(cols.length == 7 + width && cols(7) == "byte(0)" && cols.last == s"byte(${width - 1})")

    val byTs = data.map(r => r.getDouble(0) -> r).toMap
    assert(byTs(120.0).getAs[String]("label") == "benign")
    assert(byTs(130.0).getAs[String]("label") == "dos") // forward direction
    assert(byTs(140.0).getAs[String]("label") == "dos") // bidirectional match
    assert(byTs(260.0).getAs[String]("label") == "benign") // outside rule ts-range

    // anonymization visible through the widened floats: src ip bytes (offsets
    // 12..15) are zero, yet the metadata keeps the true address
    assert(byTs(130.0).getAs[String]("src_ip") == "10.0.0.66")
    (12 to 15).foreach(i => assert(byTs(130.0).getAs[Float](s"byte($i)") == 0.0f))
    // normalization: app payload of 0x7F at byte(40) -> 127/255
    assert(math.abs(byTs(130.0).getAs[Float]("byte(40)") - 127f / 255f) < 1e-7)
    // truncation: the 200-byte app payload overflows width=64 -> no column to see it,
    // padding: benign 60-byte datagram zero-pads the tail
    assert(byTs(120.0).getAs[Float](s"byte(${width - 1})") == 0.0f)

    // adversarial sink = forward rows only (src in attackers & ts in rule range)
    val adv = spark.read.parquet(advPath.get).collect()
    assert(adv.map(_.getDouble(0)).toSeq == Seq(130.0))
    // sized from its observed count: one row is one part file
    assert(partFiles(advPath.get).size == 1)
  }

  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten.filter(_.getName.startsWith("part-"))

  /** The distinct Parquet footer schemas of a table's part files. */
  private def footerSchemas(dir: String): Set[org.apache.parquet.schema.MessageType] =
    partFiles(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }.toSet

  test("splittable run: one task per split, adversarial files sized from the forward count") {
    // 120 packets in range, every third one forward, over ~12 splits
    val recs = (0 until 120).map { i =>
      val src = if (i % 3 == 0) "10.0.0.66" else s"10.0.1.${i % 7}"
      (100.0 + i * 0.5, frame(src, "10.0.0.2", 1000 + i, 80, 6, Array.fill[Byte](i % 40)(i.toByte)))
    }
    val dir = Files.createTempDirectory("graft-splitrun").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "cap.pcap")
    Files.write(pcap.toPath, pcapOf(recs: _*))
    val split = cfg.copy(splittable = true, targetSplitBytes = 1024)
    val nSplits = PcapSource.planSplits(spark, Seq(pcap.getAbsolutePath), 1024).size
    assert(nSplits > 8)

    val r = BytesPipeline.runAccounted(spark, Seq(pcap.getAbsolutePath), s"$dir/split", split)
    val (wholeData, wholeAdv) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/whole", cfg)
    assert(r.ingestedPackets == 120)
    for ((a, b) <- Seq(r.dataPath -> wholeData, r.advPath.get -> wholeAdv.get)) {
      val (x, y) = (spark.read.parquet(a), spark.read.parquet(b))
      assert(x.schema == y.schema && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, a)
      // Spark reads every Parquet column back as nullable, so compare the
      // files' own schemas: a non-Spark reader sees `required` vs `optional`
      assert(footerSchemas(a) == footerSchemas(b) && footerSchemas(a).size == 1,
        s"$a: ${footerSchemas(a)} vs ${footerSchemas(b)}")
    }
    assert(spark.read.parquet(r.advPath.get).count() == 40)
    // every split is its own task, and so its own data file ...
    assert(partFiles(r.dataPath).size == nSplits)
    // ... while 40 forward rows are far below 128 MiB: one file
    assert(partFiles(r.advPath.get).size == 1)
  }

  /** Straight-line reimplementation of the payload contract (SURVEY §1.3)
    * used as the expected model: IP datagram from eth offset 14 trimmed
    * to the total-length field, src/dst (12-19) and ports (ihl*4..+3)
    * zeroed, NOTHING else touched (checksums stay stale), then
    * (b & 0xFF)/255f truncated/zero-padded to `width`. */
  private def expectedVec(frame: Array[Byte], width: Int): Array[Float] = {
    val totalLen = ((frame(16) & 0xff) << 8) | (frame(17) & 0xff)
    val ip = java.util.Arrays.copyOfRange(
      frame, 14, 14 + math.min(totalLen, frame.length - 14))
    val ihl = (ip(0) & 0xf) * 4
    java.util.Arrays.fill(ip, 12, 20, 0.toByte)
    java.util.Arrays.fill(ip, ihl, ihl + 4, 0.toByte)
    Array.tabulate(width)(i => if (i < ip.length) (ip(i) & 0xff) / 255f else 0f)
  }

  test("widened sink is byte-exact at the full 1525 width (truncate, pad, stale checksums)") {
    val w = 1525
    val bigApp = Array.tabulate[Byte](1600)(i => (i * 7 + 3).toByte) // IP len 1640 > 1525
    val smallApp = Array.tabulate[Byte](100)(i => (i * 11 + 5).toByte) // IP len 128 < 1525
    val fBig = frame("10.0.0.66", "10.0.0.2", 666, 80, 6, bigApp)
    val fSmall = frame("10.0.0.3", "10.0.0.4", 53, 53, 17, smallApp)
    val dir = Files.createTempDirectory("graft-golden1525").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "g.pcap")
    Files.write(pcap.toPath, pcapOf((110.0, fBig), (120.0, fSmall)))
    val (dataPath, _) =
      BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/out", cfg.copy(width = w))
    val rows = spark.read.parquet(dataPath).collect().map(r => r.getDouble(0) -> r).toMap
    assert(rows.keySet == Set(110.0, 120.0))

    // every one of the 1525 floats, exactly — truncated and padded shapes
    for ((f, ts) <- Seq((fBig, 110.0), (fSmall, 120.0))) {
      val exp = expectedVec(f, w)
      val got = Array.tabulate(w)(i => rows(ts).getAs[Float](s"byte($i)"))
      val firstDiff = got.zip(exp).indexWhere(p => p._1 != p._2)
      assert(got.sameElements(exp), s"ts=$ts widened vector diverges at byte($firstDiff)")
    }

    // the load-bearing boundary indices, called out explicitly (TCP, ihl=20):
    val big = rows(110.0)
    assert(big.getAs[Float]("byte(0)") == 0x45 / 255f)    // version+ihl survives
    (12 to 19).foreach(i => assert(big.getAs[Float](s"byte($i)") == 0f)) // anonymized IPs
    (20 to 23).foreach(i => assert(big.getAs[Float](s"byte($i)") == 0f)) // zeroed ports at ihl*4
    assert(big.getAs[Float]("byte(10)") == 0xBE / 255f)   // IP checksum stays STALE
    assert(big.getAs[Float]("byte(11)") == 0xEF / 255f)
    assert(big.getAs[Float]("byte(36)") == 0xCA / 255f)   // TCP checksum (20+16) stale too
    assert(big.getAs[Float]("byte(1524)") == (bigApp(1484) & 0xff) / 255f) // last col = app byte
    val small = rows(120.0)
    assert(small.getAs[Float]("byte(26)") == 0xCA / 255f) // UDP checksum (20+6) stale
    assert(small.getAs[Float]("byte(127)") == (smallApp(99) & 0xff) / 255f) // last real byte
    assert(small.getAs[Float]("byte(128)") == 0f && small.getAs[Float]("byte(1524)") == 0f) // pad
  }

  test("no adversarial sink when no rule fires") {
    val dir = Files.createTempDirectory("graft-pipe2").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "cap.pcap")
    Files.write(pcap.toPath, pcapOf((120.0, frame("10.0.0.1", "10.0.0.2", 1, 2, 6))))
    val quiet = cfg.copy(rules = Seq(LabelRule(100.0, 200.0, Seq("99.9.9.9"), Nil, "x")))
    val (_, advPath) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/out", quiet)
    assert(advPath.isEmpty)
  }

  test("splittable source matches whole-file read on a multi-record capture") {
    val rnd = new scala.util.Random(7)
    val many = (0 until 500).map { i =>
      val app = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(app)
      (1000.0 + i, frame(s"10.0.${i % 5}.1", "10.0.9.9", 1000 + i, 80, if (i % 3 == 0) 17 else 6, app))
    }
    val dir = Files.createTempDirectory("graft-split").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "big.pcap")
    Files.write(pcap.toPath, pcapOf(many: _*))

    val whole = PcapSource.packets(spark, Seq(pcap.getAbsolutePath))
      .collect().map(p => (p.timestamp, p.src_port, p.payload.toSeq)).sortBy(_._1)
    val splitDs = PcapSource.packetsSplittable(spark, Seq(pcap.getAbsolutePath), targetSplitBytes = 4096)
    val split = splitDs.collect().map(p => (p.timestamp, p.src_port, p.payload.toSeq)).sortBy(_._1)
    assert(split.length == whole.length)
    assert(split.sameElements(whole))
    // one scan partition per planned split, and no shuffle to place them
    val nSplits = PcapSource.planSplits(spark, Seq(pcap.getAbsolutePath), 4096).size
    assert(nSplits > 1 && splitDs.rdd.getNumPartitions == nSplits)
    val plan = splitDs.queryExecution.executedPlan
    assert(SinkPlans.find(plan)(_.isInstanceOf[ShuffleExchangeExec]).isEmpty, plan.toString)
  }

  test("flagship pipeline ingests pcapng captures unchanged (format dispatch)") {
    val dir = Files.createTempDirectory("graft-ng").toFile
    dir.deleteOnExit()
    val ng = new java.io.File(dir, "cap.pcapng")
    Files.write(ng.toPath, graft.pcap.PcapngFormat.write(
      frames.map { case (ts, f) => graft.pcap.PcapRecord(ts, f) }))
    val (dataPath, advPath) =
      BytesPipeline.run(spark, Seq(ng.getAbsolutePath), s"$dir/out", cfg)
    val data = spark.read.parquet(dataPath).collect()
    assert(data.length == 4) // same 4 survivors as the classic-pcap test
    assert(data.map(r => r.getDouble(0) -> r.getAs[String]("label")).toMap ==
      Map(120.0 -> "benign", 130.0 -> "dos", 140.0 -> "dos", 260.0 -> "benign"))
    assert(spark.read.parquet(advPath.get).collect().map(_.getDouble(0)).toSeq == Seq(130.0))
  }

  test("splittable pcapng matches whole-file read (block resync)") {
    val rnd = new scala.util.Random(11)
    val many = (0 until 400).map { i =>
      val app = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(app)
      graft.pcap.PcapRecord(2000.0 + i + 0.000000001 * i,
        frame(s"10.0.${i % 5}.1", "10.0.9.9", 1000 + i, 80, if (i % 3 == 0) 17 else 6, app))
    }
    val dir = Files.createTempDirectory("graft-ngsplit").toFile
    dir.deleteOnExit()
    val ng = new java.io.File(dir, "big.pcapng")
    // nano resolution so split/whole equality also pins the divisor path
    Files.write(ng.toPath, graft.pcap.PcapngFormat.write(many, divisors = Seq(1e9)))

    val whole = PcapSource.packets(spark, Seq(ng.getAbsolutePath))
      .collect().map(p => (p.timestamp, p.src_port, p.payload.toSeq)).sortBy(_._1)
    val split = PcapSource.packetsSplittable(spark, Seq(ng.getAbsolutePath), targetSplitBytes = 4096)
      .collect().map(p => (p.timestamp, p.src_port, p.payload.toSeq)).sortBy(_._1)
    assert(split.length == whole.length)
    assert(split.sameElements(whole))
    // and the SQL connector plans the same multi-split read
    val viaSql = spark.read.format("pcap").option("splitBytes", "4096")
      .load(ng.getAbsolutePath)
    assert(viaSql.rdd.getNumPartitions > 1, "pcapng file did not split")
    assert(viaSql.count() == whole.length)
  }

  test("splittable pcapng honors if_tsoffset: split == whole, absolute timestamps") {
    val rnd = new scala.util.Random(14)
    val offset = 1500000000L
    val many = (0 until 300).map { i =>
      val app = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(app)
      graft.pcap.PcapRecord(offset + 10.0 + i * 0.5,
        frame(s"10.0.${i % 5}.1", "10.0.9.9", 1000 + i, 80, if (i % 3 == 0) 17 else 6, app))
    }
    val dir = Files.createTempDirectory("graft-ngoff").toFile
    dir.deleteOnExit()
    val ng = new java.io.File(dir, "off.pcapng")
    Files.write(ng.toPath, graft.pcap.PcapngFormat.write(many, tsOffsets = Seq(offset)))

    val whole = PcapSource.packets(spark, Seq(ng.getAbsolutePath))
      .collect().map(p => (p.timestamp, p.src_port)).sortBy(_._1)
    // absolute time recovered, not the relative raw values
    assert(whole.head._1 == offset + 10.0 && whole.last._1 == offset + 10.0 + 299 * 0.5)
    val split = PcapSource.packetsSplittable(spark, Seq(ng.getAbsolutePath), targetSplitBytes = 4096)
      .collect().map(p => (p.timestamp, p.src_port)).sortBy(_._1)
    assert(split.sameElements(whole),
      "split planning must carry if_tsoffset through PcapSplit")
  }

  test("runAccounted counts SPB (no-timestamp) records loudly instead of silent drops") {
    import java.nio.{ByteBuffer, ByteOrder}
    // pcapng with 4 timestamped EPBs in range + 3 Simple Packet Blocks.
    // SPBs carry decodable frames but NO timestamp (ts=0.0) -> every
    // range rule drops them; the accounting must still see them.
    val epbs = frames.collect { case (ts, f) if ts != 150.0 => graft.pcap.PcapRecord(ts, f) }
    val img = graft.pcap.PcapngFormat.write(epbs)
    def spb(f: Array[Byte]): Array[Byte] = {
      val pad = (4 - (4 + f.length) % 4) % 4
      val total = 12 + 4 + f.length + pad
      ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
        .putInt(graft.pcap.PcapngFormat.SpbType).putInt(total)
        .putInt(f.length).put(f).put(new Array[Byte](pad)).putInt(total).array()
    }
    val spbs = (0 until 3).flatMap(i => spb(frame("10.0.0.5", "10.0.0.6", 5000 + i, 80, 6)))
    val dir = Files.createTempDirectory("graft-spb").toFile
    dir.deleteOnExit()
    val ng = new java.io.File(dir, "spb.pcapng")
    Files.write(ng.toPath, img ++ spbs)

    val r = BytesPipeline.runAccounted(spark, Seq(ng.getAbsolutePath), s"$dir/out", cfg)
    assert(r.ingestedPackets == 8, "5 EPBs (ts 50 excluded later by range, still ingested) + 3 SPBs")
    assert(r.noTimestampPackets == 3)
    // the SPBs were range-filtered out of the published snapshot...
    assert(spark.read.parquet(r.dataPath).count() == 4)
    // ...and latest() resolves the same committed snapshot
    assert(BytesPipeline.latest(spark, s"$dir/out").map(_._1).contains(r.dataPath))
  }

  test("IPv6 is opt-in: default preset drops v6, ipv6=true decodes it alongside v4") {
    val dir = Files.createTempDirectory("graft-v6").toFile
    dir.deleteOnExit()
    val mixed = frames :+ (135.0, frame6(7, 9, 443, 55000)) // v6 inside the range
    val pcap = new java.io.File(dir, "mix.pcap")
    Files.write(pcap.toPath, pcapOf(mixed: _*))

    // reference-parity preset: flagship output identical to a v4-only capture
    val (d1, _) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/o1", cfg)
    assert(spark.read.parquet(d1).count() == 4)

    val (d2, _) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/o2",
      cfg.copy(ipv6 = true))
    val rows = spark.read.parquet(d2).collect()
    assert(rows.length == 5)
    val v6row = rows.find(_.getDouble(0) == 135.0).get
    assert(v6row.getAs[String]("src_ip") == "2001:db8:0:0:0:0:0:7")
    assert(v6row.getAs[String]("label") == "benign") // v4 rules don't match v6 addrs
    // widened floats show the anonymized v6 address bytes (offsets 8-39) zeroed
    (8 to 39).foreach(i => assert(v6row.getAs[Float](s"byte($i)") == 0.0f))
  }

  test("dual sink is crash-consistent: a reader never sees a torn pair") {
    val dir = Files.createTempDirectory("graft-atomic").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "cap.pcap")
    Files.write(pcap.toPath, pcapOf(frames: _*))
    val out = s"$dir/out"

    // v=1: a committed snapshot WITH an adversarial table
    val (data1, adv1) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), out, cfg)
    assert(data1 == s"$out/v=1/data" && adv1.contains(s"$out/v=1/adversarial"))
    assert(BytesPipeline.latest(spark, out).contains((data1, adv1)))

    // Simulate a run KILLED between the two writes: v=2/data staged, no
    // adversarial, no marker. This is exactly the on-disk state of the
    // old overwrite scheme's torn window.
    spark.read.parquet(data1).limit(1).write.parquet(s"$out/v=2/data")
    val seen = BytesPipeline.latest(spark, out).get
    assert(seen == (data1, adv1),
      s"reader surfaced the uncommitted half-snapshot: $seen")
    // both halves of the visible pair are intact and from ONE version
    assert(spark.read.parquet(seen._1).count() == 4)
    assert(spark.read.parquet(seen._2.get).count() == 1)

    // The retry publishes PAST the orphan (never reuses v=2), prunes both
    // the superseded v=1 and the orphan staging dir.
    val (data3, adv3) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), out, cfg)
    assert(data3 == s"$out/v=3/data" && adv3.contains(s"$out/v=3/adversarial"))
    assert(BytesPipeline.latest(spark, out).contains((data3, adv3)))
    assert(!new java.io.File(s"$out/v=1").exists(), "superseded snapshot not pruned")
    assert(!new java.io.File(s"$out/v=2").exists(), "orphan staging dir not pruned")

    // Adversarial ELISION is versioned too: publish with no rule firing
    // and the old adversarial must stop being visible (the stale-pair bug
    // of the overwrite scheme).
    val quiet = cfg.copy(rules = Seq(LabelRule(100.0, 200.0, Seq("99.9.9.9"), Nil, "x")))
    val (data4, adv4) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), out, quiet)
    assert(adv4.isEmpty)
    assert(BytesPipeline.latest(spark, out).contains((data4, None)))
  }

  private val metaCols = Seq("timestamp", "src_ip", "dst_ip", "src_port", "dst_port", "protocol", "label")

  /** A labeled-features frame shaped like [[BytesPipeline.featuresDf]]'s
    * output: 7 metadata columns and `features` of `len` floats. Row 3 has
    * a null `features`, row 2 a null element at index 5, row 4 a null
    * `dst_ip`. Column order differs from the sink's on purpose. */
  private def featureFrame(rows: Int, len: Int): DataFrame = {
    val id = col("id")
    val vec = transform(sequence(lit(0), lit(len - 1)), i =>
      when(id === 2 && i === 5, lit(null).cast("float"))
        .otherwise((((id * 31 + i) % 256) / 255.0).cast("float")))
    spark.range(rows).select(
      (id + 0.5).as("timestamp"),
      when(id === 3, lit(null).cast("array<float>")).otherwise(vec).as("features"),
      concat(lit("10.0.0."), id).as("src_ip"),
      when(id === 4, lit(null).cast("string")).otherwise(lit("10.0.9.9")).as("dst_ip"),
      (id + 1000).as("src_port"), lit(80L).as("dst_port"),
      when(id % 2 === 0, "6").otherwise("17").as("protocol"),
      when(id === 1, "dos").otherwise("benign").as("label"))
  }

  /** The projection the sink used before the native operator: kept here
    * only as the oracle. */
  private def getItemWiden(df: DataFrame, width: Int): DataFrame =
    df.select(metaCols.map(col) ++
      (0 until width).map(i => col("features").getItem(i).as(s"byte($i)")): _*)

  for (w <- Seq(64, 1525))
    test(s"native widen equals the getItem projection at width $w (schema, rows, nulls)") {
      val in = featureFrame(rows = 6, len = w)
      val got = BytesPipeline.widen(in, w)
      val want = getItemWiden(in, w)
      assert(got.schema == want.schema) // names, order, types, nullability
      assert(got.schema.drop(7).forall(f => f.nullable))
      assert(got.count() == 6)
      assert(got.exceptAll(want).isEmpty, "native rows missing from the oracle")
      assert(want.exceptAll(got).isEmpty, "oracle rows missing from the native widen")
      val nullVec = got.filter(col("timestamp") === 3.5).head()
      assert((7 until 7 + w).forall(nullVec.isNullAt), "null features must widen to all-null bytes")
    }

  test("widen fails loudly on an array whose length is not width") {
    for (len <- Seq(63, 65)) {
      val e = intercept[SparkException] {
        BytesPipeline.widen(featureFrame(rows = 4, len = len), 64)
          .write.format("noop").mode("overwrite").save()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(s"holds $len elements, expected 64")),
        s"length $len: ${e.getMessage}")
    }
  }

  test("the 1525-wide sinks plan WidenExec and no projection over 100 expressions") {
    val dir = Files.createTempDirectory("graft-widenplan").toFile
    dir.deleteOnExit()
    val pcap = new java.io.File(dir, "cap.pcap")
    Files.write(pcap.toPath, pcapOf(frames: _*))
    val plans = SinkPlans.capture(spark) {
      val (_, adv) = BytesPipeline.run(spark, Seq(pcap.getAbsolutePath), s"$dir/out",
        cfg.copy(width = 1525))
      assert(adv.isDefined)
    }
    assert(plans.count(SinkPlans.hasWiden) == 2, "data and adversarial writes both widen natively")
    val wide = plans.flatMap(SinkPlans.wideProjects)
    assert(wide.isEmpty, s"wide projections left in the sink: ${wide.map(_.projectList.size)}")
  }
}
