package graft.pipeline

import graft.functions.packet_vector
import graft.ops.{LabelRule, RangeFilter, RuleLabeler}
import graft.pcap.{Packet, PcapSource}
import graft.plans.Widen
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The flagship workload: the reference's whole program
  * (/root/reference/BytesProcessor.py:48-194) as ONE declarative Spark
  * pipeline — pcap scan -> decode/anonymize -> multi-range time filter ->
  * rule labeling -> dual parquet sink, which vectorizes and widens the
  * payloads as it encodes them ([[WideParquet]]).
  *
  * Execution shape (SURVEY.md §3.4): a single narrow stage per sink, zero
  * shuffles — the pipeline is embarrassingly parallel, so at 100 TB it
  * scales linearly with executors; there is no driver-side loop, no
  * collect, no chunk bookkeeping (Spark partitioning subsumes the
  * reference's chunk/pool/gather machinery, :62-94,:121-158).
  *
  * Ordering within the reference is preserved where it is load-bearing:
  * the range filter runs BEFORE vectorization ("avoid processing bytes
  * outside ranges given", :144-145) — declaratively Catalyst does this via
  * predicate pushdown, and vectorize being after filter in the plan
  * guarantees no wasted byte work either way.
  */
object BytesPipeline {

  final case class Config(
      rules: Seq[LabelRule],
      rangesToExtract: Seq[(Double, Double)],
      width: Int = 1525, // README.md:8 — initial 1525 B of the IP layer
      widen: Boolean = true, // byte(i) columns at the sink for schema parity (§7.4)
      splittable: Boolean = false,
      targetSplitBytes: Long = PcapSource.DefaultSplitBytes,
      // Engine extension: decode IPv6 datagrams too. Default false = the
      // reference-parity preset (BytesProcessor.py:222 checks dpkt.ip.IP
      // only, so v6 frames drop).
      ipv6: Boolean = false)

  def forwardMask(rules: Seq[LabelRule]): Column =
    RuleLabeler.forwardMask(col("timestamp"), col("src_ip"), rules)

  /** decode output -> labeled feature table (columns: metadata + label +
    * features float32[width]); `payload` never reaches the sink (:167).
    */
  def features(packets: Dataset[Packet], cfg: Config): DataFrame =
    featuresDf(packets.toDF(), cfg)

  /** [[features]] over an untyped packet frame (same columns as
    * [[graft.pcap.Packet]]) — lets callers interpose e.g. an `observe`
    * node between decode and the range filter. */
  def featuresDf(packets: DataFrame, cfg: Config): DataFrame =
    vectorize(inRangeLabeled(packets, cfg), cfg)

  /** [[featuresDf]] before vectorizing: packets in range, labeled, with
    * their `payload`. */
  private def inRangeLabeled(packets: DataFrame, cfg: Config): DataFrame =
    packets
      .filter(RangeFilter.inRanges(
        col("timestamp"),
        cfg.rangesToExtract.map { case (lo, hi) => (lit(lo), lit(hi)) }))
      .withColumn("label",
        RuleLabeler.labelCol(col("timestamp"), col("src_ip"), col("dst_ip"), cfg.rules))

  /** `payload` -> `features` float32[width], `payload` dropped. */
  private def vectorize(df: DataFrame, cfg: Config): DataFrame =
    df.withColumn("features", packet_vector(col("payload"), cfg.width)).drop("payload")

  /** The sink's metadata columns, in the reference's order (:183-184). */
  private val MetaCols =
    Seq("timestamp", "src_ip", "dst_ip", "src_port", "dst_port", "protocol", "label")

  /** Widen features to the reference's `byte(0)..byte(width-1)` columns
    * (:183-184): the 7 metadata columns, then one nullable FloatType column
    * per element, as a frame. The sinks do not call it: they hand the
    * cached payloads to [[WideParquet]], which computes the same columns in
    * the file writer (see [[writeDual]]). It stays for callers that want
    * the wide rows themselves.
    *
    * Built by the native [[graft.plans.Widen]] operator, not a `select` of
    * 1525 `getItem(i)`s. Such a projection is over
    * `spark.sql.codegen.maxFields` (100), so it runs outside whole-stage
    * codegen, and then every task generates, formats and compiles its own
    * `UnsafeProjection` source for all 1525 expressions. `WidenExec`
    * generates no code; it fills one reused row writer per partition in
    * one loop. An array whose length is not `width` fails the task.
    */
  def widen(df: DataFrame, width: Int): DataFrame =
    Widen.of(df.select((MetaCols :+ "features").map(col): _*), "features",
      (0 until width).map(i => s"byte($i)"))

  /** Rows per sink file: ~128 MiB of floats (the default split size), so
    * 22,002 rows at width 1525. */
  private[pipeline] def rowsPerFile(width: Int): Long =
    math.max(1L, PcapSource.DefaultSplitBytes / (width * 4L))

  /** Tasks for `runAccounted`'s data write: one per core, or one per
    * default split of capture when that is more, and never more than the
    * `p` input partitions. This is Spark's own file-source packing (bytes
    * per core, capped at a 128 MiB split), so only an over-split input is
    * packed: at default splits the bound is `p`, and a 100 TB run keeps one
    * task per split. */
  private[pipeline] def dataTasks(p: Int, captureBytes: Long, cores: Int): Int = {
    val split = PcapSource.DefaultSplitBytes
    val byBytes = (captureBytes + split - 1) / split
    math.max(1L, math.min(p.toLong, math.max(cores.toLong, byBytes))).toInt
  }

  /** Total bytes of the captures `paths` name (globs and directories
    * included), from file statuses: no job. */
  private def captureBytes(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.iterator.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).toSeq.flatten.map(s => fs.getContentSummary(s.getPath).getLength)
    }.sum
  }

  /** One sink table from the labeled payload rows `df`: written by `tasks`
    * tasks when given (a coalesce, so no shuffle), else one per partition,
    * and no file over [[rowsPerFile]] rows. When `cfg.widen` the metadata
    * columns and `payload` go to [[WideParquet]], which writes the
    * `byte(i)` columns itself; otherwise `payload` is vectorized into the
    * `features` array column and written with `.parquet`. */
  private def writeTable(df: DataFrame, path: String, tasks: Option[Int], cfg: Config): Unit = {
    val frame = if (cfg.widen) df.select((MetaCols :+ "payload").map(col): _*) else vectorize(df, cfg)
    val sized = tasks.fold(frame)(frame.coalesce)
    (if (cfg.widen) WideParquet.writer(sized, cfg.width)
     else sized.write.format("parquet").option("maxRecordsPerFile", rowsPerFile(cfg.width)))
      .mode("overwrite").save(path)
  }

  /** The dual sink (:110-119): all of `labeled` to `dataPath`, its forward
    * rows to `advPath` only when there are any (:115-117). `labeled` is the
    * persisted output of [[inRangeLabeled]]: payloads, not floats. With
    * `cfg.widen` both tables are written by [[WideParquet]] straight from
    * those payloads, so no sink plan holds a float array or a widened row;
    * each open file buffers at most [[rowsPerFile]] rows of `width` payload
    * bytes in its task, 32 MiB at any width. An `observe` node on the data
    * write, which holds every forward row, counts them: no extra job, and
    * no empty table written and then deleted.
    *
    * A 1532-column Parquet file costs ~0.4 MB of footer, column-chunk
    * metadata and dictionaries however few rows it holds, so both tables
    * are sized, by one rule: no file holds more than [[rowsPerFile]] rows.
    * The data table is written by `tasks` tasks when given (else one
    * per partition of `labeled`); the adversarial table by
    * `ceil(nFwd / rowsPerFile)` tasks, from the observed count. On
    * flagbench `flagship_wide` (3000 packets, 8 splits, `local[4]`, 4-core
    * host) the data table went from 8 files to 4, and the median written
    * size from 10.68 to 8.25 MB over ten paired runs.
    * Returns `Some(advPath)` iff written. */
  private def writeDual(labeled: DataFrame, dataPath: String, advPath: String,
                        cfg: Config, tasks: Option[Int]): Option[String] = {
    val fwd = forwardMask(cfg.rules)
    val obs = org.apache.spark.sql.Observation()
    writeTable(labeled.observe(obs, count(when(fwd, 1)).as("fwd")), dataPath, tasks, cfg)
    val nFwd = obs.get("fwd").asInstanceOf[Long]
    if (nFwd == 0L) None
    else {
      val rows = rowsPerFile(cfg.width)
      writeTable(labeled.filter(fwd), advPath, Some(((nFwd + rows - 1) / rows).toInt), cfg)
      Some(advPath)
    }
  }

  /** Continuous flagship: stream packets from a watched directory and
    * maintain BOTH sinks per micro-batch via foreachBatch (the streaming
    * engine allows one sink per query; foreachBatch gives the dual write
    * the batch path has, with the same persist-once shape). Append-only
    * parquet, exactly-once per input file via the checkpoint log.
    *
    * A batch's data write keeps the batch's own partitioning: the
    * `binaryFile` source already packs a trigger's files into tasks by
    * bytes per core, capped at `spark.sql.files.maxPartitionBytes`, which is
    * the packing [[runAccounted]] applies to its splits.
    */
  /** @param availableNow true = `Trigger.AvailableNow`: process every
    *        file present, then stop — the scheduled-incremental mode
    *        (cron-driven catch-up over a landing zone) that replaces a
    *        full batch re-read with checkpointed incremental progress at
    *        100 TB. false = continuous micro-batches (default). */
  def runStreaming(spark: SparkSession, watchDir: String, outDir: String, cfg: Config,
                   checkpoint: Option[String] = None, availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val packets = PcapSource.packetsStream(spark, watchDir, ipv6 = cfg.ipv6)
    val writer = inRangeLabeled(packets.toDF(), cfg)
      .writeStream
      .option("checkpointLocation", checkpoint.getOrElse(s"$outDir/_checkpoint"))
    (if (availableNow)
       writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else writer)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Idempotent on micro-batch REPLAY (crash between the two writes):
        // each batch overwrites its own batch_id=N directory, which readers
        // see as a partition column, so a replayed batch replaces its own
        // output instead of appending duplicates. A batch with no rows left
        // leaves a data/batch_id=N holding one zero-row file; a batch with
        // no forward rows touches no adversarial path. The batch persists
        // its payloads, as a snapshot run does: a float cache of the same
        // trigger is 1525 x 4 bytes a row (~37 GB at 128 MB capture files).
        val labeled = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try writeDual(labeled, s"$outDir/data/batch_id=$batchId",
          s"$outDir/adversarial/batch_id=$batchId", cfg, tasks = None)
        finally labeled.unpersist()
        ()
      }
      .start()
  }

  // --- crash-consistent dual-sink snapshot protocol ---------------------
  //
  // The naive batch shape (two independent mode("overwrite") commits) has
  // a torn-pair window: a crash between the `data` and `adversarial`
  // writes leaves a NEW data table beside a STALE adversarial table with
  // nothing tying versions together. `run` therefore stages both tables
  // under a fresh `$outDir/v=N/{data,adversarial}` and COMMITS by
  // atomically creating the zero-byte marker `$outDir/_published_v=N`
  // only after both writes finish. Readers resolve through [[latest]]
  // (highest published marker wins), so a crash anywhere before the
  // marker — including between the two table writes — leaves the
  // previous snapshot fully visible and the orphan staging dir invisible;
  // the next successful run prunes it. Marker creation is a single file
  // create (atomic on posix and HDFS; an object-store PUT is equally
  // all-or-nothing). This mirrors the streaming twin's versioned-snapshot
  // discipline (StreamingOps.applyUpsert). Adversarial elision
  // (BytesProcessor.py:115-117) is preserved PER SNAPSHOT: the published
  // version simply has no adversarial dir when no rule fired — the stale
  // adversarial of the overwrite scheme cannot survive a publish.

  private val MarkerPrefix = "_published_v="

  private def fsOf(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def listNames(spark: SparkSession, outDir: String): Seq[String] = {
    val (fs, root) = fsOf(spark, outDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
  }

  /** Committed snapshot versions (marker files present). */
  private[pipeline] def publishedVersions(spark: SparkSession, outDir: String): Seq[Long] =
    listNames(spark, outDir).filter(_.startsWith(MarkerPrefix))
      .map(_.stripPrefix(MarkerPrefix).toLong)

  /** All staged version dirs, published or not (orphans from crashed runs
    * included — version numbering must never reuse them). */
  private[pipeline] def stagedVersions(spark: SparkSession, outDir: String): Seq[Long] =
    listNames(spark, outDir).filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)

  /** Resolve the committed snapshot a reader should use: (dataPath,
    * Some(advPath) iff that snapshot published an adversarial table).
    * Never returns a torn pair — both paths come from one committed
    * version. None until the first successful `run`. */
  def latest(spark: SparkSession, outDir: String): Option[(String, Option[String])] =
    publishedVersions(spark, outDir).sorted.lastOption.map { v =>
      val (fs, _) = fsOf(spark, outDir)
      val adv = new org.apache.hadoop.fs.Path(s"$outDir/v=$v/adversarial")
      (s"$outDir/v=$v/data", if (fs.exists(adv)) Some(adv.toString) else None)
    }

  /** Accounted-run result: the committed snapshot paths plus ingest
    * counters observed on the decode stream itself (an `observe` node —
    * zero extra jobs, zero extra passes): total decoded packets, and how
    * many carried NO capture timestamp. pcapng Simple Packet Blocks have
    * no timestamp field and surface as ts=0.0 ([[graft.pcap.PcapngFormat]]);
    * every time-range rule silently drops such records, so an SPB-heavy
    * capture would otherwise range-filter to zero rows with no trace.
    * A nonzero `noTimestampPackets` is therefore also logged LOUDLY to
    * stderr by [[runAccounted]]. */
  final case class RunResult(dataPath: String, advPath: Option[String],
      ingestedPackets: Long, noTimestampPackets: Long)

  /** Run end-to-end: returns (dataPath, Some(advPath) if any adversarial
    * rows), both inside the newly committed snapshot dir. Two sinks share
    * one persisted upstream so decode runs once (:110-119 writes both
    * tables from one in-memory chunk).
    */
  def run(spark: SparkSession, pcapPaths: Seq[String], outDir: String, cfg: Config)
      : (String, Option[String]) = {
    val r = runAccounted(spark, pcapPaths, outDir, cfg)
    (r.dataPath, r.advPath)
  }

  /** [[run]] plus ingest accounting (see [[RunResult]]).
    *
    * The data write runs in [[dataTasks]]`(P, captureBytes, cores)` tasks:
    * `P` is the partition count of the planned scan, `captureBytes` the
    * captures' size from file statuses. Neither runs a job, and neither
    * plans a frame that carries the ingest `Observation`: sizing from
    * `labeled.rdd.getNumPartitions` completed it with 0 packets before the
    * data write ran. `P` comes from the scan's `QueryExecution`, not from
    * `Dataset.rdd`, which in Spark 4 wraps the planning in a SQL execution
    * of its own that every query listener sees. */
  def runAccounted(spark: SparkSession, pcapPaths: Seq[String], outDir: String, cfg: Config)
      : RunResult = {
    val packets =
      if (cfg.splittable)
        PcapSource.packetsSplittable(spark, pcapPaths, cfg.targetSplitBytes, ipv6 = cfg.ipv6)
      else PcapSource.packets(spark, pcapPaths, ipv6 = cfg.ipv6)
    // Ingest counters ride the decode stream BEFORE the range filter —
    // they count what was read, not what survived.
    val obs = org.apache.spark.sql.Observation()
    val observed = packets.toDF().observe(obs,
      count(lit(1)).as("packets"),
      count(when(col("timestamp") === 0.0, 1)).as("no_ts_packets"))
    // Sized from the unobserved `packets`, never from `labeled` (see above).
    val tasks = dataTasks(packets.queryExecution.toRdd.getNumPartitions,
      captureBytes(spark, pcapPaths), spark.sparkContext.defaultParallelism)
    // Persisted as payloads: a payload (at most one frame) caches in a
    // quarter or less of the space of its `width` floats. Cached as floats,
    // each split's column buffer passed 1 MiB, so G1 allocated it straight
    // into the old generation, where it stayed until unpersist; on
    // flagbench `flagship_wide` that set off extra concurrent cycles and
    // mixed collections in some runs and not others. Each sink reads the
    // cached payloads itself; the adversarial one only its forward rows.
    val cached = inRangeLabeled(observed, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val prev = publishedVersions(spark, outDir)
      val v = (prev ++ stagedVersions(spark, outDir)).foldLeft(0L)(math.max) + 1
      val stage = s"$outDir/v=$v"
      val dataPath = s"$stage/data"
      val advPath = writeDual(cached, dataPath, s"$stage/adversarial", cfg, Some(tasks))
      // COMMIT: the snapshot becomes visible in one atomic file create.
      val (fs, _) = fsOf(spark, outDir)
      fs.create(new org.apache.hadoop.fs.Path(outDir, s"$MarkerPrefix$v"), false).close()
      // Prune everything the commit superseded: old markers first (so a
      // crash mid-prune can only leave EXTRA consistent snapshots, never
      // a marker without its dir), then stale + orphan staging dirs.
      prev.foreach(o => fs.delete(new org.apache.hadoop.fs.Path(outDir, s"$MarkerPrefix$o"), false))
      stagedVersions(spark, outDir).filter(_ != v).foreach(o =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/v=$o"), true))
      // The data-sink action already materialized the observe node; get
      // is immediate. cache() means the adversarial pass never re-fires it.
      val m = obs.get
      val nPackets = m("packets").asInstanceOf[Long]
      val nNoTs = m("no_ts_packets").asInstanceOf[Long]
      if (nNoTs > 0L)
        System.err.println(
          s"[graft.BytesPipeline] WARNING: $nNoTs of $nPackets ingested packets " +
            "have no capture timestamp (pcapng Simple Packet Blocks surface as " +
            "ts=0.0) and fail every time-range rule; if the capture is SPB-heavy " +
            "the published snapshot may be empty.")
      RunResult(dataPath, advPath, nPackets, nNoTs)
    } finally cached.unpersist()
  }
}
