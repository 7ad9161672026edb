package graft.queries

import graft._
import graft.ops.ColumnOps._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lakehouse maintenance operators (round 5): small-file compaction and
  * schema-evolution reads — the two table-maintenance moves every
  * long-lived 100 TB parquet lake needs beyond plain writes.
  */
object LayoutQ {

  /** Scratch path keyed by (query, data dir, SparkSession): the
    * applicationId suffix keeps concurrent runs over the same dataset
    * (bench alongside verify, parallel test forks) from racing on the
    * overwrite writes. LayoutSpec locates the path via this same helper. */
  def tmp(spark: org.apache.spark.sql.SparkSession, name: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_${spark.sparkContext.applicationId}"

  /** Registers a scratch table written under [[tmp]] for recursive
    * deletion when the JVM exits, so no session strands it, and returns its
    * path. Hadoop ignores a path that does not exist yet, so this runs
    * after the write; registering again on a later reuse is a no-op. */
  private[queries] def deleteOnExit(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
    path
  }

  /** Small-file compaction. Streaming ingestion leaves thousands of tiny
    * files per partition; each costs a NameNode/listing round-trip, a
    * footer read, and a task — at 100 TB the file COUNT, not the byte
    * count, becomes the scan bottleneck. The operator rewrites a 64-file
    * layout into 4 right-sized files via repartition (a pure shuffle,
    * no driver involvement; in production the repartition count is
    * target_bytes / file_size). Correctness = the compacted table reads
    * back identically (oracle aggregates the logical content); the file
    * counts themselves are asserted in LayoutSpec.
    */
  val sinkCompact: Q = Q(
    "sink_compact",
    (spark, dir) => {
      val small = tmp(spark, "sink_compact_small", dir)
      val big = tmp(spark, "sink_compact_big", dir)
      // The 64-file layout is the FIXTURE (a streaming sink's small-file
      // accretion), not the operator under test — write it once per
      // (dataset, session) and reuse on later invocations, so repeated
      // runs time compaction itself: read 64 files → 4 right-sized files.
      val smallPath = new org.apache.hadoop.fs.Path(small)
      val fs = smallPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(smallPath, "_SUCCESS"))) {
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), cents(col("l_extendedprice")).as("price_cents"))
          .repartition(64).write.mode("overwrite").parquet(small)
      }
      spark.read.parquet(deleteOnExit(spark, small)).repartition(4).write.mode("overwrite").parquet(big)
      spark.read.parquet(deleteOnExit(spark, big))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
           | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Schema evolution: a table written over time by producers on
    * different schema versions (v1 lacks the status column) read back as
    * ONE table via mergeSchema — missing columns surface as nulls, no
    * rewrite of old files. This is the additive-evolution contract a
    * lake needs: readers never break when a producer adds a column.
    * mergeSchema's footer-merge pass is why evolved tables should carry
    * few schema versions, not thousands — noted here because at 100 TB
    * the merge pass is a driver-side file-listing cost. */
  val scanEvolve: Q = Q(
    "scan_evolve",
    (spark, dir) => {
      val path = tmp(spark, "scan_evolve", dir)
      val ord = Tables(spark, dir, "orders")
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .write.mode("overwrite").parquet(s"$path/v=1")
      ord.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"),
          col("o_orderstatus").as("status"))
        .write.mode("overwrite").parquet(s"$path/v=2")
      deleteOnExit(spark, path)
      spark.read.option("mergeSchema", "true").parquet(s"$path/v=1", s"$path/v=2")
        .groupBy(coalesce(col("status"), lit("<pre-schema>")).as("status"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("status")
    },
    Some("""WITH u AS (
           |  SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
           |         CAST(NULL AS VARCHAR) AS status
           |  FROM orders WHERE o_orderkey % 2 = 0
           |  UNION ALL
           |  SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT), o_orderstatus
           |  FROM orders WHERE o_orderkey % 2 = 1)
           |SELECT COALESCE(status, '<pre-schema>') AS status, COUNT(*) AS n,
           | CAST(SUM(price_cents) AS BIGINT) AS sum_cents
           |FROM u GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Writer ROW-GROUP sizing as a parallelism knob. The round-13 decade
    * layout sweep measured the failure mode this operator guards
    * against: a copy of events written as 4 files holding ONE
    * ~1.4M-row row group each collapsed a row-local 10M-row projection
    * from 32 tasks to 4 (56 s → 436 s) — `maxPartitionBytes` plans
    * BYTE ranges, but a task can only read whole row groups, so
    * effective scan parallelism is capped by the TOTAL ROW-GROUP
    * count, not the byte math. The operator rewrites a 2-file layout
    * with bounded row groups (`parquet.block.size`), so the same two
    * files carry many independently-readable row groups and a scan
    * parallelizes past the file count again. Oracle = content
    * identity; the row-group structure itself (groups ≫ files for the
    * bounded write, groups == files for a default sibling) is pinned
    * in LayoutSpec via the parquet footers. The 16 KB bound is sized
    * to the tiny gate fixtures so the split is visible at sf0.001; in
    * production the same knob is set to 64–512 MB — small enough that
    * bytes/maxPartitionBytes tasks each own whole groups, large enough
    * that footers and page headers stay negligible. */
  val sinkRowgroups: Q = Q(
    "sink_rowgroups",
    (spark, dir) => {
      val path = tmp(spark, "sink_rowgroups", dir)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            cents(col("l_extendedprice")).as("price_cents"))
          .repartition(2) // "big files" layout — the row-group bound, not
          .write.mode("overwrite") // file count, keeps it scan-parallel
          .option("parquet.block.size", 16 * 1024)
          .parquet(path)
      }
      spark.read.parquet(deleteOnExit(spark, path))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
           | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Hidden file-metadata columns: every file-based scan exposes
    * `_metadata` (file_path, file_name, file_size, row_index, ...) — the
    * lineage surface for audits ("which file did this row come from")
    * and incremental pipelines (process files newer than a cursor)
    * without a separate manifest table. Here the partition value is
    * re-derived FROM the file path and grouped on, proving the metadata
    * column carries real per-file provenance: rows land in
    * `flag=X/part-*.parquet` dirs and the regexp over `_metadata
    * .file_path` recovers X. Metadata columns are populated by the scan
    * itself (no extra I/O), so the audit costs nothing at 100 TB. */
  val scanMetadata: Q = Q(
    "scan_metadata",
    (spark, dir) => {
      val path = tmp(spark, "scan_metadata", dir)
      // The partitioned layout is the fixture; the operator under test is
      // the _metadata read-back. Write once per (dataset, session) —
      // repartition by the partition column so every flag's rows land in
      // ONE task and each flag=X dir gets exactly one file, in parallel
      // (one task per flag), not through a single-task repartition(1).
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS"))) {
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag").as("flag"),
            cents(col("l_extendedprice")).as("price_cents"))
          .repartition(col("flag"))
          .write.mode("overwrite").partitionBy("flag").parquet(path)
      }
      spark.read.parquet(deleteOnExit(spark, path))
        .select(col("price_cents"),
          regexp_extract(col("_metadata.file_path"), "flag=([^/]+)/", 1).as("path_flag"),
          col("_metadata.file_name").as("fn"),
          col("_metadata.row_index").as("ri"))
        .groupBy(col("path_flag"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"),
          // n_files pins the one-file-per-dir invariant the closed form
          // below depends on: any writer config that splits files (e.g.
          // maxRecordsPerFile) fails loudly here instead of silently
          // skewing row_index_sum.
          countDistinct(col("fn")).as("n_files"),
          // row_index is 0..n-1 within each file; with one file per
          // partition dir its sum is n(n-1)/2 — asserting the closed
          // form pins the per-file row numbering, not just row counts
          sum(col("ri")).as("row_index_sum"))
        .orderBy("path_flag")
    },
    Some("""SELECT l_returnflag AS path_flag, COUNT(*) AS n,
           | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
           | CAST(1 AS BIGINT) AS n_files,
           | CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS row_index_sum
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  val all: Seq[Q] = Seq(sinkCompact, scanEvolve, scanMetadata, sinkRowgroups)
}
