package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Structural checks on [[RowGroupAudit]] beyond the oracle gate, plus
  * the writer-compliance assertion the audit exists to enforce: the
  * engine's own sink writers must not produce the single-giant-row-group
  * layout the audit flags.
  */
class RowGroupAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("audit accounts for every row and every data file, from footers alone") {
    val s = spark; import s.implicits._
    withTempDir("graft_rgspec") { d =>
      val out = d.toString
      val df = (1L to 5000L).toDF("id").withColumn("pad", lpad(col("id").cast("string"), 64, "x"))
      df.repartition(2).write.option("parquet.block.size", 32768)
        .mode("overwrite").parquet(out)
      val audit = RowGroupAudit.audit(spark, out).collect()
      assert(audit.map(_.getLong(2)).sum == 5000L, "footer rows != written rows")
      assert(audit.length == 2, s"expected 2 data files, audit saw ${audit.length}")
      assert(audit.forall(_.getLong(1) >= 2),
        s"32KB block target should split 2500x72B rows into multiple groups: ${audit.toSeq}")
      assert(audit.forall(r => r.getLong(3) <= r.getLong(2)), "max_rg_rows > n_rows")
    }
  }

  test("audit recurses a partitioned directory tree via the Hadoop FS layer") {
    // ADVICE r16: the old java.io.File listing was flat and local-only;
    // the listing now goes through org.apache.hadoop.fs.FileSystem with
    // recursion, so a partitionBy() tree — subdirectories per partition
    // value — must be fully covered, while _SUCCESS markers and any
    // file under a hidden/_-prefixed directory stay excluded.
    val s = spark; import s.implicits._
    withTempDir("graft_rgspec_part") { d =>
      val out = d.toString
      val df = (1L to 3000L).toDF("id").withColumn("part", pmod(col("id"), lit(3)))
      df.repartition(1).write.partitionBy("part").mode("overwrite").parquet(out)
      val audit = RowGroupAudit.audit(spark, out).collect()
      assert(audit.map(_.getLong(2)).sum == 3000L,
        s"partitioned-tree footer rows != written rows: ${audit.toSeq}")
      assert(audit.length == 3,
        s"expected 3 data files (one per partition dir), audit saw ${audit.length}")
    }
  }

  test("the engine's own sink writers stay row-group compliant") {
    // sink_clustered writes the engine's largest clustered output; its
    // 8 range files at sf0.001 must each hold either multiple row groups
    // or fewer rows than the audit's scan-parallelism flag would fire on
    // at production block sizes. Running the query builds the fixture;
    // the path is derived from the same helpers the query uses (exact,
    // not a newest-mtime scan that could pick another scale's fixture).
    graft.SparkEntry.queries("sink_clustered")(spark, dir).collect()
    val fx = graft.queries.SinkQ.keyed(
      graft.queries.SinkQ.tmp("sink_clustered", dir), s"$dir/lineitem.parquet")
    assert(new java.io.File(fx).isDirectory, s"sink_clustered fixture missing at $fx")
    val audit = RowGroupAudit.audit(spark, fx).collect()
    assert(audit.nonEmpty)
    // default 128MB block size: a flagged file would need >128MB in ONE
    // group; these files are far smaller, so the real assertion is that
    // no file's single row group exceeds the default block size.
    assert(audit.forall(r => r.getLong(1) > 1 || r.getLong(4) <= 128L * 1024 * 1024),
      s"sink_clustered produced a single row group larger than the default block: ${audit.toSeq}")
  }
}
