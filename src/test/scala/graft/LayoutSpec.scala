package graft

/** Physical-layout assertions for the lakehouse maintenance operators —
  * the file-count effects the DuckDB oracle (which sees only logical
  * content) cannot check.
  */
class LayoutSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def parquetFiles(path: String): Int =
    Option(new java.io.File(path).listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)

  test("sink_compact rewrites the 64-file layout into 4 files, content intact") {
    val out = SparkEntry.queries("sink_compact")(spark, dir)
    val n = out.collect().map(_.getLong(1)).sum
    assert(n > 0, "compacted table read back empty")
    val small = parquetFiles(queries.LayoutQ.tmp(spark, "sink_compact_small", dir))
    val big = parquetFiles(queries.LayoutQ.tmp(spark, "sink_compact_big", dir))
    assert(small == 64, s"expected the 64-file fixture layout to persist for reuse, found $small files")
    assert(big == 4, s"expected 4 compacted files, found $big")
  }

  test("sink_rowgroups: bounded write carries more row groups than files; default does not") {
    SparkEntry.queries("sink_rowgroups")(spark, dir).collect() // builds the fixture
    def rowGroups(path: String): (Int, Long) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      val groups = files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.size.toLong finally r.close()
      }.sum
      (files.length, groups)
    }
    val (nFiles, nGroups) = rowGroups(queries.LayoutQ.tmp(spark, "sink_rowgroups", dir))
    assert(nFiles == 2, s"expected the 2-file fixture, found $nFiles")
    assert(nGroups > nFiles,
      s"bounded parquet.block.size must yield row groups > files (got $nGroups groups / $nFiles files) " +
        "— a monolithic row group caps scan parallelism at file count (the f_map2 decade lesson)")
    // contrast: the same data written with the default block size is one
    // row group per file — the layout whose scan parallelism cannot
    // exceed the file count no matter what maxPartitionBytes says
    withTempDir("graft_rg_ctrl") { c =>
      val ctrl = c.toString
      import org.apache.spark.sql.functions._
      import graft.ops.ColumnOps._
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), cents(col("l_extendedprice")).as("price_cents"))
        .repartition(2).write.mode("overwrite").parquet(ctrl)
      val (cFiles, cGroups) = rowGroups(ctrl)
      assert(cGroups == cFiles,
        s"default write should be one row group per file here (got $cGroups groups / $cFiles files)")
    }
  }

  test("scan_evolve surfaces pre-schema rows under the null-status bucket") {
    val rows = SparkEntry.queries("scan_evolve")(spark, dir).collect()
    val statuses = rows.map(_.getString(0)).toSet
    assert(statuses.contains("<pre-schema>"), s"missing evolved-null bucket in $statuses")
    assert(statuses.size >= 2, "expected at least one real status besides the pre-schema bucket")
  }
}
