package graft.ops

import graft.{SparkEntry, SparkSpec}

/** The packed pair key `(x << 32) | y` aliases pairs once an element
  * reaches 2^31; every key that mines pairs through
  * [[ColumnOps.packedPairs]] must fail instead of returning wrong pairs. */
class PackedPairsSpec extends SparkSpec {
  test("a part key of 2^31 fails every pair-mining key") {
    withTempDir("graft_packed") { dir =>
      import spark.implicits._
      Seq((1L, 1L), (1L, 1L << 31), (2L, 1L), (2L, 1L << 31))
        .toDF("l_orderkey", "l_partkey")
        .write.parquet(s"$dir/lineitem.parquet")
      for (key <- Seq("x_copurchase", "x_basket_rules", "g_kcore", "g_bfs_depth")) {
        val e = intercept[Exception](SparkEntry.queries(key)(spark, dir.toString).collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains("below 2^31, got 2147483648")),
          s"$key: $e")
      }
    }
  }

  test("keys below 2^31 pack to (x << 32) | y in lexicographic order") {
    val ps = spark.range(1).selectExpr("array(1L, 5L, 2147483647L) AS ps")
      .select(ColumnOps.packedPairs(org.apache.spark.sql.functions.col("ps")))
      .head().getSeq[Long](0)
    assert(ps == Seq((1L << 32) | 5L, (1L << 32) | 2147483647L, (5L << 32) | 2147483647L))
  }
}
