package graft.pipeline

import graft.SparkSpec
import graft.functions.packet_vector
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** [[WideParquet]] against the frame path it replaces: `widen` over
  * `packet_vector` features, written with `.parquet`. */
class WideParquetSpec extends SparkSpec {

  private val narrowSchema = StructType(Seq(
    StructField("timestamp", DoubleType, nullable = false),
    StructField("src_ip", StringType),
    StructField("dst_ip", StringType),
    StructField("src_port", LongType, nullable = false),
    StructField("dst_port", LongType),
    StructField("protocol", StringType),
    StructField("label", StringType),
    StructField("payload", BinaryType)))

  /** Payloads of every shape at `width`: empty, short, exactly `width`,
    * over-long, null, then `extra` of random length over four byte values
    * (few distinct values per column, so Parquet keeps the dictionary
    * encoding); row 3 also has a null `dst_ip`. */
  private def narrow(width: Int, extra: Int = 200): DataFrame = {
    val rnd = new scala.util.Random(width)
    val alphabet = Array[Byte](0, 1, 0x80.toByte, 0xff.toByte)
    def bytes(n: Int): Array[Byte] = Array.tabulate(n)(i => (i * 37 + n).toByte)
    val payloads = Seq(Array.emptyByteArray, bytes(7), bytes(width), bytes(width + 37), null,
      Array[Byte](0, 0x7f, 0x80.toByte, 0xff.toByte)) ++
      Seq.fill(extra)(Array.fill(rnd.nextInt(width * 2))(alphabet(rnd.nextInt(4))))
    val rows = payloads.zipWithIndex.map { case (p, i) =>
      Row(100.0 + i, s"10.0.0.$i", if (i == 3) null else "10.0.9.9", 1000L + i, 80L,
        if (i % 2 == 0) "6" else "17", if (i == 1) "dos" else "benign", p)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), narrowSchema)
  }

  /** The frame path: vectorize, widen, `.parquet`. */
  private def writeOracle(df: DataFrame, width: Int, path: String): Unit =
    BytesPipeline.widen(df.withColumn("features", packet_vector(col("payload"), width)).drop("payload"), width)
      .coalesce(1).write.parquet(path)

  private def writeWide(df: DataFrame, width: Int, path: String): Unit =
    WideParquet.writer(df.coalesce(1), width).save(path)

  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)

  /** What a part file's footer says: its Parquet schema, key-value
    * metadata, codecs, the encodings of each column, the columns with a
    * dictionary page, and its row count. */
  private case class Footer(schema: MessageType, kv: Map[String, String], codecs: Set[String],
                            encodings: Map[String, Set[Encoding]], dictionary: Set[String], rows: Long)

  private def footer(f: java.io.File): Footer = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
    try {
      val meta = r.getFooter
      val chunks = meta.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      Footer(meta.getFileMetaData.getSchema, meta.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        chunks.map(_.getCodec.name).toSet,
        chunks.groupBy(_.getPath.toDotString).map { case (k, cs) => k -> cs.flatMap(_.getEncodings.asScala).toSet },
        chunks.filter(_.hasDictionaryPage).map(_.getPath.toDotString).toSet,
        meta.getBlocks.asScala.map(_.getRowCount).sum)
    } finally r.close()
  }

  private def assertSameRows(a: String, b: String): Unit = {
    val (x, y) = (spark.read.parquet(a), spark.read.parquet(b))
    assert(x.schema == y.schema)
    assert(x.exceptAll(y).isEmpty, "WideParquet rows missing from the frame path")
    assert(y.exceptAll(x).isEmpty, "frame-path rows missing from WideParquet")
  }

  for (w <- Seq(64, 1525))
    test(s"WideParquet equals widen + parquet at width $w (rows, footer)") {
      withTempDir("graft-wide") { dir =>
        val df = narrow(w)
        writeWide(df, w, s"$dir/wide")
        writeOracle(df, w, s"$dir/frame")
        assertSameRows(s"$dir/wide", s"$dir/frame")
        val Seq(got) = partFiles(s"$dir/wide").map(footer)
        val Seq(want) = partFiles(s"$dir/frame").map(footer)
        assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}") // required/optional too
        assert(got.schema.getType(0).isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
        assert(got.kv == want.kv)
        assert(got.codecs == want.codecs && got.codecs == Set("SNAPPY"))
        assert(got.encodings == want.encodings)
        assert(got.dictionary == want.dictionary && (0 until w).forall(i => got.dictionary(s"byte($i)")))
        assert(got.rows == df.count())
        // the null payload widens to all-null bytes, the empty one to zeros
        val rows = spark.read.parquet(s"$dir/wide").collect().map(r => r.getDouble(0) -> r).toMap
        assert((7 until 7 + w).forall(rows(104.0).isNullAt))
        assert((7 until 7 + w).forall(i => rows(100.0).getFloat(i) == 0f))
        assert(rows(105.0).getFloat(7 + 3) == 1f && rows(105.0).getFloat(7 + 2) == 128f / 255f)
      }
    }

  test("WideParquet splits pages as the frame path does past the page row limit") {
    withTempDir("graft-wide-pages") { dir =>
      val df = spark.range(45000).select(
        (col("id") + 0.5).as("timestamp"), lit("10.0.0.1").as("src_ip"), lit("10.0.0.2").as("dst_ip"),
        col("id").as("src_port"), lit(80L).as("dst_port"), lit("6").as("protocol"),
        lit("benign").as("label"), unhex(sha1(col("id").cast("string"))).as("payload"))
      writeWide(df, 16, s"$dir/wide")
      writeOracle(df, 16, s"$dir/frame")
      assertSameRows(s"$dir/wide", s"$dir/frame")
      val (got, want) = (footer(partFiles(s"$dir/wide").head), footer(partFiles(s"$dir/frame").head))
      assert(got.copy(kv = Map.empty) == want.copy(kv = Map.empty))
    }
  }

  test("WideParquet writes a zero-row file for a task with no rows") {
    withTempDir("graft-wide-empty") { dir =>
      val empty = narrow(64).filter(col("timestamp") < 0)
      writeWide(empty, 64, s"$dir/wide")
      writeOracle(empty, 64, s"$dir/frame")
      val Seq(got) = partFiles(s"$dir/wide").map(footer)
      val Seq(want) = partFiles(s"$dir/frame").map(footer)
      assert(got.rows == 0 && got == want)
      assert(spark.read.parquet(s"$dir/wide").schema == spark.read.parquet(s"$dir/frame").schema)
    }
  }

  test("WideParquet rolls files at maxRecordsPerFile") {
    withTempDir("graft-wide-roll") { dir =>
      val df = narrow(64, extra = 5) // 11 rows
      WideParquet.writer(df.coalesce(1), 64).option("maxRecordsPerFile", 3L).save(s"$dir/wide")
      writeOracle(df, 64, s"$dir/frame")
      assert(partFiles(s"$dir/wide").map(footer(_).rows).sorted == Seq(2L, 3L, 3L, 3L))
      assertSameRows(s"$dir/wide", s"$dir/frame")
      // and it refuses to buffer more than rowsPerFile rows in one file
      val e = intercept[IllegalArgumentException] {
        WideParquet.writer(df, 64).option("maxRecordsPerFile", BytesPipeline.rowsPerFile(64) + 1)
          .save(s"$dir/over")
      }
      assert(e.getMessage.contains("maxRecordsPerFile"))
    }
  }

  test("a failing WideParquet task leaves no part file") {
    withTempDir("graft-wide-fail") { dir =>
      val bad = narrow(64).withColumn("payload",
        when(col("src_port") === 1008L, raise_error(lit("boom")).cast("binary")).otherwise(col("payload")))
      val e = intercept[Exception](writeWide(bad, 64, s"$dir/wide"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
        t.getMessage != null && t.getMessage.contains("boom")), e)
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles).toSeq.flatten.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
      val left = walk(dir)
      assert(!left.exists(_.getName.startsWith("part-")), left.mkString("\n"))
    }
  }
}
