package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.bytes.DirectByteBufferAllocator
import org.apache.parquet.column.{ColumnWriter, ParquetProperties}
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.codec.CodecConfig
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** The wide sink's file format: writes the reference's Parquet table (the
  * metadata columns, then `byte(0)..byte(width-1)` as nullable floats)
  * from narrow rows that carry the raw `payload` instead of the floats.
  * `byte(i)` is `(payload(i) & 0xff) / 255f`, `0f` past the payload's end,
  * and null in every column when `payload` is null: the values
  * [[graft.functions.PacketVector]] computes, so the files read back equal
  * to `widen(featuresDf)` written with `.parquet`.
  *
  * Spark's own Parquet writer feeds the 1532 column writers one row at a
  * time, so every value lands on a cold dictionary map, statistics object
  * and page buffer. This format buffers a file's rows and, on `close`,
  * encodes them one column at a time through parquet-mr's column writers
  * (one `newColumnWriteStore` per column over a shared page store). The
  * schema, Spark's footer metadata, the codec and the writer properties come
  * from the same places Spark's writer takes them: `ParquetFileFormat`'s
  * `prepareWrite` on the wide schema, `ParquetWriteSupport.init`, and the
  * `parquet.*` settings of the job. Per-column `parquet.*#column` settings
  * and Parquet encryption are not read, and each file is one row group.
  * Pages are compressed by a direct-buffer codec factory, which for Snappy
  * drops the 64 KiB stream the heap factory allocates for every page.
  *
  * Memory: a writer holds at most `maxRecordsPerFile` rows, and the format
  * requires that option at or below [[BytesPipeline.rowsPerFile]]. A row
  * keeps its metadata and at most `width` payload bytes, so an open file
  * buffers at most `rowsPerFile(width) * width` payload bytes: 32 MiB at any
  * width. Write-only; read the files back with the `parquet` source.
  */
final class WideParquet extends FileFormat {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    throw new UnsupportedOperationException("WideParquet is write-only; read its files as parquet")

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val width = options(WideParquet.WidthOption).toInt
    val cap = BytesPipeline.rowsPerFile(width)
    val rows = options.find(_._1.equalsIgnoreCase("maxRecordsPerFile")).map(_._2.toLong)
    require(rows.exists(n => n > 0 && n <= cap),
      s"WideParquet needs maxRecordsPerFile in 1..$cap at width $width, got ${rows.getOrElse("none")}")
    val parquet = new ParquetFileFormat().prepareWrite(spark, job, options,
      WideParquet.wideSchema(dataSchema, width))
    new OutputWriterFactory {
      override def getFileExtension(ctx: TaskAttemptContext): String = parquet.getFileExtension(ctx)
      override def newInstance(path: String, schema: StructType, ctx: TaskAttemptContext): OutputWriter =
        new WideParquet.WideParquetWriter(path, schema, width, ctx)
    }
  }

  override def toString: String = "WideParquet"
}

object WideParquet {
  private[pipeline] val WidthOption = "width"

  /** `(b & 0xff) / 255f` for every byte value: the float `packet_vector`
    * gives a payload byte. */
  private val Lut: Array[Float] = Array.tabulate(256)(_ / 255.0f)

  /** A writer of `df` (metadata columns and a binary `payload`) into the
    * wide format at `width`, no file over [[BytesPipeline.rowsPerFile]] rows. */
  def writer(df: DataFrame, width: Int): DataFrameWriter[Row] =
    df.write.format(classOf[WideParquet].getName)
      .option(WidthOption, width.toLong)
      .option("maxRecordsPerFile", BytesPipeline.rowsPerFile(width))

  /** The columns of `narrow` but `payload`, in order, then one nullable
    * float `byte(i)` per payload byte. */
  private[pipeline] def wideSchema(narrow: StructType, width: Int): StructType = {
    require(narrow.exists(f => f.name == "payload" && f.dataType == BinaryType),
      s"WideParquet expects a binary payload column in ${narrow.simpleString}")
    val meta = narrow.filterNot(_.name == "payload")
    meta.foreach(f => metaWriter(f.dataType)) // unsupported types fail here, not in a task
    StructType(meta ++ (0 until width).map(i => StructField(s"byte($i)", FloatType)))
  }

  private type MetaWriter = (InternalRow, Int, ColumnWriter, Int) => Unit

  /** Writes one non-null metadata value as Spark's `ParquetWriteSupport`
    * does for its type. */
  private def metaWriter(t: DataType): MetaWriter = t match {
    case LongType => (r, i, w, d) => w.write(r.getLong(i), 0, d)
    case DoubleType => (r, i, w, d) => w.write(r.getDouble(i), 0, d)
    case _: StringType => (r, i, w, d) => w.write(Binary.fromReusedByteArray(r.getUTF8String(i).getBytes), 0, d)
    case other =>
      throw new IllegalArgumentException(s"WideParquet cannot write ${other.catalogString} columns")
  }

  /** The writer properties Spark's Parquet writer builds from the job's
    * `parquet.*` settings (`ParquetOutputFormat.getRecordWriter`), without
    * the per-column ones. */
  private def properties(conf: Configuration): ParquetProperties =
    ParquetProperties.builder()
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .estimateRowCountForPageSizeCheck(ParquetOutputFormat.getEstimatePageSizeCheck(conf))
      .withMinRowCountForPageSizeCheck(ParquetOutputFormat.getMinRowCountForPageSizeCheck(conf))
      .withMaxRowCountForPageSizeCheck(ParquetOutputFormat.getMaxRowCountForPageSizeCheck(conf))
      .withPageValueCountThreshold(ParquetOutputFormat.getValueCountThreshold(conf))
      .withColumnIndexTruncateLength(conf.getInt(ParquetOutputFormat.COLUMN_INDEX_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH))
      .withStatisticsTruncateLength(conf.getInt(ParquetOutputFormat.STATISTICS_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH))
      .withMaxBloomFilterBytes(ParquetOutputFormat.getBloomFilterMaxBytes(conf))
      .withBloomFilterEnabled(ParquetOutputFormat.getBloomFilterEnabled(conf))
      .withAdaptiveBloomFilterEnabled(ParquetOutputFormat.getAdaptiveBloomFilterEnabled(conf))
      .withPageRowCountLimit(conf.getInt(ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT,
        ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT))
      .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
      .withStatisticsEnabled(ParquetOutputFormat.getStatisticsEnabled(conf))
      .build()

  /** Buffers one file's rows; `close` writes the file column by column. */
  private final class WideParquetWriter(val path: String, schema: StructType, width: Int,
                                        ctx: TaskAttemptContext) extends OutputWriter {
    private val payloadOrd = schema.fieldIndex("payload")
    private val metaOrds = schema.indices.filter(_ != payloadOrd)
    private val metaPuts = metaOrds.map(i => metaWriter(schema(i).dataType))
    private val metaProj = UnsafeProjection.create(
      metaOrds.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)))
    private val metas = ArrayBuffer.empty[InternalRow]
    private val payloads = ArrayBuffer.empty[Array[Byte]]

    override def write(row: InternalRow): Unit = {
      metas += metaProj(row).copy()
      payloads += (if (row.isNullAt(payloadOrd)) null else {
        val p = row.getBinary(payloadOrd)
        if (p.length > width) java.util.Arrays.copyOf(p, width) else p
      })
    }

    override def close(): Unit = {
      val conf = ctx.getConfiguration
      val context = new ParquetWriteSupport().init(conf)
      val fileSchema = context.getSchema
      val props = properties(conf)
      val codecs = CodecFactory.createDirectCodecFactory(conf, new DirectByteBufferAllocator,
        props.getPageSizeThreshold)
      try {
        val file = new ParquetFileWriter(HadoopOutputFile.fromPath(new Path(path), conf), fileSchema,
          ParquetFileWriter.Mode.CREATE, ParquetOutputFormat.getLongBlockSize(conf),
          conf.getInt(ParquetOutputFormat.MAX_PADDING_BYTES, ParquetWriter.MAX_PADDING_SIZE_DEFAULT),
          null, props)
        try {
          file.start()
          if (metas.nonEmpty) {
            val pages = new ColumnChunkPageWriteStore(
              codecs.getCompressor(CodecConfig.from(ctx).getCodec), fileSchema, props.getAllocator,
              props.getColumnIndexTruncateLength, props.getPageWriteChecksumEnabled, null, 0)
            try {
              file.startBlock(metas.size)
              for (c <- 0 until fileSchema.getFieldCount) encodeColumn(c, fileSchema, props, pages)
              pages.flushToFileWriter(file)
              file.endBlock()
            } finally pages.close()
          }
          file.end(context.getExtraMetaData) // footer, then closes the stream
        } finally file.close() // no-op after `end`; releases the stream when encoding failed
      } finally {
        codecs.release()
        metas.clear()
        payloads.clear()
      }
    }

    /** Writes column `c` of every buffered row into `pages`. */
    private def encodeColumn(c: Int, fileSchema: MessageType, props: ParquetProperties,
                             pages: ColumnChunkPageWriteStore): Unit = {
      val one = new MessageType(fileSchema.getName, fileSchema.getType(c))
      val store = props.newColumnWriteStore(one, pages, pages)
      val w = store.getColumnWriter(one.getColumns.get(0))
      val d = one.getColumns.get(0).getMaxDefinitionLevel
      val n = metas.size
      var r = 0
      if (c < metaOrds.size) {
        val put = metaPuts(c)
        while (r < n) {
          val row = metas(r)
          if (row.isNullAt(c)) w.writeNull(0, 0) else put(row, c, w, d)
          store.endRecord()
          r += 1
        }
      } else {
        val i = c - metaOrds.size
        while (r < n) {
          val p = payloads(r)
          if (p == null) w.writeNull(0, 0)
          else w.write(if (i < p.length) Lut(p(i) & 0xff) else 0f, 0, d)
          store.endRecord()
          r += 1
        }
      }
      store.close() // flushes the column's last page and its dictionary into `pages`
    }
  }
}
