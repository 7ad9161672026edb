package graft.pcap

import com.fasterxml.jackson.databind.ObjectMapper
import java.util
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 pcap connector: `spark.read.format("pcap").load(paths*)`
  * yields decoded+anonymized packets with the [[Packet]] schema.
  *
  * The splittable reader: [[PcapSource.packetsSplittable]] (the flagship's
  * `splittable` mode) calls it, SQL reaches it as `CREATE TABLE ... USING
  * pcap`. planInputPartitions() emits one byte-range [[PcapInputPartition]]
  * per ~`splitBytes` of each file ([[PcapSource.planSplits]]), so a
  * multi-GB capture runs as one task per split with no shuffle and no
  * driver-side data scan.
  *
  * Options: `splitBytes` (default 128 MiB, at most
  * [[PcapSource.MaxSplitBytes]]), `ipv6` (default false). Reference
  * semantics (BytesProcessor.py:211-268) are inherited from PacketDecoder
  * — dropped frames simply produce no rows.
  */
final class PcapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pcap"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PcapTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val paths = PcapTable.paths(properties)
    require(paths.nonEmpty,
      "pcap source requires a path: spark.read.format(\"pcap\").load(\"/path/capture.pcap\")")
    new PcapTable(paths)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object PcapTable {
  /** The [[Packet]] encoder's schema, so the splittable scan and the
    * whole-file reader agree on nullability too (strings and `payload`
    * nullable, numbers not): both read modes write the same Parquet
    * schema. */
  val schema: StructType = Encoders.product[Packet].schema

  /** `load(p)` passes `path`; `load(p1, p2, ...)` passes `paths` as a JSON
    * array of strings. */
  def paths(properties: util.Map[String, String]): Seq[String] = {
    val o = properties.asScala
    o.get("paths").map(p => new ObjectMapper().readValue(p, classOf[Array[String]]).toSeq)
      .orElse(o.get("path").map(Seq(_)))
      .getOrElse(Seq.empty)
  }
}

final class PcapTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"pcap(${paths.mkString(",")})"
  override def schema(): StructType = PcapTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val scan = new PcapScan(paths,
      Option(options.get("splitBytes")).map(_.toLong).getOrElse(PcapSource.DefaultSplitBytes),
      Option(options.get("ipv6")).exists(_.toBoolean))
    () => scan
  }
}

final case class PcapInputPartition(split: PcapSource.PcapSplit) extends InputPartition

final class PcapScan(paths: Seq[String], splitBytes: Long, ipv6: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = PcapTable.schema
  override def description(): String = s"PcapScan(${paths.size} files, split=$splitBytes)"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    PcapSource.planSplits(SparkSession.active, paths, splitBytes)
      .map(PcapInputPartition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = new PcapReaderFactory(ipv6)
}

final class PcapReaderFactory(ipv6: Boolean) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[PcapInputPartition].split
    new PartitionReader[InternalRow] {
      private val it: Iterator[Packet] =
        PcapSource.readSplit(split).flatMap(r => PacketDecoder.decode(r.ts, r.frame, ipv6))
      private var cur: Packet = _
      override def next(): Boolean = { if (it.hasNext) { cur = it.next(); true } else false }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        cur.timestamp,
        UTF8String.fromString(cur.src_ip),
        UTF8String.fromString(cur.dst_ip),
        cur.src_port,
        cur.dst_port,
        UTF8String.fromString(cur.protocol),
        cur.payload,
        UTF8String.fromString(cur.label)))
      override def close(): Unit = ()
    }
  }
}
