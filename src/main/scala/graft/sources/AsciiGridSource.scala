package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.api.RadoHydro

/** DataSourceV2 for directories of ESRI ASCII grid rasters (plain `.asc` or
  * inside `.tar`/`.tar.gz`/`.gz` archives) — the SURVEY X1 stretch goal: the
  * reference's hand-rolled clip-window pushdown expressed as a real Spark
  * source with `SupportsPushDownFilters`.
  *
  *   spark.read.format("graft.sources.AsciiGridSource").load(dir)
  *     .where($"row".between(r0, r1) && $"col".between(c0, c1))   // pushed
  *
  * Schema: (ts timestamp, row int, col int, value double). Timestamps parse
  * from member-name digits (radohydro.py:64-78). Comparison filters on
  * row/col tighten the parse window INSIDE the text parser (rows outside are
  * skipped without number parsing); ts and value filters evaluate post-scan
  * (returned as residuals). One input partition per file — at 100 TB the
  * unit of parallelism is the daily archive, which is how DWD shards the
  * data.
  */
class AsciiGridSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "asciigrid"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AsciiGridSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AsciiGridTable(properties.asScala.toMap)
}

object AsciiGridSource {
  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("row", IntegerType),
    StructField("col", IntegerType),
    StructField("value", DoubleType)))
}

class AsciiGridTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"asciigrid(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = AsciiGridSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AsciiGridScanBuilder(options.asScala.toMap ++ properties)
}

/** Turns row/col comparison filters into a parse window; keeps the rest. */
class AsciiGridScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters {

  private var rowLo = 0
  private var rowHi = Int.MaxValue
  private var colLo = 0
  private var colHi = Int.MaxValue
  private var pushed: Array[Filter] = Array.empty

  private def tighten(attr: String, lo: Option[Int], hi: Option[Int]): Unit = attr match {
    case "row" =>
      lo.foreach(v => rowLo = math.max(rowLo, v))
      hi.foreach(v => rowHi = math.min(rowHi, v))
    case "col" =>
      lo.foreach(v => colLo = math.max(colLo, v))
      hi.foreach(v => colHi = math.min(colHi, v))
    case _ => ()
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case sources.GreaterThanOrEqual(a, v: Int) if a == "row" || a == "col" =>
        tighten(a, Some(v), None); true
      case sources.GreaterThan(a, v: Int) if a == "row" || a == "col" =>
        tighten(a, Some(v + 1), None); true
      case sources.LessThanOrEqual(a, v: Int) if a == "row" || a == "col" =>
        tighten(a, None, Some(v)); true
      case sources.LessThan(a, v: Int) if a == "row" || a == "col" =>
        tighten(a, None, Some(v - 1)); true
      case sources.EqualTo(a, v: Int) if a == "row" || a == "col" =>
        tighten(a, Some(v), Some(v)); true
      case _ => false
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new AsciiGridScan(options, rowLo, rowHi, colLo, colHi, pushed)
}

case class AsciiGridFilePartition(path: String) extends InputPartition

class AsciiGridScan(options: Map[String, String],
    rowLo: Int, rowHi: Int, colLo: Int, colHi: Int,
    pushed: Array[Filter]) extends Scan with Batch {

  private def spark = SparkSession.active

  override def readSchema(): StructType = AsciiGridSource.schema
  override def description(): String =
    s"AsciiGridScan window rows=[$rowLo,$rowHi] cols=[$colLo,$colHi] " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = options.getOrElse("path",
      throw new IllegalArgumentException("asciigrid: missing load path"))
    RadoHydro.paths(RadoHydro.rasterFiles(spark, dir))
      .map(p => AsciiGridFilePartition(p.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (rl, rh, cl, ch) = (rowLo, rowHi, colLo, colHi)
    val datasource = options.getOrElse("datasource", "radolan")
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new AsciiGridPartitionReader(new Path(partition.asInstanceOf[AsciiGridFilePartition].path),
          conf.value.value, datasource, rl, rh, cl, ch)
    }
  }
}

class AsciiGridPartitionReader(path: Path, conf: Configuration, datasource: String,
    rowLo: Int, rowHi: Int, colLo: Int, colHi: Int)
    extends PartitionReader[InternalRow] {

  private val in = RadoHydro.open(path, conf)

  private val iter: Iterator[InternalRow] = {
    val name = path.getName
    def until(hi: Int) = if (hi == Int.MaxValue) Int.MaxValue else hi + 1
    val spec = RadoHydro.ScanSpec(datasource, (rowLo, until(rowHi)), (colLo, until(colHi)))
    RadoHydro.scanFile(name, in, spec).flatMap { g =>
      val tsMicros = g.ts.getTime / 1000 * 1000000L + g.ts.getNanos / 1000
      g.cells.map(c => InternalRow(tsMicros, c.row, c.col, c.value))
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
