package graft.sources

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** One data file's statistics as Delta keeps them on its `add` action:
  * byte size, modification time, row count and, per top-level column,
  * min/max and null count. Values are Spark external values of the
  * column's type (`Long`, `String`, `LocalDate`, `java.math.BigDecimal`,
  * …). A column is in `minValues`/`maxValues` only when every row group
  * of the file carries usable bounds for it, and in `nullCount` only
  * when every row group counts its nulls; a column the file does not
  * have is recorded as all-null.
  */
private[sources] final case class FileStats(size: Long, modificationTime: Long,
    numRecords: Long, minValues: Map[String, Any], maxValues: Map[String, Any],
    nullCount: Map[String, Long]) {

  /** The file's [min, max] of `column`: `Some((null, null))` when every
    * row is null there (no value can match a comparison), `None` when the
    * stats cannot bound it (the file must be read).
    */
  def bounds(column: String): Option[(Any, Any)] =
    (minValues.get(column), maxValues.get(column)) match {
      case (Some(mn), Some(mx)) => Some((mn, mx))
      case _ if nullCount.get(column).contains(numRecords) => Some((null, null))
      case _ => None
    }

  /** These stats with `columns` recorded as all-null: the file predates them. */
  def withAbsent(columns: Seq[String]): FileStats =
    copy(nullCount = nullCount ++ columns.map(_ -> numRecords))

  /** The JSON object the `_graft_log` manifest stores. */
  def toJson(o: ObjectNode): ObjectNode = {
    o.put("size", size).put("modificationTime", modificationTime)
      .put("numRecords", numRecords)
    Seq("minValues" -> minValues, "maxValues" -> maxValues).foreach { case (k, vs) =>
      val m = o.putObject(k)
      vs.foreach { case (c, v) => m.set[JsonNode](c, FileStats.encode(v)) }
    }
    val nc = o.putObject("nullCount")
    nullCount.foreach { case (c, n) => nc.put(c, n) }
    o
  }
}

private[sources] object FileStats {

  private val json = JsonNodeFactory.instance

  /** Built once: each build loads a Hadoop configuration (~10 ms). */
  private val readOptions = ParquetReadOptions.builder().build()

  /** A stats value as JSON: integers and booleans bare; floats (their
    * Java rendering, exact and ±Infinity-safe), decimals and dates as
    * strings.
    */
  private def encode(v: Any): JsonNode = v match {
    case b: Boolean => json.booleanNode(b)
    case i: Byte => json.numberNode(i.toLong)
    case i: Short => json.numberNode(i.toLong)
    case i: Int => json.numberNode(i.toLong)
    case i: Long => json.numberNode(i)
    case f: Float => json.textNode(f.toString)
    case d: Double => json.textNode(d.toString)
    case d: JBigDecimal => json.textNode(d.toPlainString)
    case d: LocalDate => json.textNode(d.toString)
    case s: String => json.textNode(s)
  }

  /** The value `n` encodes for a column of type `dt`. */
  private def decode(n: JsonNode, dt: DataType): Any = dt match {
    case BooleanType => n.asBoolean
    case ByteType => n.asLong.toByte
    case ShortType => n.asLong.toShort
    case IntegerType => n.asLong.toInt
    case LongType => n.asLong
    case FloatType => n.asText.toFloat
    case DoubleType => n.asText.toDouble
    case _: DecimalType => new JBigDecimal(n.asText)
    case DateType => LocalDate.parse(n.asText)
    case _ => n.asText
  }

  /** Parse [[FileStats.toJson]]'s object; values of columns `schema`
    * does not type are dropped.
    */
  def fromJson(o: JsonNode, schema: StructType): FileStats = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    def values(k: String): Map[String, Any] = ListMap.from(o.path(k).properties().asScala
      .collect { case e if types.contains(e.getKey) =>
        e.getKey -> decode(e.getValue, types(e.getKey)) })
    FileStats(o.path("size").asLong, o.path("modificationTime").asLong,
      o.path("numRecords").asLong, values("minValues"), values("maxValues"),
      ListMap.from(o.path("nullCount").properties().asScala.map(e => e.getKey -> e.getValue.asLong)))
  }

  /** Read `file`'s statistics for the top-level columns of `schema` from
    * its parquet footer, on the driver (no Spark job). The type mapping
    * is the one Spark's parquet writer uses for booleans, numbers,
    * strings and dates; a column of another type (timestamps, binary,
    * nested types), whose bounds some row group lacks (a NaN in a float
    * column, a string over the writer's stats size limit), or whose dates
    * were written in the legacy hybrid calendar gets no min/max, so the
    * file is read for predicates on it.
    */
  def read(file: String, schema: StructType): FileStats = {
    val path = Paths.get(file)
    val footer = readFooter(path)
    val blocks = footer.getBlocks.asScala.toSeq
    val numRecords = blocks.map(_.getRowCount).sum
    val legacyCalendar = footer.getFileMetaData.getKeyValueMetaData.asScala.keySet
      .exists(_.startsWith("org.apache.spark.legacy"))
    val mins, maxs = ListMap.newBuilder[String, Any]
    val nulls = ListMap.newBuilder[String, Long]
    val fileFields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
    schema.fields.foreach { f =>
      // Spark's reader resolves columns case-insensitively by default
      fileFields.find(_.getName == f.name)
        .orElse(fileFields.find(_.getName.equalsIgnoreCase(f.name))) match {
        case None => nulls += f.name -> numRecords
        case Some(p: PrimitiveType) if !(legacyCalendar && f.dataType == DateType) =>
          val stats = blocks.map(b => (b.getRowCount, b.getColumns.asScala
            .find(_.getPath.toArray.sameElements(Array(p.getName)))
            .map(_.getStatistics).orNull))
          if (stats.forall { case (_, s) => s != null && s.isNumNullsSet })
            nulls += f.name -> stats.map(_._2.getNumNulls).sum
          bounds(stats).foreach { case (mn, mx) =>
            (value(p, f.dataType, mn), value(p, f.dataType, mx)) match {
              case (Some(a), Some(b)) => mins += f.name -> a; maxs += f.name -> b
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    FileStats(Files.size(path), Files.getLastModifiedTime(path).toMillis, numRecords,
      mins.result(), maxs.result(), nulls.result())
  }

  private def readFooter(path: Path): ParquetMetadata = {
    val input = new LocalInputFile(path)
    val stream = input.newStream()
    try ParquetFileReader.readFooter(input, readOptions, stream) finally stream.close()
  }

  /** The schema Spark's parquet inference reads from `file`'s footer, on
    * the driver: the Spark schema its writer stored in the key-value
    * metadata, else the parquet schema converted under the session's
    * settings.
    */
  def sparkSchema(file: Path): StructType = {
    val meta = readFooter(file).getFileMetaData
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
  }

  /** The column chunk's min and max over all row groups, in the column's
    * parquet sort order; None unless every row group either bounds its
    * values or holds only nulls. Parquet drops the bounds of a float
    * chunk holding NaN, so such a file has none.
    */
  private def bounds(stats: Seq[(Long, Statistics[_])]): Option[(AnyRef, AnyRef)] = {
    var mn, mx: AnyRef = null
    val ok = stats.forall {
      case (_, s) if s != null && s.hasNonNullValue =>
        val cmp = s.comparator().asInstanceOf[java.util.Comparator[AnyRef]]
        val (a, b) = (s.genericGetMin.asInstanceOf[AnyRef], s.genericGetMax.asInstanceOf[AnyRef])
        if (mn == null || cmp.compare(a, mn) < 0) mn = a
        if (mx == null || cmp.compare(b, mx) > 0) mx = b
        true
      case (rows, s) => s != null && s.isNumNullsSet && s.getNumNulls == rows
    }
    if (ok && mn != null) Some((mn, mx)) else None
  }

  /** A footer bound as the Spark external value of type `dt`, when the
    * physical and logical type are the ones Spark writes for `dt`.
    */
  private def value(p: PrimitiveType, dt: DataType, v: AnyRef): Option[Any] = {
    val logical = p.getLogicalTypeAnnotation
    def signedInt = logical == null || (logical match {
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    })
    (p.getPrimitiveTypeName, dt, logical, v) match {
      case (BOOLEAN, BooleanType, _, b: java.lang.Boolean) => Some(b.booleanValue)
      case (INT32, ByteType, _, i: Integer) if signedInt => Some(i.toByte)
      case (INT32, ShortType, _, i: Integer) if signedInt => Some(i.toShort)
      case (INT32, IntegerType, _, i: Integer) if signedInt => Some(i.intValue)
      case (INT64, LongType, _, l: java.lang.Long) if signedInt => Some(l.longValue)
      case (FLOAT, FloatType, _, f: java.lang.Float) => Some(f.floatValue)
      case (DOUBLE, DoubleType, _, d: java.lang.Double) => Some(d.doubleValue)
      case (INT32, DateType, _: DateLogicalTypeAnnotation, i: Integer) =>
        Some(LocalDate.ofEpochDay(i.longValue))
      case (_, d: DecimalType, l: DecimalLogicalTypeAnnotation, _) if l.getScale == d.scale =>
        val unscaled = v match {
          case i: Integer => Some(BigInteger.valueOf(i.longValue))
          case l: java.lang.Long => Some(BigInteger.valueOf(l))
          case b: Binary => Some(new BigInteger(b.getBytes))
          case _ => None
        }
        unscaled.map(new JBigDecimal(_, d.scale))
      case (BINARY, StringType, _: StringLogicalTypeAnnotation, b: Binary)
          if dt == StringType => Some(new String(b.getBytes, UTF_8))
      case _ => None
    }
  }
}
