package graft.table

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Manifest stats for freshly written parquet files, read with parquet-mr
 * straight from the local files (no Hadoop FS, no Spark scan).
 *
 * Row counts, and min/max/null counts of integral and UTF-8 columns, come
 * from the footers the writer already filled. Every other type (float and
 * double with their NaN ordering, decimal, date, timestamp, boolean,
 * binary), and any column whose chunks lack complete statistics, is folded
 * from the values the reader decodes, under Spark's own ordering. Either
 * way a bound is rendered by Spark's `Cast` to string, so each [[ColStat]]
 * is exactly what `min(c).cast("string")` over the file would give. The
 * bloom key column is decoded too (never the other columns) and its
 * per-file [[FileBloom]] filter built from the rendered keys.
 */
object FileStats {

  private def readOptions: ParquetReadOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  private def open(path: String): ParquetFileReader =
    ParquetFileReader.open(new LocalInputFile(Paths.get(path)), readOptions)

  /** Spark's hidden-path rule (`HadoopFSUtils.shouldFilterOutPathName`):
   * `_x` (unless a `k=v` partition dir), `.x` and in-flight copies. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The files `spark.read.parquet(dir)` scans, sorted: every non-hidden
   * file under non-hidden directories. */
  def dataFiles(dir: Path): Seq[String] = {
    def walk(d: Path): Seq[Path] = {
      val s = Files.list(d)
      val kids = try s.iterator().asScala.toList finally s.close()
      kids.filterNot(p => hidden(p.getFileName.toString)).flatMap(p =>
        if (Files.isDirectory(p)) walk(p) else Seq(p))
    }
    walk(dir.toAbsolutePath.normalize).map(_.toString).sorted
  }

  /** Row count of one parquet file, from its footer alone. */
  def rowCount(path: String): Long = {
    val r = open(path)
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally r.close()
  }

  /** Leaf converter for the column readers: values are read with the
   * readers' typed getters, never pushed through a converter. */
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    def getConverter(fieldIndex: Int): Converter = leaf
    def start(): Unit = ()
    def end(): Unit = ()
  }

  /** Decoder of one non-null value to Spark's internal form, as Spark's own
   * parquet reader produces it for files it wrote. */
  private def decoder(dt: DataType, t: PrimitiveType): ColumnReader => Any = {
    import PrimitiveTypeName._
    (dt, t.getPrimitiveTypeName) match {
      case (BooleanType, _) => _.getBoolean
      case (ByteType, _) => _.getInteger.toByte
      case (ShortType, _) => _.getInteger.toShort
      case (IntegerType | DateType, _) => _.getInteger
      case (LongType, _) => _.getLong
      case (FloatType, _) => _.getFloat
      case (DoubleType, _) => _.getDouble
      case (d: DecimalType, INT32) => r => Decimal(r.getInteger.toLong, d.precision, d.scale)
      case (d: DecimalType, INT64) => r => Decimal(r.getLong, d.precision, d.scale)
      case (d: DecimalType, _) => r => Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(r.getBinary.getBytes), d.scale), d.precision, d.scale)
      case (TimestampType | TimestampNTZType, INT96) => r =>
        val b = r.getBinary.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanos = b.getLong
        DateTimeUtils.fromJulianDay(b.getInt, nanos)
      case (TimestampType | TimestampNTZType, INT64) =>
        t.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            r => r.getLong * 1000L
          case _ => _.getLong
        }
      case (_: StringType, _) => r => UTF8String.fromBytes(r.getBinary.getBytes)
      case (BinaryType, _) => _.getBinary.getBytes
      case _ => throw new IllegalArgumentException(
        s"stats column ${t.getName}: no stats for type ${dt.simpleString}")
    }
  }

  /** Types whose footer min/max is Spark's min/max: signed integers, and
   * UTF-8 strings under binary collation (unsigned byte order both ways). */
  private def footerTyped(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case StringType => true
    case _ => false
  }

  private def fromFooterValue(dt: DataType, v: Any): Any = (dt, v) match {
    case (ByteType, i: Integer) => i.toByte
    case (ShortType, i: Integer) => i.toShort
    case (IntegerType, i: Integer) => i.intValue
    case (LongType, l: java.lang.Long) => l.longValue
    case (_, b: org.apache.parquet.io.api.Binary) => UTF8String.fromBytes(b.getBytes)
    case _ => throw new IllegalStateException(s"footer value $v for $dt")
  }

  /** Running min/max/null count of one column under Spark's ordering. Ties
   * keep the first value seen, as `min`/`max` do (0.0 and -0.0 are equal
   * but render differently). */
  private final class Acc(val dataType: DataType, tz: String) {
    private val ord = PhysicalDataType.ordering(dataType)
    var min: Any = null
    var max: Any = null
    var nulls = 0L
    def add(v: Any): Unit = {
      if (min == null || ord.lt(v, min)) min = v
      if (max == null || ord.gt(v, max)) max = v
    }
    def stat: ColStat = {
      val render = renderer(dataType, tz)
      ColStat(Option(min).map(render).getOrElse(""),
        Option(max).map(render).getOrElse(""),
        dataType.isInstanceOf[NumericType], nulls)
    }
  }

  /** `value.cast("string")` for an internal value of `dt`. */
  private def renderer(dt: DataType, tz: String): Any => String = {
    val cast = Cast(BoundReference(0, dt, nullable = true), StringType, Some(tz))
    val row = new GenericInternalRow(1)
    v => { row.update(0, v); cast.eval(row).toString }
  }

  private lazy val schemaConverter = new ParquetToSparkSchemaConverter(SQLConf.get)

  /**
   * Stats for each non-empty file of `files`, and its key bloom, as one
   * task: zero-row files are left out, as a grouped aggregate over the
   * files would leave them out. When `bloomFile` is set and any of the
   * files has `bloomColumn`, the (path, bloom) rows are written there as
   * one parquet file ([[FileBloom.writeFile]]).
   */
  def collect(files: Seq[String], statsColumns: Seq[String],
              bloomColumn: Option[String], timeZone: String,
              bloomFile: Option[String]): Seq[DataFile] = {
    val blooms = Seq.newBuilder[(String, Array[Byte])]
    var anyKey = false
    val out = files.flatMap { path =>
      val r = open(path)
      try {
        val footer = r.getFooter
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(new org.apache.hadoop.fs.Path(path), footer), schemaConverter)
        val key = bloomColumn.filter(schema.fieldNames.contains)
        anyKey ||= key.nonEmpty
        val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
        if (rows == 0L) None
        else {
          val (stats, bloom) = fileStats(r, footer, schema,
            statsColumns.filter(schema.fieldNames.contains), key, timeZone)
          bloom.foreach(b => blooms += path -> b)
          Some(DataFile(path, rows, new java.io.File(path).length(), stats,
            partition = Partitioning.tupleOf(path), schemaId = -1))
        }
      } finally r.close()
    }
    if (anyKey) bloomFile.foreach(f => FileBloom.writeFile(f, blooms.result()))
    out
  }

  /** One decoded column: each non-null value, and each null. */
  private final case class Sink(desc: ColumnDescriptor, value: ColumnReader => Unit,
                                nul: () => Unit)

  private def fileStats(r: ParquetFileReader, footer: ParquetMetadata,
                        schema: StructType, present: Seq[String], key: Option[String],
                        tz: String): (Map[String, ColStat], Option[Array[Byte]]) = {
    val blocks = footer.getBlocks.asScala.toSeq
    val fileSchema = footer.getFileMetaData.getSchema
    def chunks(c: String): Seq[(BlockMetaData, Option[Statistics[_]])] =
      blocks.map(b => b -> b.getColumns.asScala
        .find(_.getPath.toArray.sameElements(Array(c))).map(_.getStatistics))
    val accs = present.map(c => c -> new Acc(schema(c).dataType, tz)).toMap
    // footer pass: a column's footer serves when every chunk carries a null
    // count and, unless all its values are null, min and max
    val fromFooter = present.filter(c => footerTyped(schema(c).dataType) &&
      chunks(c).forall { case (b, st) => st.exists(st => st != null &&
        st.isNumNullsSet && (st.hasNonNullValue || st.getNumNulls >= b.getRowCount)) })
    fromFooter.foreach { c =>
      val acc = accs(c)
      chunks(c).foreach { case (b, st) =>
        acc.nulls += math.min(st.get.getNumNulls, b.getRowCount)
        if (st.get.hasNonNullValue) {
          acc.add(fromFooterValue(acc.dataType, st.get.genericGetMin))
          acc.add(fromFooterValue(acc.dataType, st.get.genericGetMax))
        }
      }
    }
    // value pass over the other stats columns and the bloom key only
    val decoded = present.filterNot(fromFooter.contains)
    val read = (decoded ++ key).distinct
    val bits = key.map(_ => new Array[Long](FileBloom.DefaultBits / 64))
    if (read.nonEmpty) {
      val projection = new MessageType(fileSchema.getName, read.map { c =>
        val t = fileSchema.getType(fileSchema.getFieldIndex(c))
        require(t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED),
          s"stats column $c is not a primitive column")
        t
      }: _*)
      r.setRequestedSchema(projection)
      val sinks = read.map { c =>
        val dt = schema(c).dataType
        val desc = projection.getColumnDescription(Array(c))
        val decode = decoder(dt, desc.getPrimitiveType)
        val acc = accs.get(c).filter(_ => decoded.contains(c))
        val bloomKey = if (key.contains(c)) Some(renderer(dt, tz)) else None
        Sink(desc, cr => {
          val v = decode(cr)
          acc.foreach(_.add(v))
          bloomKey.foreach(k => FileBloom.add(bits.get, k(v)))
        }, () => acc.foreach(_.nulls += 1))
      }
      Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null).foreach { pages =>
        val columns = new ColumnReadStoreImpl(pages, NoConverter, projection,
          footer.getFileMetaData.getCreatedBy)
        sinks.foreach { s =>
          val cr = columns.getColumnReader(s.desc)
          val maxDef = s.desc.getMaxDefinitionLevel
          var i = 0L
          while (i < cr.getTotalValueCount) {
            if (cr.getCurrentDefinitionLevel == maxDef) s.value(cr) else s.nul()
            cr.consume()
            i += 1
          }
        }
      }
    }
    (accs.map { case (c, a) => c -> a.stat }, bits.map(FileBloom.pack))
  }
}
