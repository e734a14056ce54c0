package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.catalyst.util.BadRecordException
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriterFactory, PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Read-only file format for header-less CSV lines: with a declared
  * schema it gives exactly the rows `spark.read.schema(schema).option(
  * "header", "false").csv(...)` gives — Spark's PERMISSIVE defaults —
  * splitting each line once instead of tokenizing it with univocity.
  *
  * Each file split is read with Spark's `HadoopFileLinesReader`, so
  * splits, compression codecs and line endings (LF, CRLF, lone CR) are
  * those of Spark's text and CSV sources; the file source supplies the
  * partition columns and the metadata column. A line is kept when the
  * CSV source keeps it ([[CsvField.kept]]), and only the fields of the
  * scan's required schema are filled; pushed filters are left to the
  * plan above the scan.
  *
  * Exactness rule. A line is PLAIN when it has exactly `schema.length`
  * comma-separated fields, none holds a `\`, and a `"` appears only as
  * the first and last byte of a field (a quoted field, read as its
  * content: writers such as pyarrow's quote every string field). On a
  * plain line an empty field is null; a long matching `-?[0-9]{1,18}`
  * is parsed inline; a double matching `-?digits[.digits]` whose digits
  * form a mantissa m ≤ 2^53 with k ≤ 22 fraction digits is `m / 10^k`
  * (both operands exact doubles, so the one rounding division is the
  * correctly rounded value `Double.parseDouble` returns — Clinger, PLDI
  * 1990); a string is the field's bytes decoded as UTF-8 (so invalid
  * bytes read as U+FFFD, as the CSV source's line decoding reads them).
  * Any other field goes through Spark's own converter for the type
  * (`NaN`/`Inf`/`-Inf` first, then `parseDouble` or `parseLong`; a
  * failure is null), and any other line once through Spark's own
  * `UnivocityParser`, built with the options the CSV source builds,
  * whose row (or partial row) is what PERMISSIVE mode returns.
  *
  * Types: LONG, DOUBLE and STRING, the ones the kline and staged
  * schemas use.
  */
private[graft] final class CsvLines extends TextBasedFileFormat {

  override def toString: String = "CsvLines"

  override def equals(other: Any): Boolean = other.isInstanceOf[CsvLines]

  override def hashCode(): Int = getClass.hashCode()

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = None

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("CsvLines is read-only")

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val sql = spark.sessionState.conf
    val csv = new CSVOptions(Map("header" -> "false"), sql.csvColumnPruning,
      sql.sessionLocalTimeZone, sql.columnNameOfCorruptRecord)
    file => {
      val lines = new HadoopFileLinesReader(file, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      val reader = new CsvLineReader(dataSchema, requiredSchema, csv)
      lines.map(t => UTF8String.fromBytes(t.getBytes, 0, t.getLength))
        .filter(CsvField.kept).map(reader.read)
    }
  }
}

/** Reads lines of `dataSchema` into rows of `requiredSchema` under
  * [[CsvLines]]' exactness rule. Not thread-safe, one per file split: it
  * reuses its row, and builds Spark's parser and converters on the first
  * line or field the fast paths do not take.
  */
private[graft] final class CsvLineReader(dataSchema: StructType, requiredSchema: StructType,
                                         options: CSVOptions) {
  import CsvField._

  private[this] val index = requiredSchema.fieldNames.map(dataSchema.fieldIndex)
  private[this] val kinds = requiredSchema.fields.map(_.dataType match {
    case LongType => 0
    case DoubleType => 1
    case _ => 2
  })
  private[this] val starts = new Array[Int](dataSchema.length)
  private[this] val ends = new Array[Int](dataSchema.length)
  private[this] val row = new SpecificInternalRow(requiredSchema.map(_.dataType))

  // As the CSV source builds it: over its nullable relation schema.
  private[this] lazy val parser = {
    def nullable(s: StructType) = StructType(s.map(_.copy(nullable = true)))
    new UnivocityParser(nullable(dataSchema), nullable(requiredSchema), options)
  }
  private[this] lazy val converters =
    requiredSchema.fields.map(f => parser.makeConverter(f.name, f.dataType, nullable = true))
  private[this] lazy val nulls = new GenericInternalRow(requiredSchema.length)

  def read(line: UTF8String): InternalRow =
    if (index.isEmpty || spans(line, starts, ends)) plain(line) else parsed(line)

  private def plain(line: UTF8String): InternalRow = {
    var i = 0
    while (i < index.length) {
      val s = starts(index(i))
      val e = ends(index(i))
      if (s == e) row.setNullAt(i)
      else kinds(i) match {
        case 0 =>
          if (isFastLong(line, s, e)) row.setLong(i, fastLong(line, s, e))
          else converted(i, line, s, e)
        case 1 =>
          val d = fastDouble(line, s, e)
          if (!d.isNaN) row.setDouble(i, d) else converted(i, line, s, e)
        case _ => row.update(i, utf8(line, s, e))
      }
      i += 1
    }
    row
  }

  private def converted(i: Int, line: UTF8String, s: Int, e: Int): Unit =
    row.update(i, try converters(i)(text(line, s, e)) catch { case NonFatal(_) => null })

  /** The row, or the partial row of a malformed record, that PERMISSIVE
    * mode returns for a non-plain line.
    */
  private def parsed(line: UTF8String): InternalRow =
    try parser.parse(line.toString).getOrElse(nulls) catch {
      case e: BadRecordException => e.partialResults().headOption.getOrElse(nulls)
    }
}

/** Byte-level helpers of [[CsvLineReader]], over a line's UTF-8 bytes. */
private[graft] object CsvField {

  private val TwoTo53 = 1L << 53

  /** 10^0 .. 10^22, every one an exact double. */
  private val Pow10: Array[Double] = Array.tabulate(23)(k => s"1e$k".toDouble)

  /** True when Spark's CSV reader keeps the line, i.e. Java's
    * `String.trim` of it is non-empty (`CSVExprUtils.filterCommentAndEmpty`
    * with no comment character). On UTF-8 bytes that is: some byte is
    * above 0x20 — every byte of a multi-byte or invalid sequence is, and
    * decodes to a char that is. Spark SQL's `trim` strips only spaces, a
    * different rule.
    */
  def kept(line: UTF8String): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val len = line.numBytes
    var k = 0
    while (k < len && (Platform.getByte(base, off + k) & 0xff) <= 0x20) k += 1
    k < len
  }

  private val LittleEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN
  private val Low7 = 0x7f7f7f7f7f7f7f7fL
  private val Commas = 0x2c2c2c2c2c2c2c2cL
  private val Quotes = 0x2222222222222222L
  private val Backslashes = 0x5c5c5c5c5c5c5c5cL

  /** The high bit of each zero byte of `w`, exactly. */
  private def zeroBytes(w: Long): Long = ~(((w & Low7) + Low7) | w | Low7)

  /** Splits a plain `line` into its `starts.length` fields, field i (a
    * quoted field's content) being bytes [starts(i), ends(i)); false when
    * the line is not plain. Eight bytes per step while they hold no `"`
    * or `\`: only their commas matter then.
    */
  def spans(line: UTF8String, starts: Array[Int], ends: Array[Int]): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val len = line.numBytes
    val n = starts.length
    var field = 0
    var k = 0
    starts(0) = 0
    var words = LittleEndian
    while (words && k + 8 <= len) {
      val w = Platform.getLong(base, off + k)
      if ((zeroBytes(w ^ Quotes) | zeroBytes(w ^ Backslashes)) != 0) words = false
      else {
        var commas = zeroBytes(w ^ Commas)
        while (commas != 0) {
          if (field == n - 1) return false
          val pos = k + (java.lang.Long.numberOfTrailingZeros(commas) >>> 3)
          ends(field) = pos
          field += 1
          starts(field) = pos + 1
          commas &= commas - 1
        }
        k += 8
      }
    }
    // one byte per step from the start of the current field
    k = starts(field)
    while (true) {
      var b: Byte = 0
      if (k < len && Platform.getByte(base, off + k) == '"') {
        starts(field) = k + 1
        k += 1
        while (k < len && { b = Platform.getByte(base, off + k); b != '"' }) {
          if (b == '\\') return false
          k += 1
        }
        if (k == len) return false
        ends(field) = k
        k += 1
        if (k < len && Platform.getByte(base, off + k) != ',') return false
      } else {
        starts(field) = k
        while (k < len && { b = Platform.getByte(base, off + k); b != ',' }) {
          if (b == '"' || b == '\\') return false
          k += 1
        }
        ends(field) = k
      }
      if (k == len) return field == n - 1
      k += 1
      field += 1
      if (field == n) return false
    }
    false
  }

  private def bytes(line: UTF8String, start: Int, end: Int): Array[Byte] = {
    val out = new Array[Byte](end - start)
    Platform.copyMemory(line.getBaseObject, line.getBaseOffset + start,
      out, Platform.BYTE_ARRAY_OFFSET, end - start)
    out
  }

  /** The field's bytes as the CSV source reads them: decoded as UTF-8
    * (ASCII needs no decoding) and encoded back.
    */
  def utf8(line: UTF8String, start: Int, end: Int): UTF8String = {
    val b = bytes(line, start, end)
    var k = 0
    while (k < b.length && b(k) >= 0) k += 1
    if (k == b.length) UTF8String.fromBytes(b)
    else UTF8String.fromString(new String(b, UTF_8))
  }

  def text(line: UTF8String, start: Int, end: Int): String =
    new String(bytes(line, start, end), UTF_8)

  /** Whether [start, end) is `-?[0-9]{1,18}`, which `fastLong` parses. */
  def isFastLong(line: UTF8String, start: Int, end: Int): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    var k = if (start < end && Platform.getByte(base, off + start) == '-') start + 1 else start
    if (end - k < 1 || end - k > 18) return false
    while (k < end) {
      val d = Platform.getByte(base, off + k) - '0'
      if (d < 0 || d > 9) return false
      k += 1
    }
    true
  }

  def fastLong(line: UTF8String, start: Int, end: Int): Long = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val neg = Platform.getByte(base, off + start) == '-'
    var k = if (neg) start + 1 else start
    var v = 0L
    while (k < end) { v = v * 10 + (Platform.getByte(base, off + k) - '0'); k += 1 }
    if (neg) -v else v
  }

  /** `-?digits[.digits]` at [start, end) with mantissa ≤ 2^53 and at
    * most 22 fraction digits, as the double `m / 10^k`; NaN otherwise
    * (no such field reads as NaN).
    */
  def fastDouble(line: UTF8String, start: Int, end: Int): Double = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    def digit(k: Int): Int =
      if (k < end) {
        val d = Platform.getByte(base, off + k) - '0'
        if (d >= 0 && d <= 9) d else -1
      } else -1
    var k = start
    val neg = k < end && Platform.getByte(base, off + k) == '-'
    if (neg) k += 1
    val intStart = k
    var m = 0L
    var d = digit(k)
    while (d >= 0 && m <= TwoTo53) { m = m * 10 + d; k += 1; d = digit(k) }
    if (k == intStart) return Double.NaN
    var frac = 0
    if (d < 0 && k < end && Platform.getByte(base, off + k) == '.') {
      k += 1
      val fracStart = k
      d = digit(k)
      while (d >= 0 && m <= TwoTo53) { m = m * 10 + d; k += 1; d = digit(k) }
      frac = k - fracStart
      if (frac == 0) return Double.NaN
    }
    if (k != end || m > TwoTo53 || frac > 22) return Double.NaN
    val v = m.toDouble / Pow10(frac)
    if (neg) -v else v
  }
}
