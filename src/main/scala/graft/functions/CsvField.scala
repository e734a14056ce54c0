package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.BadRecordException
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_csv_field(line, i, schema)`: field `i` of a header-less CSV
  * line, typed as `schema(i)` (`schema` is a DDL string literal), with
  * exactly the value `spark.read.schema(schema).option("header",
  * "false").csv(...)` gives for that line — Spark's PERMISSIVE
  * defaults.
  *
  * Why a native expression: univocity tokenizes every line into a
  * `String[]` and converts each token through a boxed closure, which
  * is most of the kline scan's task time. This expression reads the
  * line's UTF-8 bytes in place, parses numbers without a `String`,
  * and only the fields a query reads are ever extracted.
  *
  * Exactness rule. A line is PLAIN when it has exactly `schema.length`
  * comma-separated fields, none holds a `\`, and a `"` appears only
  * as the first and last byte of a field (a quoted field, read as its
  * content: writers such as pyarrow's quote every string field). On a
  * plain line an empty field is null; a long matching `-?[0-9]{1,18}`
  * is parsed inline; a double matching `-?digits[.digits]` whose digits
  * form a mantissa m ≤ 2^53 with k ≤ 22 fraction digits is `m / 10^k`
  * (both operands exact doubles, so the one rounding division is the
  * correctly rounded value `Double.parseDouble` returns — Clinger,
  * PLDI 1990); a string is the field's bytes decoded as UTF-8 (so
  * invalid bytes read as U+FFFD, as the CSV source's line decoding
  * reads them). Any other field goes through Spark's own converter for
  * the type (`NaN`/`Inf`/`-Inf` first, then `parseDouble` or
  * `parseLong`; a failure is null), and any other line through Spark's
  * own `UnivocityParser`, whose row (or partial row) is what PERMISSIVE
  * mode returns, parsed once per line and shared by every field the row
  * reads (`CsvField.parsedRow`). Parser and converter are built once per
  * task, on first use.
  *
  * Types: LONG, DOUBLE and STRING, the ones the kline and staged
  * schemas use.
  */
@ExpressionDescription(
  usage = "graft_csv_field(line, i, schema) - field i of a header-less CSV line, typed as schema(i).")
case class CsvFieldExpr(child: Expression, index: Int, schema: StructType)
    extends UnaryExpression {

  require(index >= 0 && index < schema.length,
    s"graft_csv_field: field $index out of range for ${schema.length} fields")

  override val dataType: DataType = schema(index).dataType
  require(dataType == LongType || dataType == DoubleType || dataType.isInstanceOf[StringType],
    s"graft_csv_field reads LONG, DOUBLE or STRING fields, got ${dataType.simpleString}")

  override def nullable: Boolean = true

  override def prettyName: String = "graft_csv_field"

  override protected def stringArgs: Iterator[Any] = Iterator(child, index)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_csv_field expects a STRING line, got ${other.simpleString}")
  }

  @transient private lazy val reader = new CsvFieldReader(schema, index)

  override def eval(input: InternalRow): Any = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line == null) return null
    val v: Any = dataType match {
      case LongType => reader.readLong(line)
      case DoubleType => reader.readDouble(line)
      case _ => reader.readString(line)
    }
    if (reader.wasNull) null else v
  }

  // One reader per generated-class instance, so per task: it keeps the
  // lazily built fallback parser and the null flag of its last read.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val readerClass = classOf[CsvFieldReader].getName
    val schemaRef = ctx.addReferenceObj("csvSchema", schema)
    val reader = ctx.addMutableState(readerClass, "csvField",
      v => s"$v = new $readerClass($schemaRef, $index);")
    val read = dataType match {
      case LongType => "readLong"
      case DoubleType => "readDouble"
      case _ => "readString"
    }
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${c.isNull}) {
        ${ev.value} = $reader.$read(${c.value});
        ${ev.isNull} = $reader.wasNull();
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): CsvFieldExpr =
    copy(child = newChild)
}

/** `graft_csv_kept(line)`: true when Spark's CSV reader keeps the line,
  * i.e. Java's `String.trim` of it is non-empty (`CSVExprUtils.
  * filterCommentAndEmpty` with no comment character). On UTF-8 bytes
  * that is: some byte is above 0x20 — every byte of a multi-byte or
  * invalid sequence is, and decodes to a char that is. Spark SQL's
  * `trim` strips only spaces, a different rule.
  */
@ExpressionDescription(
  usage = "graft_csv_kept(line) - true when the CSV reader keeps the line (it is not blank).")
case class CsvKeptExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_csv_kept"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_csv_kept expects a STRING line, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    CsvField.kept(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CsvField.kept($c)")

  override protected def withNewChildInternal(newChild: Expression): CsvKeptExpr =
    copy(child = newChild)
}

object CsvField {

  private val TwoTo53 = 1L << 53

  /** 10^0 .. 10^22, every one an exact double. */
  private val Pow10: Array[Double] = Array.tabulate(23)(k => s"1e$k".toDouble)

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

  /** Byte span `start << 32 | end` of field `index` (a quoted field's
    * content) when `line` is plain, else -1. Eight bytes per step while
    * they hold no `"` or `\`: only their commas matter then.
    */
  def span(line: UTF8String, index: Int, n: Int): Long = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val len = line.numBytes
    var field = 0
    var fieldStart = 0
    var result = -1L
    var k = 0
    var words = LittleEndian
    while (words && k + 8 <= len) {
      val w = Platform.getLong(base, off + k)
      if ((zeroBytes(w ^ Quotes) | zeroBytes(w ^ Backslashes)) != 0) words = false
      else {
        var commas = zeroBytes(w ^ Commas)
        while (commas != 0 && field <= index) {
          val pos = k + (java.lang.Long.numberOfTrailingZeros(commas) >>> 3)
          if (field == index) result = (fieldStart.toLong << 32) | pos
          field += 1
          fieldStart = pos + 1
          commas &= commas - 1
        }
        if (commas != 0) {
          field += java.lang.Long.bitCount(commas)
          fieldStart = k + ((63 - java.lang.Long.numberOfLeadingZeros(commas)) >>> 3) + 1
        }
        if (field >= n) return -1L
        k += 8
      }
    }
    spanFrom(base, off, len, index, n, fieldStart, field, result)
  }

  /** [[span]] from the start of field `field0`, one byte per step. */
  private def spanFrom(base: AnyRef, off: Long, len: Int, index: Int, n: Int,
                       from: Int, field0: Int, result0: Long): Long = {
    var field = field0
    var result = result0
    var k = from
    while (true) {
      var fieldStart = k
      var b: Byte = 0
      if (k < len && Platform.getByte(base, off + k) == '"') {
        fieldStart = k + 1
        k = fieldStart
        while (k < len && { b = Platform.getByte(base, off + k); b != '"' }) {
          if (b == '\\') return -1L
          k += 1
        }
        if (k == len) return -1L
        if (field == index) result = (fieldStart.toLong << 32) | k
        k += 1
        if (k < len && Platform.getByte(base, off + k) != ',') return -1L
      } else {
        while (k < len && { b = Platform.getByte(base, off + k); b != ',' }) {
          if (b == '"' || b == '\\') return -1L
          k += 1
        }
        if (field == index) result = (fieldStart.toLong << 32) | k
      }
      if (k == len) return if (field == n - 1) result else -1L
      k += 1
      field += 1
      if (field == n) return -1L
    }
    -1L
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

  /** The last non-plain line parsed on this thread: its schema, a copy
    * of its bytes and its row. A scan hands every field expression of a
    * row the same line, one field after the other on one thread, so the
    * first field read parses the line and the others reuse the row. It
    * is keyed by the line's bytes, not its identity: a scan reuses one
    * buffer for successive lines.
    */
  private final class Parsed(val schema: StructType, val line: UTF8String,
                             val row: InternalRow)

  private val lastParsed = new ThreadLocal[Parsed]

  /** The row `parse` gives for `line` under `schema`, parsed at most once
    * per line and thread (see [[Parsed]]); `parse` must return a row it
    * will not reuse.
    */
  private[graft] def parsedRow(schema: StructType, line: UTF8String,
                               parse: String => InternalRow): InternalRow = {
    val last = lastParsed.get
    if (last != null && last.line == line && last.schema == schema) last.row
    else {
      val row = parse(line.toString)
      lastParsed.set(new Parsed(schema, line.copy(), row))
      row
    }
  }

  /** The options Spark's CSV source builds for `header=false`. */
  private[functions] def options(): CSVOptions = {
    val conf = SQLConf.get
    new CSVOptions(Map("header" -> "false"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
  }
}

/** Reads field `index` of CSV lines of `schema`; see [[CsvFieldExpr]].
  * Not thread-safe: one per task. Each read sets [[wasNull]].
  */
final class CsvFieldReader(schema: StructType, index: Int) {

  private[this] val n = schema.length
  private[this] val dataType = schema(index).dataType
  private[this] var isNull = false

  // Spark's own parser and converter, as the CSV source builds them
  // (its relation schema is nullable), made on the first line or field
  // the fast paths do not take.
  private[this] lazy val parser = {
    val relation = StructType(schema.map(_.copy(nullable = true)))
    new UnivocityParser(relation, relation, CsvField.options())
  }
  private[this] lazy val converter =
    parser.makeConverter(schema(index).name, dataType, nullable = true)

  def wasNull: Boolean = isNull

  /** Field `index` of a non-plain line: its value in the row, or in the
    * partial row of a malformed record, that PERMISSIVE mode returns.
    * The parser reuses its row, so the shared one is a copy.
    */
  private def parsed(line: UTF8String): Any = {
    val row = CsvField.parsedRow(schema, line, l =>
      (try parser.parse(l) catch {
        case e: BadRecordException => e.partialResults().headOption
      }).map(_.copy()).orNull)
    if (row == null || row.isNullAt(index)) null else row.get(index, dataType)
  }

  private def converted(field: String): Any =
    try converter(field) catch { case NonFatal(_) => null }

  /** What the fast paths do not give: null for an empty field, the
    * converter's value for another plain field, the parser's for a
    * non-plain line (`span` < 0). Sets [[wasNull]].
    */
  private def slow(line: UTF8String, span: Long): Any = {
    val v =
      if (span < 0) parsed(line)
      else if ((span >>> 32).toInt == span.toInt) null
      else converted(CsvField.text(line, (span >>> 32).toInt, span.toInt))
    isNull = v == null
    v
  }

  def readLong(line: UTF8String): Long = {
    val span = CsvField.span(line, index, n)
    if (span >= 0 && CsvField.isFastLong(line, (span >>> 32).toInt, span.toInt)) {
      isNull = false
      CsvField.fastLong(line, (span >>> 32).toInt, span.toInt)
    } else slow(line, span) match {
      case null => 0L
      case v => v.asInstanceOf[Long]
    }
  }

  def readDouble(line: UTF8String): Double = {
    val span = CsvField.span(line, index, n)
    val fast =
      if (span >= 0) CsvField.fastDouble(line, (span >>> 32).toInt, span.toInt)
      else Double.NaN
    if (!fast.isNaN) {
      isNull = false
      fast
    } else slow(line, span) match {
      case null => 0.0
      case v => v.asInstanceOf[Double]
    }
  }

  def readString(line: UTF8String): UTF8String = {
    val span = CsvField.span(line, index, n)
    if (span >= 0 && (span >>> 32).toInt != span.toInt) {
      isNull = false
      CsvField.utf8(line, (span >>> 32).toInt, span.toInt)
    } else slow(line, span).asInstanceOf[UTF8String]
  }
}
