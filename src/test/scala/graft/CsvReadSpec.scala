package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.io.{CsvField, CsvLineReader, ScratchDirs, Sources}
import graft.schema.KlineSchema

/** `Sources.readCsv` reads exactly what Spark's CSV source reads
  * (`spark.read.schema(s).option("header", "false").csv(p)`): the same
  * rows, bit for bit with doubles compared by their raw bits, and the
  * same `count()`, over lines that take every branch of the line
  * reader — plain lines, quoted and escaped lines (Spark's parser),
  * blank lines, line endings, wrong arity, number forms outside the
  * inline ones, non-ASCII and invalid UTF-8, a gzip part.
  */
class CsvReadSpec extends SparkSpec {

  private val mixed = StructType.fromDDL("a BIGINT, b DOUBLE, c STRING")

  /** Each row as comparable strings: doubles by raw bits, strings by
    * their UTF-8 bytes.
    */
  private def canonical(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      r.schema.fields.indices.map { i =>
        if (r.isNullAt(i)) "null"
        else r.get(i) match {
          case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
          case s: String => s.getBytes(UTF_8).map(b => f"${b & 0xff}%02x").mkString("s", "", "")
          case other => other.toString
        }
      }.mkString("|")
    }

  private def assertSameAsCsvSource(path: String, schema: StructType): Unit = {
    val ours = Sources.readCsv(spark, path, schema)
    val theirs = spark.read.schema(schema).option("header", "false").csv(path)
    assert(ours.schema == theirs.schema)
    assert(ours.count() == theirs.count())
    assert(canonical(ours) == canonical(theirs))
    // each field alone: the pruned scan of either source
    schema.fieldNames.foreach { f =>
      assert(canonical(ours.select(col(s"`$f`"))) == canonical(theirs.select(col(s"`$f`"))), f)
    }
  }

  private def write(dir: String, name: String, bytes: Array[Byte]): Unit =
    Files.write(new File(dir, name).toPath, bytes)

  private val edgeLines: Seq[String] = Seq(
    "1,2.5,plain",
    "\"1\",\"2.5\",\"x,y\"",
    "1,2.5,\"0\"",
    "\"\",\"\",\"\"",
    "\" 5\",\" 5\",\" s \"",
    "1,\"x,y,z\",3",
    "\"a\"b,1,x",
    "1,\"2\"x,x",
    " \"1\",2,x",
    "\"1\" ,2,x",
    "1,2,\"",
    "1,2,\"\"\"\"",
    "\"a\\\"b\",1,x",
    "1,2,\"a\\b\"",
    "3,4.0,\"he said \"\"hi\"\"\"",
    "5,6.0,a\\b",
    "6,\\7,x",
    "7,8.0,a\"b",
    "\"8,9.0,unterminated",
    "",
    "   ",
    "\t\t",
    " \t x",
    "11,12.0",
    "13,14.0,x,extra",
    "14",
    ",,",
    "15,,",
    ",1.5,",
    " 5, 5,  s ",
    "+5,+5,s",
    "1e5,1e5,s",
    "1d,1d,s",
    "0x1p3,0x1p3,s",
    "NaN,NaN,NaN",
    "Inf,Inf,Inf",
    "-Inf,-Inf,-Inf",
    "+Inf,Infinity,-Infinity",
    "-0.0,-0.0,x",
    "-0,-0,x",
    "0,0,0",
    "007,007.50,x",
    "123456789012345678,1,x",
    "-123456789012345678,1,x",
    "1234567890123456789,1,x",
    "9223372036854775807,1,x",
    "-9223372036854775808,1,x",
    "9223372036854775808,1,x",
    "99999999999999999999,1,x",
    "1,0.1,x",
    "1,0.30000000000000004,x",
    "1,50012.340000000004,x",
    "1,9007199254740992,x",
    "1,9007199254740993,x",
    "1,900719925474099.3,x",
    "1,1.7976931348623157E308,x",
    "1,4.9E-324,x",
    "1,1.0E7,x",
    "1,12345678901234567890.5,x",
    "1,0.0000000000000000000001,x",
    "1,0.00000000000000000000001,x",
    "1,5.,x",
    "1,.5,x",
    "1,-,x",
    "--1,--1,x",
    "1,1.2.3,x",
    "1-,1-,x",
    "1,2,héllo ünïcode",
    "1,2,日本語",
    "1,2,\u0000",
    "1,\u0000,x",
    " , , ",
    "\uFEFF1,2,bom")

  test("readCsv equals the CSV source on edge lines, endings, blanks and a gzip part") {
    val dir = ScratchDirs.create("csvread").toString
    // LF, CRLF and lone-CR endings, a missing final newline
    write(dir, "lf.csv", edgeLines.mkString("", "\n", "\n").getBytes(UTF_8))
    write(dir, "crlf.csv", edgeLines.take(20).mkString("\r\n").getBytes(UTF_8))
    write(dir, "cr.csv", edgeLines.drop(20).mkString("", "\r", "\r").getBytes(UTF_8))
    // invalid UTF-8: a lone continuation byte, a truncated sequence before
    // a comma, an overlong encoding, in the string and the number fields
    val bad = new ByteArrayOutputStream()
    Seq(Array[Byte](0x31, 0x2c, 0x32, 0x2c, 0x80.toByte, 0x41),
      Array[Byte](0x31, 0x2c, 0x32, 0x2c, 0xe2.toByte),
      Array[Byte](0x31, 0x2c, 0xe2.toByte, 0x2c, 0x78),
      Array[Byte](0x31, 0x2c, 0x32, 0x2c, 0xc0.toByte, 0xaf.toByte),
      Array[Byte](0xff.toByte, 0x2c, 0x32, 0x2c, 0x78)).foreach { l =>
      bad.write(l); bad.write('\n')
    }
    write(dir, "bad.csv", bad.toByteArray)
    val gz = new ByteArrayOutputStream()
    val z = new GZIPOutputStream(gz)
    z.write(edgeLines.reverse.mkString("\n").getBytes(UTF_8))
    z.close()
    write(dir, "part.csv.gz", gz.toByteArray)

    assertSameAsCsvSource(dir, mixed)
    assertSameAsCsvSource(dir, StructType.fromDDL("a STRING, b STRING, c STRING"))
    assertSameAsCsvSource(dir, StructType.fromDDL("a DOUBLE, b BIGINT, c DOUBLE"))
    assertSameAsCsvSource(s"$dir/lf.csv", StructType.fromDDL("only STRING"))
    assertSameAsCsvSource(s"$dir/lf.csv",
      StructType.fromDDL("a BIGINT, b DOUBLE, c STRING, d STRING"))
  }

  test("readCsv equals the CSV source on Spark-written klines, split across tasks") {
    val dir = ScratchDirs.create("csvread_kline").toString
    // Spark's writer emits shortest-form doubles (17-digit prices,
    // 1.0E7-style exponents), which mostly miss the inline number forms
    val n = 20000
    spark.range(0, n, 1, 3).select(
      (col("id") * 1000L + 1704067200000L).as("open_time"),
      (lit(50000.0) + rand(1) * 100).as("open"),
      (lit(50000.0) + rand(2) * 100).as("high"),
      (lit(50000.0) + rand(3) * 100).as("low"),
      (lit(50000.0) + (pmod(xxhash64(col("id")), lit(20001L)) - 10000L)
        .cast("double") / 100.0).as("close"),
      (rand(4) * 1e-3).as("volume"),
      (col("id") * 1000L + 1704067200999L).as("close_time"),
      (pmod(xxhash64(col("id") * 43L), lit(10000L)).cast("double") * 5000.0).as("qv"),
      pmod(xxhash64(col("id") * 47L), lit(200L)).as("trades"),
      (rand(5) * 1e9).as("tb"),
      (pmod(xxhash64(col("id") * 59L), lit(10000L)).cast("double") / 4.0).as("tq"),
      lit("0").as("ignore"))
      .write.option("header", "false").csv(s"$dir/plain")
    spark.read.option("header", "false").csv(s"$dir/plain").limit(3000)
      .write.option("header", "false").option("compression", "gzip")
      .csv(s"$dir/gz")
    // small splits, so lines straddle split boundaries
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      assertSameAsCsvSource(s"$dir/*", KlineSchema.schema)
      assert(Sources.readCsv(spark, s"$dir/plain", KlineSchema.schema)
        .rdd.getNumPartitions > 4)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("readCsv equals the CSV source on kline lines with escaped quotes and backslashes") {
    val dir = ScratchDirs.create("csvread_escaped").toString
    // every field of a non-plain line is read from one parse of it; lines
    // that repeat, or differ from the last in one byte, must not share a
    // stale row
    val lines = (0 until 3000).map { i =>
      val t = 1704067200000L + i * 1000L
      val price = f"${50000 + i % 97}%d.${i % 100}%02d"
      val rest = s"$price,$price,$price,1.5,${t + 999},7.25,${i % 200},0.5,0.25"
      i % 6 match {
        case 0 => s"$t,$price,$rest,0"
        case 1 => s"$t,$price,$rest,\"he said \"\"hi\"\" $i\""
        case 2 => s"$t,$price,$rest,\"a\\\"b $i\""
        case 3 => s"$t,$price,$rest,a\\b"
        case 4 => s"${t - 1000},$price,$rest,a\\b"
        case _ => s"\"$t\",\"$price\",$rest,\"x\"\"\""
      }
    }
    write(dir, "k.csv", (lines ++ lines.take(7)).mkString("", "\n", "\n").getBytes(UTF_8))
    assertSameAsCsvSource(dir, KlineSchema.schema)
  }

  test("readCsv keeps the CSV source's partition columns and column metadata") {
    val dir = ScratchDirs.create("csvread_part").toString
    Seq("2025-08", "2025-09").foreach { m =>
      new File(s"$dir/month=$m").mkdirs()
      write(s"$dir/month=$m", "p.csv", s"1,2.5,$m\n2,,x\n".getBytes(UTF_8))
    }
    val schema = StructType(Seq(
      StructField("a", LongType),
      StructField("b", DoubleType, nullable = false,
        new MetadataBuilder().putString("unit", "usd").build()),
      StructField("c", StringType)))
    assertSameAsCsvSource(dir, schema)
  }

  test("readCsv's scan reads only the selected fields, unsupported types are refused") {
    val dir = ScratchDirs.create("csvread_plan").toString
    write(dir, "k.csv", "1,2.5,x\n".getBytes(UTF_8))
    val scan = Sources.readCsv(spark, dir, mixed).select(col("b")).queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }
    assert(scan.map(_.metadata("ReadSchema")) == Some("struct<b:double>"), scan)
    intercept[IllegalArgumentException] {
      Sources.readCsv(spark, dir, StructType.fromDDL("a INT, b DOUBLE, c STRING"))
    }
  }

  test("readCsv equals the CSV source under a filter on one field and a projection of another") {
    val dir = ScratchDirs.create("csvread_filter").toString
    write(dir, "e.csv", edgeLines.mkString("", "\n", "\n").getBytes(UTF_8))
    def query(df: DataFrame) = df.filter(col("b") > 1.0 || col("b").isNull).select(col("c"))
    val ours = query(Sources.readCsv(spark, dir, mixed))
    val theirs = query(spark.read.schema(mixed).option("header", "false").csv(dir))
    // the scan is handed the filter and must leave it to the plan above
    val scan = ours.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.exists(_.metadata("PushedFilters") != "[]"), scan)
    assert(canonical(ours).sorted == canonical(theirs).sorted)
    assert(canonical(ours).nonEmpty)
  }

  private val decimalGen: Gen[String] = for {
    sign <- Gen.oneOf("", "-")
    intDigits <- Gen.choose(1, 20)
    int <- Gen.listOfN(intDigits, Gen.numChar)
    fracDigits <- Gen.frequency(3 -> Gen.const(0), 10 -> Gen.choose(1, 24))
    frac <- Gen.listOfN(fracDigits, Gen.numChar)
  } yield sign + int.mkString + (if (frac.isEmpty) "" else "." + frac.mkString)

  private val shortGen: Gen[String] = for {
    m <- Gen.choose(0L, 1L << 53)
    k <- Gen.choose(0, 22)
    neg <- Gen.oneOf(true, false)
  } yield {
    val s = java.math.BigDecimal.valueOf(m, k).toPlainString
    if (neg) "-" + s else s
  }

  test("property: the double path equals java.lang.Double.parseDouble bit for bit") {
    val schema = StructType.fromDDL("d DOUBLE")
    val reader = new CsvLineReader(schema, schema, new CSVOptions(Map("header" -> "false"), true, "UTC"))
    val cases = (0 until 4000).flatMap(i => decimalGen(Gen.Parameters.default, Seed(7000L + i))) ++
      (0 until 4000).flatMap(i => shortGen(Gen.Parameters.default, Seed(9000L + i)))
    var fast = 0
    cases.foreach { s =>
      val line = UTF8String.fromString(s)
      if (!CsvField.fastDouble(line, 0, line.numBytes).isNaN) fast += 1
      val row = reader.read(line)
      assert(!row.isNullAt(0), s)
      val got = row.getDouble(0)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(s)), s)
    }
    // the inline path, not the converter, decides most cases
    assert(fast > cases.length / 2, s"$fast of ${cases.length} took the inline path")
  }
}
