package graft.io

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Ingest surface (SURVEY §2.1 S1-S5): explicit-schema header-less CSV,
  * schema-enforced parquet, header injection with arity validation, and
  * the ZIP-archive extraction step of the crawl path.
  *
  * Reference: `components/process_data.py:27-42,79`,
  * `components/btcusdt_ingest_data.py:11-34,36-85`,
  * `components/old-process_data.py:42-54`.
  *
  * Scale notes: scans always carry a declared `StructType` — no schema
  * inference pass over 100 TB of CSV. Everything distributed is
  * `spark.read`; only the archive unpack (S1) is driver-side, mirroring
  * the reference where the ZIP fetch is a single-file edge step, not a
  * distributed op.
  */
object Sources {

  /** S3: header-less CSV scan with a declared schema — positional columns,
    * zero inference (`process_data.py:79`, `old-process_data.py:53`).
    *
    * Gives bit for bit what `spark.read.schema(schema).option("header",
    * "false").csv(path)` gives, partition columns and column metadata
    * included, through the [[CsvLines]] format, which splits each line
    * once and takes univocity only for the lines that need it; its
    * scaladoc states the exactness rule. Fields are LONG, DOUBLE or
    * STRING.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    require(schema.forall(f => f.dataType == LongType || f.dataType == DoubleType ||
      f.dataType.isInstanceOf[StringType]),
      s"readCsv reads LONG, DOUBLE or STRING fields, got ${schema.simpleString}")
    spark.read.format(classOf[CsvLines].getName).schema(schema).load(path)
  }

  /** S3+P7 variant: tolerate an optional header row (the reference drops a
    * leading `"Open time,..."` line, `old-process_data.py:42-45`).
    */
  def readCsvWithHeader(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** S4: header injection — assign names positionally after validating
    * arity (`btcusdt_ingest_data.py:11-34`: raises on column-count
    * mismatch).
    */
  def withHeaders(df: DataFrame, names: Seq[String]): DataFrame = {
    require(df.columns.length == names.length,
      s"CSV data must have exactly ${names.length} columns, " +
        s"found ${df.columns.length}")
    df.toDF(names: _*)
  }

  /** S1 (driver-side edge step): extract every member of a local ZIP
    * archive into `outDir`, returning the extracted paths — the unpack
    * half of `download_and_extract_binance_data`
    * (`btcusdt_ingest_data.py:36-85`; the HTTP fetch itself is
    * environment-dependent and injectable, this is the engine's part).
    */
  def extractZip(zipPath: String, outDir: String): Seq[String] = {
    val dir = new File(outDir)
    dir.mkdirs()
    val zin = new ZipInputStream(new java.io.FileInputStream(zipPath))
    val out = Seq.newBuilder[String]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val target = new File(dir, new File(e.getName).getName)
          val os = new BufferedOutputStream(new FileOutputStream(target))
          try {
            val buf = new Array[Byte](64 * 1024)
            var n = zin.read(buf)
            while (n >= 0) { os.write(buf, 0, n); n = zin.read(buf) }
          } finally os.close()
          out += target.getAbsolutePath
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  /** S1 (fetch half): download `url` to `outPath` — the reference's
    * `requests.get` of the monthly archive
    * (`btcusdt_ingest_data.py:36-85`). http(s) goes through
    * `java.net.http.HttpClient` (redirects followed, non-2xx raises —
    * the reference's `raise_for_status`); other schemes (`file:`, any
    * Hadoop-served URI) stream-copy, which is how the offline tests
    * exercise the seam. Driver-side edge step by design: one archive per
    * (source, period), never a distributed op.
    */
  def download(url: String, outPath: String): String = {
    val uri = java.net.URI.create(url)
    val target = new File(outPath)
    Option(target.getParentFile).foreach(_.mkdirs())
    uri.getScheme match {
      case "http" | "https" =>
        val client = java.net.http.HttpClient.newBuilder()
          .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
          .build()
        val req = java.net.http.HttpRequest.newBuilder(uri).GET().build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofFile(target.toPath))
        require(resp.statusCode() / 100 == 2,
          s"GET $url returned HTTP ${resp.statusCode()}")
      case _ =>
        val in = uri.toURL.openStream()
        try java.nio.file.Files.copy(in, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
    }
    target.getAbsolutePath
  }

  /** S1 end-to-end: fetch + unpack, the full
    * `download_and_extract_binance_data` shape. Returns extracted paths.
    */
  def downloadAndExtract(url: String, workDir: String): Seq[String] = {
    val name = new File(java.net.URI.create(url).getPath).getName
    val zip = download(url, new File(workDir, name).getAbsolutePath)
    extractZip(zip, workDir)
  }

  /** S2: the config-driven crawl manifest — (name, period) pairs expanded
    * to archive names, with the reference's period-format validation
    * (`btcusdt_ingest_data.py:87-153`, `strptime(period, '%Y-%m')`).
    */
  def crawlManifest(sources: Seq[String], periods: Seq[String]): Seq[String] = {
    val periodRe = "^\\d{4}-(0[1-9]|1[0-2])$".r
    periods.foreach { p =>
      require(periodRe.matches(p), s"period '$p' is not yyyy-MM")
    }
    for (s <- sources; p <- periods) yield s"$s-$p.zip"
  }

  /** S9: object-store listing via the Hadoop FileSystem API — the exact
    * code path that serves `s3a://bucket/prefix` on a cluster (the
    * reference's `list_objects`, `minio_api/client.py:62-80`); local
    * `file:` URIs exercise it in tests. Returns (path, size) sorted by
    * path for determinism.
    */
  def listObjects(spark: SparkSession, dirUri: String): Seq[(String, Long)] = {
    val path = new org.apache.hadoop.fs.Path(dirUri)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isFile)
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  /** S8: whole-object get as lines (the reference reads a MinIO object and
    * splits to lines, `minio_api/minio_utils.py:4-19`). Driver-side edge
    * op for small control files; bulk data goes through `spark.read`.
    */
  def getObjectLines(spark: SparkSession, uri: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(uri)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** S9: object put (upload_file, `minio_api/client.py:34-46`). */
  def putObject(spark: SparkSession, uri: String, content: Array[Byte]): Unit = {
    val path = new org.apache.hadoop.fs.Path(uri)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(content) finally out.close()
  }

  /** F4: fixed-offset timezone parsing (`components/utils/utils.py:4-26`
    * parses '+07:00'-style offsets). Returns signed minutes.
    */
  def parseTimezoneMinutes(tz: String): Int = {
    val re = "^([+-])(\\d{2}):(\\d{2})$".r
    tz match {
      case re(sign, h, m) =>
        val v = h.toInt * 60 + m.toInt
        if (sign == "-") -v else v
      case _ => throw new IllegalArgumentException(s"bad timezone offset '$tz'")
    }
  }

  /** JSON-Lines scan with a declared schema — the native interchange
    * format of LLM training corpora (one document object per line, the
    * file splittable on newlines so a 100 TB dump parallelizes like CSV).
    * No schema inference ever: inference costs a full extra pass over the
    * data and silently widens types between snapshots.
    *
    * Malformed-line policy mirrors Spark's contract, made explicit:
    *  - PERMISSIVE (default): bad lines become all-null rows with the raw
    *    line captured in `_corrupt_record` — the quarantine column a
    *    curation pipeline routes to a reject sink instead of dying
    *    mid-crawl;
    *  - DROPMALFORMED: bad lines silently dropped;
    *  - FAILFAST: first bad line aborts the scan.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                mode: String = "PERMISSIVE",
                corruptCol: String = "_corrupt_record"): DataFrame = {
    val effective =
      if (mode.equalsIgnoreCase("PERMISSIVE") && !schema.fieldNames.contains(corruptCol))
        schema.add(StructField(corruptCol, StringType, nullable = true))
      else schema
    spark.read
      .schema(effective)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }
}
