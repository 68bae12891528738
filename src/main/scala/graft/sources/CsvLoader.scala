package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Rowid

/** CSV scan + path discovery (reference S1/S2/S3, `utils.py:22-90`).
  *
  * Spark-first mapping: one `spark.read.csv` per discovered file (each
  * file is its OWN table with its own inferred schema — never a union
  * read), with the reference's knobs mapped onto DataSource options so
  * Catalyst keeps scan-level column pruning / filter pushdown:
  *
  *   - separator            -> option("sep", _)
  *   - skip_errors          -> mode=DROPMALFORMED vs FAILFAST (utils.py:42)
  *   - quoting (csv.QUOTE_*)-> quote/escape options (utils.py:40)
  *   - just_strings         -> inferSchema=false, everything StringType
  *                             (utils.py:31, cli.py:143-147)
  *   - encodings_to_try     -> driver-side retry loop utf-8 then latin-1
  *                             (utils.py:28,36-49); latin-1 never fails so
  *                             it is a universal fallback
  *
  * Schema inference parity (SURVEY §1.2): Spark infers LongType for
  * "integers + blanks" natively, which is exactly the reference's
  * int-or-null correction (`utils.py:290-303`).
  */
object CsvLoader {

  /** csv.QUOTE_* modes from the reference CLI (`cli.py:75-84`). */
  sealed trait QuoteMode
  object QuoteMode {
    case object Minimal extends QuoteMode    // csv.QUOTE_MINIMAL (default)
    case object All extends QuoteMode        // csv.QUOTE_ALL
    case object NonNumeric extends QuoteMode // csv.QUOTE_NONNUMERIC
    case object None extends QuoteMode       // csv.QUOTE_NONE
  }

  case class CsvOptions(
      separator: String = ",",
      skipErrors: Boolean = false,
      quoting: QuoteMode = QuoteMode.Minimal,
      justStrings: Boolean = false,
      encodingsToTry: Seq[String] = Seq("utf-8", "latin-1"))

  /** Python codec names -> JVM charset names ("latin-1" is not a JVM alias). */
  private def charsetName(encoding: String): String =
    encoding.toLowerCase.replace("_", "-") match {
      case "latin-1" | "latin1" | "iso-8859-1" => "ISO-8859-1"
      case "utf-8" | "utf8"                    => "UTF-8"
      case other                               => other
    }

  /** Can the WHOLE file be decoded as `encoding` without error? pandas
    * *raises* UnicodeDecodeError on any bad byte, which is what drives
    * the reference's fallback chain (`utils.py:36-49`); Spark's reader
    * silently substitutes U+FFFD replacement characters instead, so the
    * fallback must be detected explicitly. The file is streamed through
    * the CharsetDecoder in 1 MB chunks — O(1) memory regardless of file
    * size, and a non-UTF-8 byte anywhere (not just the head) triggers
    * the latin-1 retry exactly like pandas. (This is the CSV CLI-parity
    * path: pandas loads the whole file in driver RAM anyway, so one
    * streamed driver-side pass is strictly cheaper than the reference.)
    */
  /** pandas infers compression from the extension and decodes the
    * DECOMPRESSED bytes; mirror that for the codecs Spark's CSV reader
    * also decompresses natively (gz, bz2) so the encoding fallback
    * chain sees text, not container bytes. zip/xz/zstd have no Hadoop
    * text codec and are spooled driver-side instead
    * ([[spoolIfOpaqueCodec]]), reaching this probe as plain files.
    */
  private def rawStream(p: java.nio.file.Path): java.io.InputStream = {
    val in = Files.newInputStream(p)
    val name = p.getFileName.toString.toLowerCase
    if (name.endsWith(".gz")) new java.util.zip.GZIPInputStream(in)
    else if (name.endsWith(".bz2"))
      new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in)
    else in
  }

  private def decodesAs(path: String, encoding: String): Boolean = {
    val p = Paths.get(path)
    if (!Files.isRegularFile(p)) return true // globs/dirs: skip validation
    val in = rawStream(p)
    try {
      val dec = java.nio.charset.Charset.forName(charsetName(encoding)).newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val chunk = 1 << 20
      val bb = java.nio.ByteBuffer.allocate(chunk)
      val out = java.nio.CharBuffer.allocate(chunk)
      var eof = false
      while (!eof) {
        val n = in.read(bb.array(), bb.position(), bb.remaining())
        if (n < 0) eof = true else bb.position(bb.position() + n)
        bb.flip()
        var res = dec.decode(bb, out, eof)
        while (res.isOverflow) { out.clear(); res = dec.decode(bb, out, eof) }
        if (res.isError) return false
        bb.compact()
        out.clear()
      }
      !dec.flush(out).isError
    } catch { case _: Exception => false }
    finally in.close()
  }

  /** pandas-parity compression handling for the codecs Spark/Hadoop
    * can NOT stream natively (zip, xz, zstd): spool the decompressed
    * bytes to a temp file and recurse — the reference loads the whole
    * file into driver RAM via pandas anyway, so a driver-side spool is
    * parity, not a regression. gz/bz2 never hit this path: Hadoop
    * decompresses those inside the distributed scan.
    */
  private def spoolIfOpaqueCodec(path: String): Option[String] = {
    val name = path.toLowerCase
    def spool(open: java.io.InputStream => java.io.InputStream): String = {
      val tmp = Files.createTempFile("graft-decomp-", ".csv")
      val in = open(Files.newInputStream(Paths.get(path)))
      try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toString
    }
    import org.apache.commons.compress.archivers.zip.ZipArchiveInputStream
    import org.apache.commons.compress.compressors.xz.XZCompressorInputStream
    import org.apache.commons.compress.compressors.zstandard.ZstdCompressorInputStream
    if (name.endsWith(".zip"))
      Some(spool { raw =>
        val z = new ZipArchiveInputStream(raw)
        if (z.getNextEntry == null)
          throw new IllegalArgumentException(s"$path: empty zip archive")
        z // first entry, like pandas with a single-member archive
      })
    else if (name.endsWith(".xz")) Some(spool(new XZCompressorInputStream(_)))
    else if (name.endsWith(".zst") || name.endsWith(".zstd"))
      Some(spool(new ZstdCompressorInputStream(_)))
    else None
  }

  /** S1: load one CSV with the encoding fallback chain, then attach
    * its [[Rowid]]. A `--skip-errors` parse is cached first: Spark
    * refuses raw-file queries whose pruned schema is ONLY the corrupt
    * column (the rowid count, or a bare count() after the filter), and
    * the documented remedy is caching the parsed rows — the semantic
    * twin of pandas' in-RAM load. [[graft.Pipeline]] calls [[parse]]
    * and owns one cache per file instead.
    */
  def load(spark: SparkSession, path: String, opts: CsvOptions = CsvOptions()): DataFrame = {
    val scan = parse(spark, path, opts)
    val rows =
      if (opts.skipErrors) scan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else scan
    Rowid.attach(rows)
  }

  /** The parsed rows of one CSV, without a rowid and uncached: the
    * encoding fallback chain, quoting and `--skip-errors` filtering of
    * [[load]].
    */
  def parse(spark: SparkSession, path: String, opts: CsvOptions = CsvOptions()): DataFrame = {
    spoolIfOpaqueCodec(path) match {
      case Some(tmp) => return parse(spark, tmp, opts)
      case None =>
    }
    def attempt(encoding: String): DataFrame = {
      if (!decodesAs(path, encoding))
        throw new IllegalArgumentException(s"$path is not valid $encoding")
      def baseReader = {
        var reader = spark.read
          .option("header", "true")
          .option("sep", opts.separator)
          .option("encoding", charsetName(encoding))
          .option("nullValue", "")
        reader = opts.quoting match {
          case QuoteMode.None => reader.option("quote", "")
          case _              => reader.option("quote", "\"").option("escape", "\"")
        }
        if (opts.justStrings) reader.option("inferSchema", "false")
        else reader.option("inferSchema", "true")
      }
      if (opts.skipErrors) {
        // DROPMALFORMED only validates the columns a query actually
        // parses — under column pruning a bad line can survive a
        // narrow projection. pandas' skip-bad-lines drops the line
        // unconditionally (`utils.py:42`), so: parse PERMISSIVE with an
        // explicit corrupt-record column (forces full-row validation
        // regardless of downstream pruning) and filter it.
        val inferred = baseReader.csv(path).schema
        val withCorrupt = inferred.add("__corrupt", org.apache.spark.sql.types.StringType)
        baseReader
          .schema(withCorrupt)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "__corrupt")
          .csv(path)
          .filter(org.apache.spark.sql.functions.col("__corrupt").isNull)
          .drop("__corrupt")
      } else {
        val df = baseReader.option("mode", "FAILFAST").csv(path)
        df.schema // force header/inference so a bad encoding fails here
        df
      }
    }
    val it = opts.encodingsToTry.iterator
    var last: Throwable = null
    while (it.hasNext) {
      val enc = it.next()
      try return applyQuoteNonNumeric(attempt(enc), opts)
      catch { case e: Throwable => last = e }
    }
    throw new IllegalArgumentException(
      s"$path could not be loaded with encodings ${opts.encodingsToTry.mkString(", ")}", last)
  }

  /** csv.QUOTE_NONNUMERIC read semantics (`-q 2`): Python's csv module
    * converts every UNQUOTED field to float on read, so pandas under
    * `quoting=2` (threaded through `utils.py:40`) yields float64 — and
    * the sink emits REAL — for columns a minimal-mode read would infer
    * as int64/INTEGER. Spark's parser does not expose per-field
    * quotedness, so the faithful column-level projection is: re-type
    * every integral-inferred column (those were unquoted numbers) to
    * DOUBLE post-parse. Quoted strings stay TEXT either way; pandas'
    * ValueError on unquoted non-numeric text is not reproducible without
    * raw-quote information and is documented as out of scope.
    */
  private def applyQuoteNonNumeric(df: DataFrame, opts: CsvOptions): DataFrame = {
    import org.apache.spark.sql.types._
    if (opts.quoting != QuoteMode.NonNumeric || opts.justStrings) df
    else {
      val integral = df.schema.fields.collect {
        case f if f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == ShortType || f.dataType == ByteType => f.name
      }
      integral.foldLeft(df)((d, c) =>
        d.withColumn(c, org.apache.spark.sql.functions.col(c).cast(DoubleType)))
    }
  }

  /** S2: expand paths into `(tableName, path)` in argument order.
    *
    *   - plain file  -> basename without extension; name collisions get
    *     `-1`, `-2`, ... suffixes (utils.py:62-71)
    *   - directory   -> recursive walk collecting `*.csv`; table name is
    *     the relative path without the extension (utils.py:83-88)
    *   - URL         -> name derived from the URL path's basename
    */
  def discover(paths: Seq[String]): Seq[(String, String)] = {
    val used = scala.collection.mutable.Map.empty[String, Int]
    def unique(name: String): String = used.get(name) match {
      case None => used(name) = 0; name
      case Some(n) => used(name) = n + 1; s"$name-${n + 1}"
    }
    paths.flatMap { p =>
      if (isUrl(p)) {
        val base = p.split("/").last
        Seq(unique(stripExt(base)) -> p)
      } else {
        val path = Paths.get(p)
        if (Files.isDirectory(path)) {
          // table name = os.path.join(relpath(parent, dir), stem) —
          // top-level files get a literal "./" prefix (golden
          // `tests/test_csvs_to_sqlite.py:328-339`: tables "./test1")
          walkCsvs(path).map { f =>
            val relDir = path.relativize(f.getParent).toString
            val prefix = if (relDir.isEmpty) "." else relDir
            unique(s"$prefix/${stripExt(f.getFileName.toString)}") -> f.toString
          }
        } else {
          Seq(unique(stripExt(path.getFileName.toString)) -> p)
        }
      }
    }
  }

  private def walkCsvs(dir: Path): Seq[Path] =
    Files.walk(dir).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.toLowerCase.endsWith(".csv"))
      .toSeq.sortBy(_.toString)

  private def stripExt(name: String): String = {
    val i = name.lastIndexOf('.')
    if (i > 0) name.substring(0, i) else name
  }

  /** S3: URL detection (`utils.py:93-100`). URL loads download to a
    * temp file, then S1 — exercised end-to-end against a loopback
    * (127.0.0.1) HTTP fixture in CsvLoaderSpec, the zero-egress
    * equivalent of a live fetch.
    */
  def isUrl(s: String): Boolean =
    Seq("http://", "https://", "ftp://").exists(p => s.toLowerCase.startsWith(p))

  def loadUrl(spark: SparkSession, url: String, opts: CsvOptions = CsvOptions()): DataFrame =
    load(spark, fetch(url), opts)

  /** Download `url` to a temp file and return its path. */
  def fetch(url: String): String = {
    val tmp = Files.createTempFile("graft-url-", ".csv")
    val in = new java.net.URL(url).openStream()
    try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.toString
  }
}
