package graft

import org.apache.spark.sql.SparkSession

import graft.sources.CsvLoader.QuoteMode

/** CLI argument parsing mirroring the reference's interface
  * (`cli.py:24-147`): `graft.Cli paths... dbname [options]`.
  *
  * Options (same names/semantics as csvs-to-sqlite):
  *   -s/--separator, -q/--quoting (csv.QUOTE_* 0-3), --skip-errors,
  *   --replace-tables, -t/--table, -c/--extract-column (multi),
  *   -d/--date (multi), -dt/--datetime (multi), -df/--datetime-format
  *   (multi), -pk/--primary-key (multi), -f/--fts (multi), -i/--index
  *   (multi), --shape, --filename-column, --fixed-column NAME VALUE
  *   (multi), --fixed-column-int NAME VALUE, --fixed-column-float NAME
  *   VALUE, --no-index-fks, --no-fulltext-fks, --just-strings,
  *   plus engine-side --output-dir for the parquet+schema.sql sink.
  */
object Cli {

  /** Feature-compatibility version: the reference release whose flag
    * surface this CLI mirrors (`setup.py:5`), with a graft suffix.
    * `--version` prints it in click's `@click.version_option()` shape
    * (`cli.py:148`).
    */
  val Version = "1.3.1-graft"

  val VersionLine = s"graft.Cli, version $Version (csvs-to-sqlite-compatible)"

  /** `--help` output; the README embeds this block verbatim and CliSpec
    * asserts they match — the analogue of the reference's cog
    * help-freshness test (`tests/test_csvs_to_sqlite.py:769-778`).
    */
  val HelpText: String =
    """Usage: graft.Cli PATHS... DBNAME [OPTIONS]
      |
      |  PATHS: paths to individual .csv files or to directories containing .csvs
      |
      |  DBNAME: name of the SQLite database file to create
      |
      |Options:
      |  -s, --separator TEXT       Field separator in input .csv
      |  -q, --quoting INTEGER      Field quoting per csv.QUOTE_* (0-3)
      |  --skip-errors              Skip lines with too many fields instead of failing
      |  --replace-tables           Replace tables if they already exist
      |  -t, --table TEXT           Table to use (instead of using CSV filename)
      |  -c, --extract-column TEXT  Extract this column into a lookup table
      |                             (supports "colname:table:valuecolumn")
      |  -d, --date TEXT            Parse this column as a date, store ISO formatted
      |  -dt, --datetime TEXT       Parse this column as a datetime, store ISO formatted
      |  -df, --datetime-format TEXT  Datetime format to attempt first
      |  -pk, --primary-key TEXT    Column to use as the primary key
      |  -f, --fts TEXT             Column to include in the full-text index
      |  -i, --index TEXT           Add an index on this column
      |  --shape TEXT               Custom column order and types
      |                             ("colname:newname(TYPE),...")
      |  --filename-column TEXT     Add a column with this name, containing the
      |                             source filename
      |  --fixed-column NAME VALUE        Add a TEXT column with a fixed value
      |  --fixed-column-int NAME VALUE    Add an INTEGER column with a fixed value
      |  --fixed-column-float NAME VALUE  Add a FLOAT column with a fixed value
      |  --no-index-fks             Skip adding an index to foreign key columns
      |                             (on by default)
      |  --no-fulltext-fks          Skip using the lookup-table value in the
      |                             full-text index (on by default)
      |  --just-strings             Import every column as TEXT
      |  --output-dir TEXT          Engine-side parquet + schema.sql sink directory
      |  --version                  Show the version and exit
      |  --help                     Show this message and exit""".stripMargin

  def parse(args: Seq[String]): Pipeline.Config = {
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var c = Pipeline.Config(paths = Nil, dbName = "")
    var i = 0
    def next(): String = { i += 1; args(i) }
    while (i < args.length) {
      args(i) match {
        case "-s" | "--separator" => c = c.copy(separator = next())
        case "-q" | "--quoting" => c = c.copy(quoting = next().toInt match {
          case 0 => QuoteMode.Minimal
          case 1 => QuoteMode.All
          case 2 => QuoteMode.NonNumeric
          case 3 => QuoteMode.None
          case other => throw new IllegalArgumentException(s"bad quoting mode $other")
        })
        case "--skip-errors" => c = c.copy(skipErrors = true)
        case "--replace-tables" => c = c.copy(replaceTables = true)
        case "-t" | "--table" => c = c.copy(tableName = Some(next()))
        case "-c" | "--extract-column" => c = c.copy(extractColumns = c.extractColumns :+ next())
        case "-d" | "--date" => c = c.copy(dateCols = c.dateCols :+ next())
        case "-dt" | "--datetime" => c = c.copy(datetimeCols = c.datetimeCols :+ next())
        case "-df" | "--datetime-format" => c = c.copy(datetimeFormats = c.datetimeFormats :+ next())
        case "-pk" | "--primary-key" => c = c.copy(primaryKeys = c.primaryKeys :+ next())
        case "-f" | "--fts" => c = c.copy(ftsColumns = c.ftsColumns :+ next())
        case "-i" | "--index" => c = c.copy(indexes = c.indexes :+ next())
        case "--shape" => c = c.copy(shape = Some(next()))
        case "--filename-column" => c = c.copy(filenameColumn = Some(next()))
        case "--fixed-column" =>
          val (n, v) = (next(), next()); c = c.copy(fixedColumns = c.fixedColumns :+ (n -> v))
        case "--fixed-column-int" =>
          val (n, v) = (next(), next()); c = c.copy(fixedColumnsInt = c.fixedColumnsInt :+ (n -> v.toLong))
        case "--fixed-column-float" =>
          val (n, v) = (next(), next()); c = c.copy(fixedColumnsFloat = c.fixedColumnsFloat :+ (n -> v.toDouble))
        case "--no-index-fks" => c = c.copy(indexFks = false)
        case "--no-fulltext-fks" => c = c.copy(fulltextFks = false)
        case "--just-strings" => c = c.copy(justStrings = true)
        case "--output-dir" => c = c.copy(outputDir = Some(next()))
        case opt if opt.startsWith("-") =>
          throw new IllegalArgumentException(s"Unknown option: $opt")
        case p => positional += p
      }
      i += 1
    }
    require(positional.length >= 2, "usage: graft.Cli PATHS... DBNAME [options]")
    c.copy(paths = positional.init.toSeq, dbName = positional.last)
  }

  def main(args: Array[String]): Unit = {
    // click's eager options: handled before any parsing or Spark startup
    if (args.contains("--version")) { println(VersionLine); return }
    if (args.contains("--help")) { println(HelpText); return }
    val config = parse(args.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = Pipeline.run(spark, config.copy(
      outputDir = config.outputDir.orElse(Some(config.dbName.stripSuffix(".db") + ".out"))))
    // With a sqlite3 binary on the box, emit the reference's actual
    // artifact: a real SQLite db at the normalized dbname (fresh create
    // or incremental append — SqliteCli detects which). The parquet
    // output dir remains the engine's distributed-state store either way.
    if (graft.sinks.SqliteCli.binary.isDefined)
      graft.sinks.SqliteCli.writeDb(result.dbName, result)
    result.release()
    result.messages.foreach(println)
    spark.stop()
  }
}
