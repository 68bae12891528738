package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DateParse
import graft.operators.{Extract, Fts, Rowid, Shape}
import graft.sinks.SqliteDdl
import graft.sources.CsvLoader

/** The end-to-end pipeline mirroring the reference CLI
  * (`cli.py:149-298`): discover -> load -> transform -> dictionary-encode
  * -> materialize (+DDL) -> FTS.
  *
  * Sink: a directory of parquet tables plus `schema.sql` holding the
  * exact SQLite DDL the reference would execute (CREATE TABLE with
  * PK/FK, CREATE INDEX, CREATE VIRTUAL TABLE). The offline environment
  * has no sqlite-jdbc jar (SURVEY §7.2.6); with one on the classpath the
  * same DDL + DataFrames write to a real .db unchanged.
  *
  * Incremental semantics (`cli.py:248-251`): if the output directory
  * already holds a table and `replaceTables` is false, fact tables
  * append and lookup tables extend (existing ids are reused — E2's
  * incremental contract).
  */
object Pipeline {

  case class Config(
      paths: Seq[String],
      dbName: String,
      separator: String = ",",
      quoting: CsvLoader.QuoteMode = CsvLoader.QuoteMode.Minimal,
      skipErrors: Boolean = false,
      replaceTables: Boolean = false,
      tableName: Option[String] = None,
      extractColumns: Seq[String] = Nil,
      dateCols: Seq[String] = Nil,
      datetimeCols: Seq[String] = Nil,
      datetimeFormats: Seq[String] = Nil,
      primaryKeys: Seq[String] = Nil,
      ftsColumns: Seq[String] = Nil,
      indexes: Seq[String] = Nil,
      shape: Option[String] = None,
      filenameColumn: Option[String] = None,
      fixedColumns: Seq[(String, String)] = Nil,
      fixedColumnsInt: Seq[(String, Long)] = Nil,
      fixedColumnsFloat: Seq[(String, Double)] = Nil,
      indexFks: Boolean = true,
      fulltextFks: Boolean = true,
      justStrings: Boolean = false,
      outputDir: Option[String] = None)

  /** What a run built. `tables` are the final fact and lookup tables,
    * cached: the run materialized each one once (its parquet write read
    * the cache), and they stay cached for the sink until [[release]].
    * Each arrives in key order partition by partition — a fact table by
    * `rowid`, a lookup table by `id` — which the `.db` sink relies on.
    */
  case class Result(
      dbName: String,
      tables: Map[String, DataFrame],       // fact + lookup tables (final content)
      createdTables: Seq[String],
      ddl: Seq[String],                     // schema.sql statements in order
      messages: Seq[String],
      lookupTables: Set[String] = Set.empty) { // dictionary (id, value) tables

    /** Drop the tables' caches; the frames stay valid and recompute
      * lazily from the source CSVs. (A `--skip-errors` table then
      * re-applies its bad-line filter per query, and Spark rejects a
      * raw CSV query that reads no data column, such as a bare
      * `count()` on a table with no extracted column.)
      *
      * Exception: a dictionary extended from an EXISTING lookup table
      * stays cached, because its lineage reads the pre-run parquet that
      * the run's staged swap replaced — the cached copy is the
      * authoritative content (bounded by distinct-value cardinality,
      * small by construction).
      */
    def release(): Unit = tables.foreach { case (name, df) =>
      if (!lookupTables.contains(name) || createdTables.contains(name)) df.unpersist()
    }
  }

  def run(spark: SparkSession, config: Config): Result = {
    val dbName = SqliteDdl.normalizeDbName(config.dbName)
    val ddl = mutable.ArrayBuffer.empty[String]
    val messages = mutable.ArrayBuffer.empty[String]

    // -- E1: extract specs -> column -> (table, valueColumn) (cli.py:229-238)
    val extracts: Seq[Extract.ExtractSpec] = config.extractColumns.map(Extract.parseSpec)
    val fkByColumn: Map[String, (String, String)] =
      extracts.map(e => e.column -> (e.table, e.valueColumn)).toMap

    // -- S2 + per-file load loop (cli.py:196-226)
    val discovered = CsvLoader.discover(config.paths)
    val csvOpts = CsvLoader.CsvOptions(
      separator = config.separator, skipErrors = config.skipErrors,
      quoting = config.quoting, justStrings = config.justStrings)
    var lastOverrides: Map[String, Shape.SqliteType] = Map.empty
    // One cache per parsed file: the rowid count fills it, and every
    // later consumer (dictionary sources, encode, the final table)
    // reads it instead of parsing the CSV again. Disk-backed: spills
    // instead of re-parsing, the Spark-idiomatic equivalent of the
    // reference's in-RAM frames. Released at the end of the run.
    val scans = mutable.ArrayBuffer.empty[DataFrame]
    // rows loaded so far per table: file k of a multi-file table
    // numbers its rowids after the files before it
    val rowsSoFar = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val loaded = discovered.flatMap { case (derivedName, path) =>
      try {
        val name = config.tableName.getOrElse(derivedName)
        val local = if (CsvLoader.isUrl(path)) CsvLoader.fetch(path) else path
        val scan = CsvLoader.parse(spark, local, csvOpts)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        scans += scan
        val (numbered, rows) = Rowid.attachCounted(scan, start = rowsSoFar(name))
        var df = numbered
        // P3 filename column — the value is the per-file DERIVED name,
        // never the -t override: the reference sets df.table_name =
        // table or name but df[filename_column] = name (cli.py:201-203),
        // preserving per-file provenance under -t.
        config.filenameColumn.foreach { c => df = Shape.withFilenameColumn(df, c, derivedName) }
        // P4 fixed columns (cli.py:206-220)
        df = Shape.withFixedColumns(df,
          config.fixedColumns.map { case (c, v) => c -> (Shape.FixedStr(v): Shape.FixedValue) } ++
          config.fixedColumnsInt.map { case (c, v) => c -> (Shape.FixedInt(v): Shape.FixedValue) } ++
          config.fixedColumnsFloat.map { case (c, v) => c -> (Shape.FixedFloat(v): Shape.FixedValue) })
        // P2 shape: prune/rename/cast; keep rowid + auto-appended columns
        config.shape.foreach { s =>
          val defs = Shape.parseShape(s) ++
            (config.filenameColumn.toSeq ++
              (config.fixedColumns ++ config.fixedColumnsInt.map(x => (x._1, "")) ++
                config.fixedColumnsFloat.map(x => (x._1, ""))).map(_._1))
              .map(c => Shape.ShapeDefn(c, c, None)) :+
            Shape.ShapeDefn(Rowid.ColName, Rowid.ColName, None)
          val (shaped, overrides) = Shape.applyShape(df, defs)
          df = shaped
          lastOverrides = overrides // single-shape-applies-to-all keeps LAST file's map (cli.py:221)
        }
        // P5 dates
        config.dateCols.foreach { c =>
          if (df.columns.contains(c))
            df = df.withColumn(c, DateParse.parseDate(col(c), config.datetimeFormats))
        }
        config.datetimeCols.foreach { c =>
          if (df.columns.contains(c))
            df = df.withColumn(c, DateParse.parseDatetime(col(c), config.datetimeFormats))
        }
        rowsSoFar(name) += rows
        Some(name -> df)
      } catch {
        case e: Exception =>
          // per-file failure: print and continue (cli.py:224-225)
          System.err.println(s"Loading {$path} failed: $e")
          None
      }
    }

    // -- E2: build shared dictionaries then encode (refactor_dataframes)
    val existingDict: String => Option[DataFrame] = { table =>
      config.outputDir.flatMap { out =>
        val p = Paths.get(out, s"$table.parquet")
        if (!config.replaceTables && Files.exists(p)) Some(spark.read.parquet(p.toString))
        else None
      }
    }
    // iteration order: per column spec, then per dataframe (utils.py:241-253)
    val dictionaries = mutable.LinkedHashMap.empty[String, DataFrame]
    val dictValueCol = mutable.Map.empty[String, String]
    val sourcesByTable = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Extract.Source]]
    extracts.foreach { spec =>
      loaded.foreach { case (_, df) =>
        if (df.columns.contains(spec.column)) {
          sourcesByTable.getOrElseUpdate(spec.table, mutable.ArrayBuffer.empty) +=
            Extract.Source(df, spec.column)
          dictValueCol(spec.table) = spec.valueColumn
        }
      }
    }
    val dictWasExisting = mutable.Map.empty[String, Boolean]
    sourcesByTable.foreach { case (table, sources) =>
      val existing = existingDict(table)
      dictWasExisting(table) = existing.isDefined
      dictionaries(table) = Extract.buildDictionary(
        sources.toSeq, dictValueCol(table), existing)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val encoded = loaded.map { case (name, df0) =>
      var df = df0
      extracts.foreach { spec =>
        if (df.columns.contains(spec.column))
          df = Extract.encode(df, spec.column, dictionaries(spec.table), dictValueCol(spec.table))
      }
      name -> df
    }

    // merge multi-file same-table loads (e.g. -t: all files -> one
    // table); each file already numbered its rowids after the files
    // before it, so the union keeps the global insert order, like
    // SQLite rowids across sequential inserts
    val facts = mutable.LinkedHashMap.empty[String, DataFrame]
    encoded.foreach { case (name, df) =>
      facts(name) = facts.get(name).fold(df)(_.unionByName(df, allowMissingColumns = true))
    }
    // each final table is built once: its parquet write fills the
    // cache, and FTS and the sink read it
    facts.mapValuesInPlace((_, df) =>
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // -- materialize (cli.py:245-265): DDL + parquet writes
    val createdTables = mutable.ArrayBuffer.empty[String]
    // lookup tables first (reference writes them during refactor, cli.py:242-244).
    // DDL + createdTables only when the table was actually created this
    // run: LookupTable.ensure_table_exists creates only when absent
    // (utils.py:151-182) — an extended existing dictionary emits nothing.
    dictionaries.foreach { case (table, dict) =>
      if (!dictWasExisting.getOrElse(table, false)) {
        ddl += SqliteDdl.lookupTableSql(table, dictValueCol(table))
        if (config.fulltextFks) {
          val shadow = s"${table}_${dictValueCol(table)}_fts"
          ddl += SqliteDdl.ftsCreateSql(table, Seq(dictValueCol(table)), Fts.bestFtsVersion)
            .replace(s""""${table}_fts"""", s""""$shadow"""")
          // The reference inserts (id, value) into the shadow FTS as each
          // new lookup value lands (utils.py:224-235); loaded in bulk,
          // that is one INSERT-SELECT over the finished lookup table.
          ddl += s"""INSERT INTO "$shadow" (rowid, "${dictValueCol(table)}") """ +
            s"""SELECT id, "${dictValueCol(table)}" FROM "$table""""
        }
        createdTables += table
      }
      writeTable(spark, config, table, dict)
    }
    facts.foreach { case (name, df) =>
      val bare = df.drop(Rowid.ColName)
      val exists = config.outputDir.exists(out => Files.exists(Paths.get(out, s"$name.parquet")))
      if (exists && config.replaceTables) ddl += SqliteDdl.dropTableSql(name)
      if (!exists || config.replaceTables) {
        ddl += SqliteDdl.createTableWithForeignKeys(
          name, bare.schema, fkByColumn, lastOverrides, config.primaryKeys, config.indexFks)
        createdTables += name
      }
      writeTable(spark, config, name, bare, append = exists && !config.replaceTables)
      // S8 secondary indexes (cli.py:263-265; silently skipped when missing)
      config.indexes.foreach { idx =>
        SqliteDdl.createIndexSql(name, bare.schema, idx.split(",").toSeq).foreach(ddl += _)
      }
    }

    // -- FTS (cli.py:267-283). The reference validates per created fact
    // table: EVERY created table must contain EVERY -f column (raise on
    // the first miss, cli.py:276-281); when no fact tables were created
    // this run (append-only), the loop over created_tables no-ops — any
    // -f flags are silently ignored, never an error.
    if (config.ftsColumns.nonEmpty) {
      val createdFacts = facts.filter { case (n, _) => createdTables.contains(n) }
      createdFacts.foreach { case (_, df) =>
        val have = df.columns.toSet
        config.ftsColumns.find(c => !have.contains(c)).foreach { missing =>
          throw new IllegalArgumentException(
            s"""FTS column "$missing" does not exist""")
        }
      }
      createdFacts.foreach { case (name, df) =>
        val cols = config.ftsColumns
        ddl += SqliteDdl.ftsCreateSql(name, cols, Fts.bestFtsVersion)
        // the populate script the reference executes (utils.py:374-438):
        // SELECT rowid + original strings, LEFT JOIN per extracted column
        // with md5-suffixed aliases when one lookup is joined twice
        ddl += SqliteDdl.ftsPopulateSql(name, cols, fkByColumn)
        // populate-join: index ORIGINAL strings for extracted columns
        val reconstructed = cols.foldLeft(df) { case (acc, c) =>
          if (fkByColumn.contains(c))
            Extract.reconstruct(acc, c, dictionaries(fkByColumn(c)._1), dictValueCol(fkByColumn(c)._1))
          else acc
        }
        val index = Fts.invertedIndex(reconstructed, cols)
        writeTable(spark, config, s"${name}_fts", index)
      }
    }

    // -- summary (cli.py:287-298): "Added ... to" when the database
    // already existed, "Created ... from" otherwise
    val n = discovered.size
    val plural = if (n == 1) "" else "s"
    val dbExisted = config.outputDir.exists(out =>
      Files.exists(Paths.get(out, "schema.sql")))
    messages +=
      (if (dbExisted) s"Added $n CSV file$plural to $dbName"
       else s"Created $dbName from $n CSV file$plural")

    if (config.outputDir.isDefined) {
      val out = config.outputDir.get
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, "schema.sql"), ddl.mkString("\n"))
    }

    // -- release the per-file parse caches: every table built from them
    // is materialized in its own cache, which stays valid without them
    // (Result.release drops those). A frame whose cache was never filled
    // (no output dir) falls back to recomputing from the CSVs.
    scans.foreach(_.unpersist())

    Result(dbName, (facts ++ dictionaries).toMap, createdTables.toSeq, ddl.toSeq, messages.toSeq,
      dictionaries.keySet.toSet)
  }

  private def writeTable(
      spark: SparkSession, config: Config, name: String, df: DataFrame,
      append: Boolean = false): Unit =
    config.outputDir.foreach { out =>
      // A plan may lazily READ the table it is about to replace (append
      // merges; incremental dictionaries extend the previous run's
      // lookup table). Overwrite mode deletes the target before the job
      // runs, so any write over an existing table stages to a temp dir
      // first, then swaps — the job reads the old files intact.
      val target = Paths.get(out, s"$name.parquet")
      if (Files.exists(target)) {
        val toWrite =
          if (append) spark.read.parquet(target.toString)
            .unionByName(df, allowMissingColumns = true)
          else df
        val tmp = Paths.get(out, s".$name.tmp.parquet")
        toWrite.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        deleteRecursively(target)
        Files.move(tmp, target)
      } else {
        df.write.mode("overwrite").parquet(target.toString)
      }
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
