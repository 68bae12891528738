package graft.sinks

import org.apache.spark.sql.types._

import graft.operators.Shape.SqliteType

/** SQLite DDL generation (reference K1–K4, E3, S8 —
  * `utils.py:271-359`, `utils.py:490-502`).
  *
  * The reference infers CREATE TABLE by round-tripping one row through an
  * in-memory SQLite; here the StructType maps directly. The emitted text
  * matches the reference's golden format exactly
  * (`tests/test_utils.py:21-31`):
  *
  * {{{
  * CREATE TABLE "name" (
  * "col1" TYPE,
  *   "col2" TYPE
  * )
  * }}}
  *
  * (first column unindented, subsequent two-space indented — an artifact
  * of pandas' DDL writer that the goldens pin.)
  *
  * The int-or-null rule (`utils.py:290-303`) is represented upstream:
  * Spark infers LongType for integer+blank CSV columns, so the mapping
  * below never sees the float64 mirage pandas has to correct.
  *
  * The statements land in `schema.sql` next to the parquet state
  * ([[graft.Pipeline]]), and [[SqliteCli.writeDb]] executes them
  * against a real `.db`.
  */
object SqliteDdl {

  def sqliteType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case BinaryType => "BLOB"
    case _ => "TEXT"
  }

  /** K1: CREATE TABLE text with optional type overrides and composite
    * primary key (PK appended by rewriting the trailing paren,
    * `utils.py:312-317`; golden `tests/test_csvs_to_sqlite.py:632-644`).
    */
  def createTableSql(
      tableName: String,
      schema: StructType,
      typeOverrides: Map[String, SqliteType] = Map.empty,
      primaryKeys: Seq[String] = Nil): String = {
    val colDefs = schema.fields.zipWithIndex.map { case (f, i) =>
      val t = typeOverrides.get(f.name).map(_.name).getOrElse(sqliteType(f.dataType))
      val indent = if (i == 0) "" else "  "
      s"""$indent"${f.name}" $t"""
    }
    val base = s"""CREATE TABLE "$tableName" (\n${colDefs.mkString(",\n")}\n)"""
    if (primaryKeys.nonEmpty) {
      val cols = primaryKeys.map(c => s"[$c]").mkString(", ")
      base.dropRight(1) + s"  ,PRIMARY KEY ($cols)\n)"
    } else base
  }

  /** E3: FOREIGN KEY clauses + per-FK CREATE INDEX (`utils.py:337-357`).
    * `foreignKeys`: column -> (lookup table, value column).
    */
  def createTableWithForeignKeys(
      tableName: String,
      schema: StructType,
      foreignKeys: Map[String, (String, String)],
      typeOverrides: Map[String, SqliteType] = Map.empty,
      primaryKeys: Seq[String] = Nil,
      indexFks: Boolean = true): String = {
    val base = createTableSql(tableName, schema, typeOverrides, primaryKeys)
    val cols = schema.fieldNames.toSet
    val fkBits = foreignKeys.toSeq.filter(f => cols(f._1)).map {
      case (column, (table, _)) => s"""FOREIGN KEY ("$column") REFERENCES [$table](id)"""
    }
    // reference: create_sql.strip().rstrip(")") then "{},\n{});" —
    // the newline before the comma is PRESERVED (utils.py:355-357), so
    // the emitted text is `"col" TEXT\n,\nFOREIGN KEY ...);` byte-for-byte
    val fkSql =
      if (fkBits.isEmpty) base
      else base.stripSuffix(")") + s",\n${fkBits.mkString(",\n    ")});"
    val idxBits =
      if (indexFks)
        foreignKeys.toSeq.filter(f => cols(f._1)).map { case (column, _) =>
          s"""CREATE INDEX ["${tableName}_$column"] ON [$tableName]("$column");"""
        }
      else Nil
    (fkSql +: idxBits).mkString("\n")
  }

  /** Lookup-table DDL (`utils.py:161-169`). */
  def lookupTableSql(tableName: String, valueColumn: String): String =
    s"""CREATE TABLE "$tableName" (\n    "id" INTEGER PRIMARY KEY,\n    "$valueColumn" TEXT\n);"""

  /** S8: secondary index; silently skipped when a column is missing
    * (`utils.py:490-502`).
    */
  def createIndexSql(tableName: String, schema: StructType, cols: Seq[String]): Option[String] = {
    val have = schema.fieldNames.toSet
    if (cols.forall(have)) {
      val idxName = (tableName +: cols).mkString("_")
      val colList = cols.map(c => s""""$c"""").mkString(", ")
      Some(s"""CREATE INDEX ["$idxName"] ON [$tableName]($colList);""")
    } else None
  }

  /** K5: database-name normalization (`cli.py:184-187`). */
  def normalizeDbName(name: String): String = {
    require(!name.endsWith(".csv"), "dbname must not end with .csv")
    if (!name.contains(".")) name + ".db" else name
  }

  /** FTS virtual-table DDL (S10, `utils.py:374-393`). */
  def ftsCreateSql(tableName: String, cols: Seq[String], ftsVersion: String = "FTS5"): String = {
    val colList = cols.map(c => s""""$c"""").mkString(", ")
    s"""CREATE VIRTUAL TABLE "${tableName}_fts" USING $ftsVersion ($colList, content="$tableName");"""
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** S10 populate script (`utils.py:386-436`): the INSERT INTO …
    * SELECT the reference executes to fill an external-content FTS
    * table. When a column is extracted, the SELECT left-joins its lookup
    * table to index the ORIGINAL strings, not the ids; when one lookup
    * table is joined more than once (the actors pattern,
    * `tests/test_csvs_to_sqlite.py:232-281`), the second and later joins
    * get `table_alias_<md5(table)>_<n>` aliases. Text is byte-for-byte
    * the reference's format (including the double space after the table
    * name when the alias is empty).
    */
  def ftsPopulateSql(
      tableName: String,
      cols: Seq[String],
      foreignKeys: Map[String, (String, String)]): String = {
    val ftsCols = cols.map(c => s""""$c"""").mkString(", ")
    val select =
      if (foreignKeys.isEmpty)
        s"SELECT rowid, $ftsCols FROM [$tableName]"
      else {
        val seen = scala.collection.mutable.Map.empty[String, Int]
        val selectCols = scala.collection.mutable.ArrayBuffer.empty[String]
        val joins = scala.collection.mutable.ArrayBuffer.empty[String]
        cols.foreach { c =>
          foreignKeys.get(c) match {
            case Some((otherTable, labelColumn)) =>
              val n = seen.getOrElse(otherTable, 0) + 1
              seen(otherTable) = n
              val alias = if (n > 1) s"table_alias_${md5hex(otherTable)}_$n" else ""
              val aliasOrTable = if (alias.nonEmpty) alias else otherTable
              selectCols += s"""[$aliasOrTable]."$labelColumn""""
              joins += s"""left join [$otherTable] $alias on [$tableName]."$c" = [$aliasOrTable].id"""
            case None =>
              selectCols += s""""$c""""
          }
        }
        s"SELECT [$tableName].rowid, ${selectCols.mkString(", ")} FROM [$tableName] ${joins.mkString("\n")}"
      }
    s"""INSERT INTO "${tableName}_fts" (rowid, $ftsCols) $select"""
  }

  /** K4: `--replace-tables` drops a loaded fact table before its
    * CREATE (`cli.py:248-249`).
    */
  def dropTableSql(tableName: String): String = s"DROP TABLE [$tableName]"
}
