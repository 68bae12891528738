package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Canon

/** Dictionary encoding — the reference's extracted-columns feature
  * (E1/E2, `utils.py:139-254`, `cli.py:229-238`).
  *
  * The reference assigns ids row-at-a-time through SQLite probes: 1-based,
  * in first-occurrence order, shared across all dataframes and across
  * multiple source columns targeting the same lookup table, with float
  * values canonicalized via `%g` and NULLs passing through un-encoded.
  * Re-running against an existing database reuses existing ids
  * (incremental).
  *
  * Spark-first redesign (set-oriented, two phases):
  *
  *  1. '''Build''': union every source column (canonicalized to string)
  *     tagged with `(sourceIdx, rowid)` — the reference's iteration order
  *     is per-column-spec, then per-dataframe, then per-row
  *     (`utils.py:241-253`), so that pair IS the first-seen order.
  *     `groupBy(value).agg(min(struct(sourceIdx, rowid)))` gives each
  *     distinct value its first occurrence; a range-partitioned sort on
  *     that + `zipWithIndex` yields contiguous 1-based ids with NO
  *     single-partition stage — the ranking parallelizes even for
  *     high-cardinality dictionaries.
  *  2. '''Encode''': broadcast the dictionary and left-join each fact on
  *     the canonicalized value; the fact table never shuffles.
  *
  * At 100 TB: phase 1 is one shuffle keyed by value with map-side partial
  * aggregation (each executor emits at most |dict| rows); phase 2 is a
  * broadcast hash join, zero shuffle of the fact table.
  */
object Extract {

  case class ExtractSpec(column: String, table: String, valueColumn: String)

  /** E1: parse `col`, `col:Table`, or `col:Table:valcol` (`cli.py:229-238`). */
  def parseSpec(spec: String): ExtractSpec = spec.split(":", 3) match {
    case Array(c)       => ExtractSpec(c, c, "value")
    case Array(c, t)    => ExtractSpec(c, t, "value")
    case Array(c, t, v) => ExtractSpec(c, t, v)
  }

  /** One column feeding a shared lookup table. `rowid` must be a stable
    * 1-based row order column in `df` (see [[Rowid]]).
    */
  case class Source(df: DataFrame, column: String, rowidCol: String = Rowid.ColName)

  private def canonCol(df: DataFrame, column: String): Column = {
    val dt = df.schema(column).dataType
    Canon.canonicalize(col(column), dt)
  }

  /** Phase 1: build the `(id, value)` dictionary in first-seen order
    * across all sources; optionally extend an existing dictionary
    * (incremental semantics: existing values keep their ids, new values
    * get ids starting after the existing max).
    */
  def buildDictionary(
      sources: Seq[Source],
      valueColName: String = "value",
      existing: Option[DataFrame] = None): DataFrame = {
    require(sources.nonEmpty, "at least one source column required")
    val tagged = sources.zipWithIndex.map { case (s, idx) =>
      s.df.select(
        canonCol(s.df, s.column).as("value"),
        struct(lit(idx).as("src"), col(s.rowidCol).cast(LongType).as("rowid")).as("ord"))
    }.reduce(_ unionAll _)

    val firstSeen = tagged
      .filter(col("value").isNotNull)
      .groupBy(col("value"))
      .agg(min(col("ord")).as("first_seen"))

    val fresh = existing match {
      case Some(e) => firstSeen.join(broadcast(e.select(col(valueColName).as("value"))), Seq("value"), "left_anti")
      case None    => firstSeen
    }
    val offset: Long = existing match {
      case Some(e) => e.agg(coalesce(max(col("id")), lit(0L)).cast(LongType)).head().getLong(0)
      case None    => 0L
    }
    // Global first-seen ranking WITHOUT a single-partition stage:
    // orderBy is a range-partitioned parallel sort, and zipWithIndex
    // assigns contiguous ranks holding only one count per partition on
    // the driver. (`row_number().over(Window.orderBy(...))` computes the
    // same thing but funnels every distinct value through ONE partition —
    // fine for small dictionaries, a wall for high-cardinality ones.)
    // The (src, rowid) pair is unique per value, so the order is total
    // and deterministic.
    val spark = fresh.sparkSession
    val sorted = fresh.orderBy(col("first_seen")).select(col("value"))
    val withIds = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row(idx + 1L + offset, row.getString(0))
    }
    val freshIds = spark.createDataFrame(withIds,
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField(valueColName, StringType))))
    // Ids ascend partition by partition (the `.db` sink streams in that
    // order). A parquet read does not keep file order, so the existing
    // ids are sorted into one partition ahead of the fresh ones.
    existing match {
      case Some(e) =>
        e.select(col("id").cast(LongType), col(valueColName))
          .coalesce(1).sortWithinPartitions("id").unionAll(freshIds)
      case None => freshIds
    }
  }

  /** Phase 2: replace `column` in `df` with its dictionary id (LongType),
    * keeping column position. NULL values stay NULL (`utils.py:193-194`).
    * The dictionary is broadcast: the fact side never shuffles.
    */
  def encode(
      df: DataFrame,
      column: String,
      dictionary: DataFrame,
      valueColName: String = "value"): DataFrame = {
    val dict = broadcast(
      dictionary.select(col(valueColName).as("__dict_value"), col("id").as("__dict_id")))
    val joined = df
      .withColumn("__canon", canonCol(df, column))
      .join(dict, col("__canon") === col("__dict_value"), "left")
    val outCols = df.columns.map {
      case c if c == column => col("__dict_id").as(column)
      case c                => col(c)
    }
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** Reconstruction join (SURVEY §2.6): recover the original string by
    * left-joining the lookup table on `fact.col = dict.id` — the only
    * join shape the reference ever generates (`utils.py:417-425`).
    * Dictionary broadcast; no fact shuffle.
    */
  def reconstruct(
      encoded: DataFrame,
      column: String,
      dictionary: DataFrame,
      valueColName: String = "value",
      as: Option[String] = None): DataFrame = {
    val outName = as.getOrElse(column)
    val dict = broadcast(
      dictionary.select(col("id").as("__dict_id"), col(valueColName).as("__dict_value")))
    val joined = encoded.join(dict, col(column) === col("__dict_id"), "left")
    if (as.isDefined) {
      // keep the id column, append the decoded string under a new name
      joined.select((encoded.columns.map(col) :+ col("__dict_value").as(outName)).toIndexedSeq: _*)
    } else {
      val outCols = encoded.columns.map {
        case c if c == column => col("__dict_value").as(outName)
        case c                => col(c)
      }
      joined.select(outCols.toIndexedSeq: _*)
    }
  }
}
