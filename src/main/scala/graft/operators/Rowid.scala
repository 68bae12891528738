package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Stable 1-based row identity (SURVEY §2.7).
  *
  * SQLite assigns `rowid` in insert order = CSV line order
  * (`utils.py:359`), and the reference's tests and FTS populate rely on
  * it (`tests/test_csvs_to_sqlite.py:104`).
  *
  * Implementation: one counting job, then a projection.
  * `monotonically_increasing_id()` packs (partitionId << 33 | counter)
  * with the counter incrementing in row order WITHIN a partition — so a
  * column-pruned pass counting the rows of each partition gives global
  * offsets, and `rowid = offsets(pid) + counter + 1` is computed entirely
  * inside whole-stage codegen, with the offsets inlined as a literal
  * array indexed by `spark_partition_id()` (no join, no broadcast). No
  * RDD boundary in the returned plan (an earlier zipWithIndex version
  * deserialized every row to a boxed Row and back — measurably slower
  * and an optimizer fence).
  *
  * Determinism: file-split order is stable for a given input, so the
  * counting job and every later job see identical partitioning. Scale:
  * the counting job returns one Long per partition to the driver.
  */
object Rowid {

  val ColName = "rowid"

  /** The count-then-number scheme requires that the counting job and
    * the jobs that read the rowid observe the SAME row→partition
    * assignment — true for file scans and narrow chains over them, NOT
    * true above operators that re-distribute rows:
    * round-robin `repartition` (order within a partition is not a
    * function of the input), range sort (partition boundaries are
    * re-sampled per job), aggregates/windows/distinct (shuffle). Fail
    * fast with a clear error instead of silently mis-numbering rows.
    * (A cached upstream is exempt: once materialized, every pass reads
    * the same cached partitions.)
    */
  private def unstableOrderOp(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.collectFirst {
      case _: Repartition             => "repartition/coalesce"
      case _: RepartitionByExpression => "repartitionByExpression"
      case s: Sort if s.global        => "global sort"
      case _: Aggregate               => "aggregate"
      case _: Window                  => "window"
      case _: Deduplicate             => "distinct"
    }
  }

  def attach(df: DataFrame, colName: String = ColName): DataFrame =
    attachCounted(df, colName)._1

  /** [[attach]] numbering from `start + 1`, returning the frame and its
    * row count. The count comes from the counting job itself, so a table
    * merged from several files numbers file k from the rows of the files
    * before it, and the files merge with a plain union.
    */
  def attachCounted(
      df: DataFrame, colName: String = ColName, start: Long = 0L): (DataFrame, Long) = {
    require(!df.columns.contains(colName),
      s"Rowid.attach: column '$colName' already exists in the input schema")
    unstableOrderOp(df).foreach { op =>
      throw new IllegalArgumentException(
        s"Rowid.attach requires a scan-stable row order, but the upstream plan " +
        s"contains a $op, whose row-to-partition assignment can differ between " +
        s"the offset pass and the id pass. Attach rowid at scan time (before " +
        s"any shuffle), persist the upstream first, or use Rowid.attachZip.")
    }
    // rows per partition, in partition order (empty partitions count 0)
    val counts = df.select().queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.size.toLong))
      .collect()
    val offsets = counts.scanLeft(start)(_ + _)
    val counterMask = (1L << 33) - 1L
    val rowid = element_at(typedLit(offsets.init), spark_partition_id() + 1) +
      monotonically_increasing_id().bitwiseAND(lit(counterMask)) + 1L
    (df.withColumn(colName, rowid), offsets.last - start)
  }

  /** Rowid via `zipWithIndex` over the DataFrame's execution RDD — the
    * escape hatch for upstreams [[attach]] rejects (e.g. a global sort).
    * `df.rdd` builds ONE physical RDD chain; `zipWithIndex`'s two jobs
    * (partition-size count, then emit) share that chain's shuffle
    * dependencies, and Spark reuses shuffle map output across jobs, so
    * both passes observe the same row→partition assignment even above a
    * range-partitioned sort (whose boundary sampling runs once, at RDD
    * construction). Ids are assigned partition-by-partition in order, so
    * for a sorted upstream rowid == global sort rank, computed in
    * parallel (no single-partition window). Cost: one RDD boundary
    * (row deserialization + an optimizer fence) — prefer [[attach]] for
    * scan-stable upstreams.
    */
  def attachZip(df: DataFrame, colName: String = ColName): DataFrame = {
    require(!df.columns.contains(colName),
      s"Rowid.attachZip: column '$colName' already exists in the input schema")
    val spark = df.sparkSession
    val schema = df.schema.add(StructField(colName, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rdd, schema)
  }
}
