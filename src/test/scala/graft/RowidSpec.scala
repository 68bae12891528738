package graft

import org.apache.spark.sql.functions._

import graft.operators.Rowid

/** Stable row identity (§2.7): guard behavior and the zipWithIndex
  * escape hatch for sorted upstreams.
  */
class RowidSpec extends SparkSpec {
  import spark.implicits._

  test("attach rejects upstreams whose row->partition assignment is job-dependent") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    for ((bad, what) <- Seq(
        (df.repartition(4), "repartition"),
        (df.orderBy("k"), "global sort"),
        (df.groupBy("k").count().toDF("k", "n"), "aggregate"),
        (df.distinct(), "distinct"))) {
      val e = intercept[IllegalArgumentException] { Rowid.attach(bad) }
      assert(e.getMessage.contains("scan-stable"), s"$what should be rejected: ${e.getMessage}")
    }
  }

  test("attach and attachZip refuse an input that already has the rowid column") {
    val df = Seq((1L, "a")).toDF("rowid", "v")
    val e1 = intercept[IllegalArgumentException] { Rowid.attach(df) }
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException] { Rowid.attachZip(df) }
    assert(e2.getMessage.contains("already exists"))
  }

  test("attachZip over a global sort numbers rows in sort-rank order") {
    val df = Seq(30, 10, 50, 20, 40).toDF("k")
    val out = Rowid.attachZip(df.orderBy("k")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === Map(10 -> 1L, 20 -> 2L, 30 -> 3L, 40 -> 4L, 50 -> 5L))
  }

  test("attach over a parquet scan is a stable 1..n in file order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowid").toString
    spark.range(100).select(col("id").as("k")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    val a = Rowid.attach(scanned).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Rowid.attach(scanned).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "two passes must agree")
    assert(a.values.toSeq.sorted === (1L to 100L))
  }

  test("attach over several partitions, one of them empty, is a stable 1..n in scan order") {
    // five range partitions of 20 ids; the filter empties the second
    val scanned = spark.range(0, 100, 1, 5).toDF().filter(col("id") < 20 || col("id") >= 40)
    assert(scanned.rdd.getNumPartitions === 5)
    val (numbered, n) = Rowid.attachCounted(scanned, start = 10L)
    assert(n === 80L)
    def pass() = numbered.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val a = pass()
    assert(a === pass(), "two passes must agree")
    val ids = (0L until 20L) ++ (40L until 100L)
    assert(a === ids.zip(11L to 90L), "rowid follows scan order, numbered from start + 1")
  }
}
