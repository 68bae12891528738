package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.build(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a swallowed exception here silently drops
    // the query from the driver's correctness compare (round-2 lesson:
    // s1_rowid_scan vanished from CORRECTNESS without tripping anything).
    // Every failure is recorded in errors.json and flips the exit code.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (local iteration on new
    // queries); the driver never sets it, so the gate stays complete.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // SPARK_GRAFT_JSON_ONLY=1 skips the query dump and just (re)writes
    // oracle_sql.json — for re-running a DuckDB compare against
    // existing parquet outputs after an oracle-only change
    val jsonOnly = sys.env.get("SPARK_GRAFT_JSON_ONLY").contains("1")
    SparkEntry.queries.filter(kv => !jsonOnly && keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // free this query's eager localCheckpoint blocks before the next
      // one — 200+ checkpointing queries in one session otherwise
      // accumulate storage until the ContextCleaner catches up
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
