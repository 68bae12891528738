package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Output checks, run between ops and never timed. Each returns "" when
  * the output is right and otherwise the first thing found wrong. The
  * expectations come from the generator, which read the CSV text.
  */
object Checks {
  private val mapper = new ObjectMapper()

  private def lookups(expect: JsonNode): Seq[(String, String, Seq[String])] =
    expect.get("lookups").fields().asScala.map { e =>
      (e.getKey, e.getValue.get("value_col").asText,
        e.getValue.get("values").elements().asScala.map(_.asText).toSeq)
    }.toSeq

  /** Parquet state store: the fact and lookup tables hold the expected
    * rows. Returns (error or "", rows in the lookup tables).
    */
  def state(spark: SparkSession, dir: Path, expect: JsonNode): (String, Long) = {
    val table = expect.get("table").asText
    val lks = lookups(expect).map { case (t, _, vs) => t -> vs.size.toLong }
    val got = (Seq(table -> expect.get("rows").asLong) ++ lks).map { case (t, n) =>
      val p = dir.resolve(s"$t.parquet")
      (t, n, if (Files.exists(p)) spark.read.parquet(p.toString).count() else -1L)
    }
    val err = got.collectFirst {
      case (t, _, -1L) => s"state: $t.parquet missing"
      case (t, n, g) if g != n => s"state: $t.parquet has $g rows, CSV has $n"
    }.getOrElse("")
    (err, got.drop(1).map(_._3).filter(_ > 0).sum)
  }

  /** The `.db`: integrity, foreign keys, row count, lookup ids in
    * first-seen order, and one date, float and text value per table read
    * back against the CSV text.
    */
  def db(dbPath: String, expect: JsonNode): String = {
    val table = expect.get("table").asText
    def rows(q: String): Seq[JsonNode] = sql(dbPath, q)
    val checks: Iterator[() => String] = Iterator(
      () => {
        val r = rows("PRAGMA integrity_check")
        if (r.map(_.get("integrity_check").asText) == Seq("ok")) ""
        else s"integrity_check: ${r.take(3).mkString(" ")}"
      },
      () => {
        val r = rows("PRAGMA foreign_key_check")
        if (r.isEmpty) "" else s"foreign_key_check: ${r.size} violations, first ${r.head}"
      },
      () => {
        val n = rows(s"SELECT count(*) AS n FROM [$table]").head.get("n").asLong
        val want = expect.get("rows").asLong
        if (n == want) "" else s"$table has $n rows, CSV has $want"
      }) ++ lookups(expect).iterator.map { case (lk, vc, values) => () => {
        val got = rows(s"SELECT id, [$vc] AS v FROM [$lk] ORDER BY id")
          .map(r => (r.get("id").asLong, r.get("v").asText))
        val want = values.zipWithIndex.map { case (v, i) => (i + 1L, v) }
        if (got == want) ""
        else {
          val at = got.zip(want).indexWhere { case (g, w) => g != w }
          if (at >= 0) s"lookup $lk id ${want(at)._1}: .db holds '${got(at)._2}', first-seen order gives '${want(at)._2}'"
          else s"lookup $lk has ${got.size} ids, CSV has ${want.size} distinct values"
        }
      }
    } ++ expect.get("samples").elements().asScala.map { s => () => sample(dbPath, table, s) }
    checks.map(_()).find(_.nonEmpty).getOrElse("")
  }

  private def sample(dbPath: String, table: String, s: JsonNode): String = {
    val col = s.get("column").asText
    val kind = s.get("kind").asText
    val keyCol = s.get("key_col").asText
    val key = s.get("key").asLong
    val text = s.get("text").asText
    val q = Option(s.get("lookup")).filterNot(_.isNull).map(_.asText) match {
      case Some(lk) =>
        val vc = s.get("value_col").asText
        s"SELECT l.[$vc] AS v, typeof(l.[$vc]) AS t FROM [$table] f JOIN [$lk] l ON l.id = f.[$col] WHERE f.[$keyCol] = $key"
      case None =>
        s"SELECT [$col] AS v, typeof([$col]) AS t FROM [$table] WHERE [$keyCol] = $key"
    }
    sql(dbPath, q).headOption match {
      case None => s"$table.$col: no row with $keyCol = $key"
      case Some(r) =>
        val v = r.get("v")
        val ok = kind match {
          case "float" => v.isNumber && v.asDouble == text.toDouble
          case _ => v.isTextual && v.asText == text
        }
        if (ok) ""
        else s"$table.$col ($kind) at $keyCol = $key: CSV '$text', .db holds ${v.toString} (${r.get("t").asText})"
    }
  }

  /** One statement through the same sqlite3 binary graft writes with. */
  def sql(dbPath: String, q: String): Seq[JsonNode] = {
    val bin = graft.sinks.SqliteCli.binary.getOrElse(sys.error("no sqlite3 binary"))
    val pb = new ProcessBuilder(bin, "-json", "-readonly", dbPath, q)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    if (p.waitFor() != 0) sys.error(s"sqlite3 check query failed: $out")
    if (out.trim.isEmpty) Nil else mapper.readTree(out).elements().asScala.toSeq
  }
}
