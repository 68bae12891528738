package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.{Cli, Pipeline, SparkEntry}
import graft.sinks.SqliteCli

/** The benchmark's JVM side. run.py writes a manifest (inputs, flags and
  * expected outputs), starts this program, then reads the op records it
  * writes and turns them into metrics.
  *
  * One closed-loop client runs the workload's ops one after another
  * until the measured op time reaches `--seconds`. Each op is a public
  * graft call, made exactly as `graft.Cli.main` makes it
  * (`Cli.parse` -> `Pipeline.run` -> `SqliteCli.writeDb`) or as the query
  * board makes it (`fn(spark, dir)` then `.count()`), on this program's
  * own session. Output checks run between ops and are never timed.
  *
  * Usage: Main --manifest m.json --out ops.json --seconds S --trace 0|1
  *        [--trace-file trace.jsonl] [--cpus N]
  */
object Main {

  final case class Op(
      id: String, kind: String, name: String, pass: Int, phase: String,
      startMs: Double, wallS: Double, rows: Long, ok: Boolean, error: String,
      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val manifest = new ObjectMapper().readTree(Paths.get(opt("manifest")).toFile)
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = opt.getOrElse("cpus", "4").toInt
    val work = Paths.get(manifest.get("work").asText)

    val spark = session(cpus, work)
    val bench = new Bench(spark, manifest, work)
    bench.warmUp()
    val setupEndMs = System.currentTimeMillis()

    // A traced run first measures `seconds` untraced, then one pass with
    // the tracer installed, then one untraced again: the per-layer
    // figures are totals over the traced pass, and its difference from
    // the untraced passes just before and after it is the tracer's own
    // overhead (passes still speed up as the JVM warms, so one side
    // alone, or all earlier passes, would bias it).
    val untraced = bench.loop(seconds, "untraced", None)
    val tracedOps = if (traced) {
      val tracer = new Tracer(spark).install()
      val ops = bench.loop(Double.MaxValue, "traced", Some(tracer), passes = 1)
      tracer.uninstall()
      val after = bench.loop(Double.MaxValue, "untraced_after", None, passes = 1)
      Some((tracer, ops, after))
    } else None
    Util.drain(spark)

    val all = untraced ++ tracedOps.toSeq.flatMap(t => t._2 ++ t._3)
    val out = mutable.LinkedHashMap[String, Any](
      "setup_end_ms" -> setupEndMs,
      "warmup" -> bench.warmupRecords.toSeq,
      "ops" -> all.map(opJson))
    tracedOps.foreach { case (tracer, ops, after) =>
      val profile = new Profile(tracer, ops.map(o => all.find(_.id == o.id).get), cpus)
      out("per_layer") = profile.metrics
      val before = untraced.filter(o => untraced.lastOption.exists(_.pass == o.pass))
      out("overhead") = Profile.overhead(before ++ after, ops)
      opt.get("trace-file").foreach(f => profile.writeTrace(Paths.get(f)))
    }
    Files.writeString(Paths.get(opt("out")), Json.write(out))
    spark.stop()
  }

  def opJson(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "pass" -> o.pass, "phase" -> o.phase,
    "start_ms" -> o.startMs, "wall_s" -> o.wallS, "rows" -> o.rows, "ok" -> o.ok,
    "error" -> o.error) ++ o.extra

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** The workloads. */
class Bench(spark: SparkSession, m: JsonNode, work: Path) {
  import Main.Op

  private val workload = m.get("workload").asText
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private val invocations: Seq[JsonNode] = Option(m.get("invocations")).toSeq.flatMap(_.elements().asScala)
  private val warmInvocations: Seq[JsonNode] =
    Option(m.get("warm_invocations")).toSeq.flatMap(_.elements().asScala)
  private val queryNames: Seq[String] = Option(m.get("board_queries")).toSeq.flatMap(strings)
  private lazy val boardData = m.get("data").asText
  private val opsDir = work.resolve("ops")
  private val sqlTmp = Paths.get(System.getProperty("java.io.tmpdir"))
  val warmupRecords = mutable.ArrayBuffer.empty[Map[String, Any]]

  private var seq = 0

  /** Untimed: one pass of the workload's ops, so JIT and codegen are warm
    * before timing. The board first dumps every result for the oracle
    * compare, then runs `warm_passes` passes as the timed ones do: the
    * dump runs another plan, and a board pass keeps speeding up over
    * its first few runs while the JVM compiles hot code. Ops run one at
    * a time: warming up several at once left the timed pass 1.5x slower.
    */
  def warmUp(): Unit = {
    Files.createDirectories(opsDir)
    workload match {
      case "csv_fresh" =>
        // same tables and flags at a small scale
        warmInvocations.foreach { inv =>
          warmupRecords ++= csvInvocation(inv, opsDir.resolve("warm"), "warmup", 0, None).map(Main.opJson)
          Util.release(spark, blocking = true)
        }
      case "query_board" =>
        val dump = Paths.get(m.get("dump").asText)
        queryNames.foreach { q =>
          val t0 = System.nanoTime()
          val err = try {
            SparkEntry.queries(q)(spark, boardData).coalesce(1).write.mode("overwrite")
              .parquet(dump.resolve(q).toString)
            ""
          } catch { case e: Throwable => Util.message(e) }
          warmupRecords += Map("name" -> q, "wall_s" -> (System.nanoTime() - t0) / 1e9, "error" -> err)
          Util.release(spark, blocking = true)
        }
        Files.writeString(dump.resolve("oracle_sql.json"), Json.write(
          queryNames.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))
        warmupRecords ++= loop(Double.MaxValue, "warmup", None, passes = m.get("warm_passes").asInt)
          .map(Main.opJson)
    }
    System.gc()
  }

  /** Runs whole passes until the ops' summed wall time reaches `seconds`
    * or `passes` passes are done. A pass is every invocation of
    * csv_fresh or every query of the board. Whole passes keep the op mix
    * of a run fixed. Cached blocks are dropped after each step, untimed,
    * as the CLI's exit would drop them.
    */
  def loop(seconds: Double, phase: String, tracer: Option[Tracer], passes: Int = Int.MaxValue): Seq[Op] = {
    tracer.foreach(_.resetStoragePeak())
    val ops = mutable.ArrayBuffer.empty[Op]
    var pass = 0
    while (ops.map(_.wallS).sum < seconds && pass < passes) {
      pass += 1
      val steps: Seq[() => Seq[Op]] = workload match {
        case "csv_fresh" =>
          invocations.map(inv => () => csvInvocation(inv, opsDir.resolve(s"p$pass"), phase, pass, tracer))
        case "query_board" =>
          queryNames.map(q => () => Seq(query(q, boardData, phase, pass, tracer)))
      }
      steps.foreach { step =>
        ops ++= step()
        Util.release(spark, blocking = true)
      }
    }
    ops.toSeq
  }

  private def guard(check: => (String, Long)): (String, Long) =
    try check catch { case e: Throwable => (s"check could not run: ${Util.message(e)}", 0L) }

  private def nextId(kind: String): String = { seq += 1; s"$kind-$seq" }

  private def query(q: String, data: String, phase: String, pass: Int, tracer: Option[Tracer]): Op = {
    val id = nextId("query")
    def sp[T](n: String)(b: => T): T = tracer.map(_.span(n, id)(b)).getOrElse(b)
    var count = -1L
    val (wall, err, extra) = Util.timedOp(spark, id, None) {
      sp("query") {
        val df = sp("construct")(SparkEntry.queries(q)(spark, data))
        count = sp("execute")(df.count())
      }
    }
    Op(id, "query", q, pass, phase, extra("start_ms").asInstanceOf[Double], wall, 0L, err.isEmpty, err,
      Map("count" -> count))
  }

  /** One `graft.Cli` invocation as two ops: `load` (`Cli.parse` +
    * `Pipeline.run`) and, when the load succeeds, `db_write`
    * (`SqliteCli.writeDb`), into a new `.db` in `dir`.
    */
  private def csvInvocation(
      inv: JsonNode, dir: Path, phase: String, pass: Int, tracer: Option[Tracer]): Seq[Op] = {
    Files.createDirectories(dir)
    val table = inv.get("table").asText
    val dbPath = dir.resolve(s"$table.db").toString
    val args = strings(inv.get("args")).map(_.replace("{db}", dbPath))
    val rows = inv.get("csv_rows").asLong
    val expect = inv.get("expect")
    def sp[T](op: String, n: String)(b: => T): T = tracer.map(_.span(n, op)(b)).getOrElse(b)

    val loadId = nextId("load")
    var result: Pipeline.Result = null
    val (lw, lerr, lx) = Util.timedOp(spark, loadId, None) {
      sp(loadId, "load") {
        val config = sp(loadId, "Cli.parse")(Cli.parse(args))
        // as Cli.main: the parquet state store sits next to the .db
        result = sp(loadId, "Pipeline.run")(Pipeline.run(spark, config.copy(
          outputDir = config.outputDir.orElse(Some(config.dbName.stripSuffix(".db") + ".out")))))
      }
    }
    val stateDir = Paths.get(dbPath.stripSuffix(".db") + ".out")
    // warm-up ops are not counted, so they are not checked
    val check = phase != "warmup"
    val (lcheck, dictRows) =
      if (lerr.isEmpty && check) guard(Checks.state(spark, stateDir, expect)) else ("", 0L)
    val load = Op(loadId, "load", table, pass, phase, lx("start_ms").asInstanceOf[Double], lw, rows,
      lerr.isEmpty && lcheck.isEmpty, if (lerr.nonEmpty) lerr else lcheck,
      Map("csv_bytes" -> inv.get("csv_bytes").asLong, "state_bytes" -> Util.treeBytes(stateDir),
        "dict_rows" -> dictRows))
    if (lerr.nonEmpty) {
      Util.deleteTree(stateDir)
      return Seq(load)
    }

    val dbId = nextId("db_write")
    val (dw, derr, dx) = Util.timedOp(spark, dbId, Some(sqlTmp)) {
      sp(dbId, "db_write")(sp(dbId, "SqliteCli.writeDb")(SqliteCli.writeDb(result.dbName, result)))
    }
    val dcheck = if (derr.isEmpty && check) guard((Checks.db(result.dbName, expect), 0L))._1 else ""
    val dbBytes = Util.treeBytes(Paths.get(result.dbName))
    val write = Op(dbId, "db_write", table, pass, phase, dx("start_ms").asInstanceOf[Double], dw, rows,
      derr.isEmpty && dcheck.isEmpty, if (derr.nonEmpty) derr else dcheck,
      Map("csv_bytes" -> inv.get("csv_bytes").asLong, "db_bytes" -> dbBytes) ++
        dx.get("killed").map("killed" -> _))
    Util.deleteTree(stateDir)
    Files.deleteIfExists(Paths.get(result.dbName))
    Seq(load, write)
  }
}
