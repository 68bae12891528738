package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graftbench.Main.Op

/** Per-layer metrics of one traced pass, plus the trace file. Sums are
  * over the traced ops, failed ones included: a layer's work happened
  * whether or not the op's output passed its check.
  */
class Profile(t: Tracer, ops: Seq[Op], cpus: Int) {
  private def opAgg(o: Op): Agg = t.perOp.getOrElse(o.id, new Agg)
  private def of(kind: String): Seq[Op] = ops.filter(_.kind == kind)
  private def sumAgg(os: Seq[Op])(f: Agg => Double): Double = os.map(o => f(opAgg(o))).sum
  private def layer(l: String): Agg = t.perLayer.getOrElse(l, new Agg)
  private def driverOnly(o: Op): Double = t.driverOnlyS(o.id, o.startMs, o.startMs + o.wallS * 1e3)
  private def spanS(name: String): Double =
    t.spans.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1e3).sum
  private def extra(os: Seq[Op], k: String): Double =
    os.flatMap(_.extra.get(k)).map(_.toString.toDouble).sum
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  private val within: ((Long, Double, Double, Double)) => Boolean = { case (start, _, _, _) =>
    ops.exists(o => start >= o.startMs - 1 && start <= o.startMs + o.wallS * 1e3 + 1)
  }
  private val execs = t.executions.filter(within)

  def metrics: Map[String, Double] = {
    val wall = ops.map(_.wallS).sum
    val task = sumAgg(ops)(_.taskS)
    val loads = of("load"); val dbs = of("db_write"); val queries = of("query")
    val csvBytes = extra(loads, "csv_bytes")
    val okLoads = loads.filter(_.ok); val okDbs = dbs.filter(_.ok)
    mutable.LinkedHashMap[String, Double](
      "spark.jobs" -> sumAgg(ops)(_.jobs.toDouble),
      "spark.stages" -> sumAgg(ops)(_.stages.toDouble),
      "spark.tasks" -> sumAgg(ops)(_.tasks.toDouble),
      "spark.driver_only_s" -> ops.map(driverOnly).sum,
      "spark.core_busy" -> ratio(task, wall * cpus),
      "spark.task_s" -> task,
      "spark.cpu_s" -> sumAgg(ops)(_.cpuS),
      "spark.gc_s" -> sumAgg(ops)(_.gcS),
      "spark.shuffle_write_bytes" -> sumAgg(ops)(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> sumAgg(ops)(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> sumAgg(ops)(_.spill.toDouble),
      "spark.input_bytes" -> sumAgg(ops)(_.inputBytes.toDouble),
      "spark.storage_peak_bytes" -> t.storagePeak.toDouble,
      "spark.failed_tasks" -> sumAgg(ops)(_.failedTasks.toDouble),
      "plans.analysis_s" -> execs.map(_._2).sum / 1e3,
      "plans.optimize_s" -> execs.map(_._3).sum / 1e3,
      "plans.physical_s" -> execs.map(_._4).sum / 1e3,
      "plans.codegen_s" -> t.codegenNs.values.sum / 1e9,
      "plans.executions" -> execs.size.toDouble,
      "queries.pass_s" -> queries.filter(_.ok).map(_.wallS).sum,
      "queries.construct_s" -> spanS("construct"),
      "queries.execute_s" -> spanS("execute"),
      "queries.jobs_per_query" -> ratio(sumAgg(queries)(_.jobs.toDouble), queries.size),
      "queries.checkpoint_jobs" -> sumAgg(queries)(_.checkpointJobs.toDouble),
      "sources.task_s" -> layer("sources").taskS,
      "sources.jobs" -> layer("sources").jobs.toDouble,
      "sources.scan_amp" -> ratio(sumAgg(loads)(_.inputBytes.toDouble), csvBytes),
      "operators.task_s" -> layer("operators").taskS,
      "operators.jobs" -> layer("operators").jobs.toDouble,
      "operators.shuffle_bytes" -> layer("operators").shuffleWrite.toDouble,
      "operators.dict_rows" -> extra(loads, "dict_rows"),
      "pipeline.wall_s" -> spanS("Pipeline.run"),
      "pipeline.driver_only_s" -> loads.map(driverOnly).sum,
      "pipeline.write_amp" -> ratio(sumAgg(loads)(_.outputBytes.toDouble), csvBytes),
      "pipeline.rows_per_s" -> ratio(okLoads.map(_.rows).sum, okLoads.map(_.wallS).sum),
      "pipeline.state_bytes_per_csv_byte" -> ratio(extra(okLoads, "state_bytes"), extra(okLoads, "csv_bytes")),
      "sinks.db_wall_s" -> dbs.map(_.wallS).sum,
      "sinks.db_jobs" -> sumAgg(dbs)(_.jobs.toDouble),
      "sinks.db_task_s" -> sumAgg(dbs)(_.taskS),
      "sinks.db_driver_s" -> dbs.map(driverOnly).sum,
      "sinks.db_recompute_bytes" -> sumAgg(dbs)(_.inputBytes.toDouble),
      "sinks.db_shuffle_bytes" -> sumAgg(dbs)(_.shuffleWrite.toDouble),
      "sinks.rows_per_s" -> ratio(okDbs.map(_.rows).sum, okDbs.map(_.wallS).sum),
      "sinks.db_bytes_per_csv_byte" -> ratio(extra(okDbs, "db_bytes"), extra(okDbs, "csv_bytes")),
    ).toMap
  }

  /** Self time of each span (its wall minus its children's), by layer. */
  private def spanLayer(name: String): String = name match {
    case "Cli.parse" | "Pipeline.run" => "pipeline"
    case "SqliteCli.writeDb" => "sinks"
    case "construct" => "queries"
    case "execute" => "spark"
    case _ => "harness"
  }

  def writeTrace(path: Path): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    val children = t.spans.groupBy(_.parent)
    t.spans.foreach { s =>
      lines += Json.write(Map("type" -> "span", "id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    val selfByLayer = mutable.Map.empty[String, Double]
    t.spans.foreach { s =>
      val self = (s.endMs - s.startMs) - children.getOrElse(s.id, Nil).map(c => c.endMs - c.startMs).sum
      selfByLayer(spanLayer(s.name)) = selfByLayer.getOrElse(spanLayer(s.name), 0.0) + self / 1e3
    }
    (Tracer.Layers ++ Seq("graft", "harness")).distinct.foreach { l =>
      val a = layer(l)
      lines += Json.write(Map("type" -> "layer", "layer" -> l,
        "span_self_s" -> selfByLayer.getOrElse(l, 0.0), "stage_task_s" -> a.taskS,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "shuffle_write_bytes" -> a.shuffleWrite, "input_bytes" -> a.inputBytes))
    }
    t.stageRecords.foreach(r => lines += Json.write(Map("type" -> "stage") ++ r))
    ops.foreach { o =>
      val a = opAgg(o)
      lines += Json.write(Map("type" -> "op_profile", "op" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "ok" -> o.ok, "wall_s" -> o.wallS, "jobs" -> a.jobs,
        "stages" -> a.stages, "tasks" -> a.tasks, "task_s" -> a.taskS, "cpu_s" -> a.cpuS,
        "gc_s" -> a.gcS, "driver_only_s" -> driverOnly(o),
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill, "input_bytes" -> a.inputBytes,
        "checkpoint_jobs" -> a.checkpointJobs,
        "codegen_s" -> t.codegenNs.getOrElse(o.id, 0L) / 1e9))
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Profile {
  /** Traced wall over untraced wall of the same ops, minus one. Ops are
    * matched by kind and name; each side contributes its mean wall.
    */
  def overhead(untraced: Seq[Op], traced: Seq[Op]): Map[String, Double] = {
    def mean(xs: Seq[Double]): Double = xs.sum / xs.size
    def byName(os: Seq[Op]) = os.filter(_.ok).groupBy(o => (o.kind, o.name)).map { case (k, v) => k -> mean(v.map(_.wallS)) }
    val u = byName(untraced); val tr = byName(traced)
    val common = u.keySet.intersect(tr.keySet).toSeq
    val uS = common.map(u).sum; val tS = common.map(tr).sum
    Map("matched_ops" -> common.size.toDouble, "untraced_s" -> uS, "traced_s" -> tS,
      "share" -> (if (uS > 0) tS / uS - 1 else 0.0))
  }
}
