package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Operation tagging for the tracer: every job an op starts carries
  * the op id as a local property, so events from untimed work (checks,
  * warm-up) never count.
  */
object OpTag {
  val Key = "graftbench.op"
  def of(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
}

/** One timed region the harness opened around a public graft call. */
final case class Span(id: Int, name: String, op: String, parent: Int, startMs: Double, endMs: Double)

/** Aggregates for one op, one layer or the whole run. */
final class Agg {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskS = 0.0; var cpuS = 0.0; var gcS = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L
  var checkpointJobs = 0L
}

/** The traced run's profiler. Layers are measured from outside:
  * spans around the public calls the harness makes, a SparkListener for
  * jobs, stages and tasks, and a QueryExecutionListener for Catalyst
  * phase times. Nothing inside graft is instrumented.
  *
  * A stage belongs to the layer of the first `graft.` frame of its call
  * site (`StageInfo.details`); a stage with no graft frame belongs to
  * `spark`.
  */
class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext

  private val stageOp = new ConcurrentHashMap[Int, String]()
  // op -> (start, end) intervals of its completed stages, epoch ms
  private val stageIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  val perOp = mutable.Map.empty[String, Agg]
  val perLayer = mutable.Map.empty[String, Agg]
  val stageRecords = mutable.ArrayBuffer.empty[Map[String, Any]]

  // Catalyst phases per execution, with its analysis start, so the op
  // can be found by time (the listener bus delivers these after the fact)
  val executions = mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]

  private val blockSizes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var storageNow = 0L
  @volatile var storagePeak = 0L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private val openSpans = mutable.Stack.empty[Int]
  // CodeGenerator's cumulative compile time (ns) charged to each op
  val codegenNs = mutable.Map.empty[String, Long]

  def install(): this.type = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    Util.drain(spark)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[T](name: String, op: String)(body: => T): T = {
    val (id, parent) = synchronized {
      nextSpan += 1
      val parent = openSpans.headOption.getOrElse(0)
      openSpans.push(nextSpan)
      (nextSpan, parent)
    }
    val cg0 = CodeGenerator.compileTime
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try body
    finally {
      val dur = (System.nanoTime() - t0) / 1e6
      synchronized {
        openSpans.pop()
        spans += Span(id, name, op, parent, w0.toDouble, w0 + dur)
        if (parent == 0)
          codegenNs(op) = codegenNs.getOrElse(op, 0L) + (CodeGenerator.compileTime - cg0)
      }
    }
  }

  private def agg(m: mutable.Map[String, Agg], k: String): Agg = m.getOrElseUpdate(k, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = OpTag.of(e.properties).foreach { op =>
    e.stageIds.foreach(s => stageOp.put(s, op))
    // a job's final stage is named after the job's call site, e.g.
    // "localCheckpoint at TextDedup.scala:123"; its layer is the job's
    e.stageInfos.sortBy(-_.stageId).headOption.foreach { st =>
      val checkpoint = if (st.name.toLowerCase.contains("checkpoint")) 1 else 0
      synchronized {
        val a = agg(perOp, op)
        a.jobs += 1
        a.checkpointJobs += checkpoint
        val l = agg(perLayer, Tracer.layerOf(st.details))
        l.jobs += 1
        l.checkpointJobs += checkpoint
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = stageOp.get(info.stageId)
    if (op == null) return
    val layer = Tracer.layerOf(info.details)
    synchronized {
      agg(perOp, op).stages += 1
      agg(perLayer, layer).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        stageIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((s, c))
      stageRecords += Map("op" -> op, "stage" -> info.stageId, "layer" -> layer,
        "name" -> info.name, "tasks" -> info.numTasks,
        "submit_ms" -> info.submissionTime.getOrElse(0L),
        "complete_ms" -> info.completionTime.getOrElse(0L),
        "task_s" -> info.taskMetrics.executorRunTime / 1e3,
        "shuffle_write_bytes" -> info.taskMetrics.shuffleWriteMetrics.bytesWritten,
        "input_bytes" -> info.taskMetrics.inputMetrics.bytesRead)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null) return
    val m = e.taskMetrics
    synchronized {
      (agg(perOp, op) +: Option(submittedLayer.get(e.stageId)).map(agg(perLayer, _)).toSeq).foreach { a =>
        a.tasks += 1
        if (e.reason != TaskSuccess) a.failedTasks += 1
        if (m != null) {
          a.taskS += m.executorRunTime / 1e3
          a.cpuS += m.executorCpuTime / 1e9
          a.gcS += m.jvmGCTime / 1e3
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  // A task can end before its stage completes, so the stage's layer
  // comes from the details recorded at submission.
  private val submittedLayer = new ConcurrentHashMap[Int, String]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageOp.containsKey(e.stageInfo.stageId))
      submittedLayer.put(e.stageInfo.stageId, Tracer.layerOf(e.stageInfo.details))

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    if (id.startsWith("broadcast")) return
    val size = info.memSize + info.diskSize
    val prev = if (size > 0) blockSizes.put(id, size) else blockSizes.remove(id)
    synchronized {
      storageNow += size - Option(prev).map(_.longValue).getOrElse(0L)
      if (storageNow > storagePeak) storagePeak = storageNow
    }
  }

  /** Resets the storage peak at the start of the timed region. */
  def resetStoragePeak(): Unit = synchronized { storagePeak = storageNow }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    synchronized { executions += ((start, ms("analysis"), ms("optimization"), ms("planning"))) }
  }

  /** Wall time of `ops` during which no stage of that op was running. */
  def driverOnlyS(op: String, startMs: Double, endMs: Double): Double = synchronized {
    val iv = stageIntervals.getOrElse(op, mutable.ArrayBuffer.empty)
      .map { case (s, c) => (math.max(s.toDouble, startMs), math.min(c.toDouble, endMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0.0; var curS = -1.0; var curE = -1.0
    iv.foreach { case (s, c) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, (endMs - startMs - covered) / 1e3)
  }
}

object Tracer {
  /** graft's modules, by the first graft frame of a call site. */
  def layerOf(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "spark"
      case Some(f) =>
        if (f.startsWith("graft.sources.")) "sources"
        else if (f.startsWith("graft.operators.") || f.startsWith("graft.functions.") ||
          f.startsWith("graft.expressions.")) "operators"
        else if (f.startsWith("graft.Pipeline")) "pipeline"
        else if (f.startsWith("graft.sinks.")) "sinks"
        else if (f.startsWith("graft.queries.") || f.startsWith("graft.SparkEntry") ||
          f.startsWith("graft.Tables")) "queries"
        else if (f.startsWith("graft.plans.")) "plans"
        else "graft"
    }

  val Layers: Seq[String] = Seq("sources", "operators", "pipeline", "sinks", "queries", "plans", "spark")
}
