package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only: per-job and per-stage wall breakdown of ONE graded query
  * execution (after an in-session warm rep) — where do a 5s query's
  * seconds actually go at sf0.1: how many jobs, how many stages, task
  * time vs scheduler gaps.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    // warm twice
    fn(spark, dir).count(); fn(spark, dir).count()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    var stageCount = 0
    var taskTimeMs = 0L
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time, js.stageIds.size))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, nStages) = jobs.getOrDefault(je.jobId, (je.time, 0))
        println(f"[job] id=${je.jobId}%4d  wall=${(je.time - t0) / 1000.0}%6.2fs  stages=$nStages")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageCount += 1
        taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("tools.JobProbe"))
          .getOrElse(si.name).trim.take(80)
        println(f"[stage] id=${si.stageId}%4d wall=$wall%6.2fs tasks=${si.numTasks}%3d " +
          f"taskTime=${si.taskMetrics.executorRunTime / 1000.0}%6.2fs " +
          f"deser=${si.taskMetrics.executorDeserializeTime / 1000.0}%5.2fs " +
          f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%5.2fs $site")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    println(f"[total] $name wall=$wall%6.2fs stages=$stageCount taskTime=${taskTimeMs / 1000.0}%6.2fs")
    spark.stop()
  }
}
