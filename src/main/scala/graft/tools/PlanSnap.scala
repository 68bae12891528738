package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** Dev-only: dump `.explain("formatted")` for named graded queries to
  * `plans/<round>/<query>_<tag>.txt` — the before/after evidence files
  * the optimization rounds commit alongside OPTIMIZATION_r*.md.
  *
  * Run: sbt 'runMain graft.tools.PlanSnap r18 before q1,q2,...[ sfDir]'
  * (query list "top" = the heaviest set named inline below).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val round = args(0)
    val tag = args(1)
    val names: Seq[String] = args(2) match {
      case "all" => graft.SparkEntry.queries.keys.toSeq.sorted
      case s => s.split(",").toSeq
    }
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Session.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(s"plans/$round")
    Files.createDirectories(out)
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(out.resolve(s"${name}_$tag.txt"), plan.getBytes(UTF_8))
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        println(s"[plansnap] $name -> ${name}_$tag.txt (Exchange x$exchanges)")
      } catch { case e: Throwable =>
        println(s"[plansnap] $name ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
