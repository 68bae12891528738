package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

object Util {
  /** A db_write op whose sqlite3 child shows no CPU progress for this
    * long is hung: graft's sink reads the child's stdout to EOF before
    * its stderr, so a child with more than a pipe buffer of errors
    * blocks forever.
    */
  val StallS = 1.0
  /** Any op still running after this long is cancelled. */
  val HardTimeoutS = 120.0

  /** One line: the error, then its root cause with the cause's top
    * stack frames, so a failure can be told from another of the same
    * class.
    */
  def message(e: Throwable): String = {
    def line(t: Throwable, max: Int): String = {
      val one = s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".replaceAll("\\s+", " ").trim
      if (one.length > max) one.take(max) + "..." else one
    }
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq.last
    if (root eq e) line(e, 400)
    else s"${line(e, 400)} | root cause: ${line(root, 300)}" +
      root.getStackTrace.take(3).map(f => s" at $f").mkString
  }

  /** Runs `body` as one op on its own thread, its Spark jobs tagged with
    * `id`. Returns (wall seconds, error or "", extras). With `sqlTmp`,
    * a stalled sqlite3 child is killed, which makes graft's sink see EOF
    * and fail the op; its temp `graft-sqlite-*.sql` script is removed.
    */
  def timedOp(spark: SparkSession, id: String, sqlTmp: Option[Path])(
      body: => Unit): (Double, String, Map[String, Any]) = {
    val sc = spark.sparkContext
    @volatile var err = ""
    @volatile var t0 = 0L
    @volatile var t1 = 0L
    @volatile var startMs = 0.0
    val th = new Thread(() => {
      sc.setLocalProperty(OpTag.Key, id)
      sc.setJobGroup(id, id, interruptOnCancel = true)
      startMs = System.currentTimeMillis().toDouble
      t0 = System.nanoTime()
      try body catch { case e: Throwable => err = message(e) }
      finally { t1 = System.nanoTime() }
    }, s"perfbench-$id")
    th.setDaemon(true)
    th.start()
    val deadline = System.nanoTime() + (HardTimeoutS * 1e9).toLong
    val watch = new StallWatch
    var killed = ""
    while (th.isAlive) {
      th.join(100)
      if (th.isAlive && killed.isEmpty) {
        val stalled = if (sqlTmp.isDefined) watch.stalled() else None
        stalled.foreach { case (p, why) => killed = why; p.destroyForcibly() }
        if (killed.isEmpty && System.nanoTime() > deadline) {
          killed = f"op exceeded $HardTimeoutS%.0f s"
          sc.cancelJobGroup(id)
          sqliteChildren().foreach(_.destroyForcibly())
        }
      }
    }
    val leftover = sqlTmp.toSeq.flatMap(d => Try(Files.list(d).iterator.asScala.toSeq).getOrElse(Nil))
      .filter(_.getFileName.toString.startsWith("graft-sqlite-"))
    leftover.foreach(Files.deleteIfExists)
    val error =
      if (killed.nonEmpty) s"killed: $killed; " + (if (err.nonEmpty) err else "op returned after kill")
      else err
    val extra = Map[String, Any]("start_ms" -> startMs) ++
      (if (killed.nonEmpty) Map("killed" -> killed) else Map.empty) ++
      (if (leftover.nonEmpty) Map("removed_sql_files" -> leftover.size) else Map.empty)
    ((t1 - t0) / 1e9, error, extra)
  }

  def sqliteChildren(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator.asScala
      .filter(_.info().command().orElse("").endsWith("sqlite3")).toSeq

  /** Flags a sqlite3 child whose CPU time has not moved for [[StallS]]. */
  final class StallWatch {
    private var last = Map.empty[Long, (Long, Long)] // pid -> (cpu ticks, since ns)

    def stalled(): Option[(ProcessHandle, String)] = {
      val now = System.nanoTime()
      val procs = sqliteChildren().map(p => p.pid -> p).toMap
      last = procs.flatMap { case (pid, p) => cpuTicks(pid).map { ticks =>
        pid -> (last.get(pid) match {
          case Some((t, since)) if t == ticks => (t, since)
          case _ => (ticks, now)
        })
      } }
      last.collectFirst { case (pid, (_, since)) if now - since > (StallS * 1e9).toLong =>
        val wchan = Try(Files.readString(Path.of(s"/proc/$pid/wchan")).trim).getOrElse("?")
        procs(pid) -> f"sqlite3 (pid $pid) made no CPU progress for $StallS%.1f s (wchan=$wchan)"
      }
    }

    private def cpuTicks(pid: Long): Option[Long] = Try {
      val stat = Files.readString(Path.of(s"/proc/$pid/stat"))
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong // utime + stime
    }.toOption
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    Try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }.getOrElse(Thread.sleep(1000))
  }

  /** Drops every cached block (eager checkpoints of the last query). */
  def release(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    } else Files.size(p)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Minimal JSON writer for the op records and the trace. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
