package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: every job started while the span
  * was the innermost open one, with its tasks' metrics.
  */
final class Work {
  var jobs, tasks, runMs, cpuNs, gcMs, inputBytes, inputRows, shuffleWrite,
      spill, outputBytes, jobWallMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRows += o.inputRows; shuffleWrite += o.shuffleWrite
    spill += o.spill; outputBytes += o.outputBytes
    jobWallMs += o.jobWallMs
  }
}

/** Attributes jobs to spans through Spark job groups: the tracer sets
  * the group to the open span's id, and this listener files each job,
  * its stages and their tasks under that group.
  */
final class JobListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def work(g: String): Work = byGroup.computeIfAbsent(g, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val w = work(g)
    w.synchronized { w.jobs += 1 }
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val w = work(g)
      w.synchronized { w.jobWallMs += e.time - t0 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(Option(stageGroup.get(e.stageId)).getOrElse(""))
      w.synchronized {
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def of(group: String): Work = Option(byGroup.get(group)).getOrElse(new Work)
}

final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the calls into the engine. Disabled, `span`
  * only runs its body, so the untraced end-to-end runs pay nothing but
  * the call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drain(sc)

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  def kids(id: Int): Seq[Span] = children.getOrElse(id, Nil)

  /** Duration minus the time covered by child spans. */
  def selfMs(s: Span): Double = s.ms - kids(s.id).map(_.ms).sum

  def subtree(s: Span): Seq[Span] = s +: kids(s.id).flatMap(subtree)

  /** Spark work of the span and everything under it. */
  def work(s: Span): Work = {
    val t = new Work
    listener.foreach(l => subtree(s).foreach(x => t.add(l.of(s"span-${x.id}"))))
    t
  }

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  def writeJsonl(path: String): Unit = {
    val lines = spans.map { s =>
      val w = listener.map(_.of(s"span-${s.id}")).getOrElse(new Work)
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${(s.startNs - spans.head.startNs) / 1e6},"dur_ms":${s.ms},""" +
        s""""self_ms":${selfMs(s)},"jobs":${w.jobs},"tasks":${w.tasks}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Values: Double/Long/Int, String, Boolean, Seq[Any], Map[String, Any]. */
  def of(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${of(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
