package lifebench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, with the Spark
  * jobs, stages and tasks each call caused.
  *
  * A span sets the local property [[Tracer.SpanKey]] (and a job group
  * named after the span) on the driver thread. Local properties are
  * inherited by the threads Spark starts on the caller's behalf — the
  * micro-batch thread of a streaming query, broadcast and subquery
  * threads — so every job is attributed to the innermost span open when
  * it was submitted, even where streaming overwrites the job group.
  *
  * When `active` is false a span is a plain call, and the listener is
  * detached: untraced cycles pay nothing. */
final class Tracer(sc: SparkContext, warehouse: Path) {
  import Tracer._

  private final class Counters {
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
  }
  private final case class JobRec(span: Int, startMs: Long,
                                  @volatile var endMs: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageSpan = new ConcurrentHashMap[Int, Int]
  private val counters = new ConcurrentHashMap[Int, Counters]
  private def countersOf(span: Int) =
    counters.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(spanOf(e.properties), e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, span)
      countersOf(span).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
      c.tasks.incrementAndGet()
      c.taskMs.addAndGet(e.taskInfo.duration)
    }
  }

  val spans = ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private var attached = false
  var active = false
  var cycle = -1

  /** Turn tracing on or off for the next cycle; attaches or detaches
    * the listener so untraced cycles carry no listener at all. */
  def setActive(on: Boolean): Unit = {
    if (on && !attached) { sc.addSparkListener(listener); attached = true }
    if (!on && attached) {
      org.apache.spark.lifebench.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener); attached = false
    }
    active = on
  }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val before = warehouseFiles()
      val rec = SpanRec(spans.size, name,
        stack.headOption.map(_.id).getOrElse(-1), cycle)
      spans += rec
      val prevSpan = sc.getLocalProperty(SpanKey)
      sc.setJobGroup(name, name)
      sc.setLocalProperty(SpanKey, rec.id.toString)
      stack = rec :: stack
      rec.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        rec.wallMs = (System.nanoTime() - t0) / 1e6
        rec.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevSpan)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.name, p.name)
          case None => sc.clearJobGroup()
        }
        rec.filesWritten = (warehouseFiles() -- before).size
      }
    }

  /** Record the maintenance mode the innermost span's call reported. */
  def mode(m: String): Unit =
    stack.headOption.foreach(s => s.modes += m)

  /** Fill every span of `cycle` with its job counters. Waits for the
    * listener bus first, so all of the cycle's events are in. */
  def settle(): Unit = {
    org.apache.spark.lifebench.ListenerBusAccess.drain(sc)
    val mine = spans.filter(s => s.cycle == cycle && !s.settled)
    val children: Map[Int, Seq[SpanRec]] =
      spans.toSeq.groupBy(_.parent)
    def subtree(s: SpanRec): Seq[SpanRec] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobsBySpan = jobs.values.asScala.toSeq.groupBy(_.span)
    mine.foreach { s =>
      val ids = subtree(s).map(_.id)
      val js = ids.flatMap(i => jobsBySpan.getOrElse(i, Nil))
      val cs = ids.flatMap(i => Option(counters.get(i)))
      s.jobs = js.size
      s.stages = cs.map(_.stages.get).sum
      s.tasks = cs.map(_.tasks.get).sum
      s.taskMs = cs.map(_.taskMs.get).sum.toDouble
      val busy = unionMs(js.map(j =>
        (math.max(j.startMs, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
      s.driverMs = math.max(0.0, s.wallMs - busy)
      s.selfMs = s.wallMs - children.getOrElse(s.id, Nil).map(_.wallMs).sum
      s.settled = true
    }
  }

  private def warehouseFiles(): Set[String] =
    if (!Files.isDirectory(warehouse)) Set.empty
    else {
      val st = Files.walk(warehouse)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally st.close()
    }

  def writeJson(path: Path): Unit =
    Files.writeString(path, Json.write(spans.map(_.fields)))
}

object Tracer {
  val SpanKey = "lifebench.span"

  /** Total length of the union of closed intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** One call into a layer. Counters cover the span and its children. */
final case class SpanRec(id: Int, name: String, parent: Int, cycle: Int) {
  var startMs = 0L
  var endMs = 0L
  var wallMs = 0.0
  var selfMs = 0.0
  var driverMs = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0.0
  var filesWritten = 0L
  val modes = ArrayBuffer.empty[String]
  var settled = false

  def fields: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "parent" -> parent, "cycle" -> cycle,
    "start_ms" -> startMs, "end_ms" -> endMs, "wall_ms" -> wallMs,
    "self_ms" -> selfMs, "driver_ms" -> driverMs, "jobs" -> jobs,
    "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "files_written" -> filesWritten,
    "modes" -> modes.toSeq)
}
