package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters gathered from Spark listener events for one span. Task
  * times are summed over tasks; `peakExecMem` is the maximum over tasks.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var output = 0L
  var peakExecMem = 0L

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exec_run_ms" -> execRunMs, "exec_cpu_ns" -> execCpuNs, "gc_ms" -> gcMs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill, "output" -> output, "peak_exec_mem" -> peakExecMem)
}

/** One traced call into a layer: name, wall interval, parent span and
  * the id of the crawl or query it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, rid: String,
                      startNs: Long, var endNs: Long, attrs: mutable.Map[String, Double]) {
  val counts = new Counts
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = Long.MaxValue
}

/** Spans recorded around the benchmark's calls into the program.
  *
  * While a span is open its id is the Spark job group, so the listener
  * attributes each job (and its stages and tasks) to the span that
  * caused it. A job submitted from a thread that did not inherit the
  * group is attributed to the innermost span open when it started.
  * Spans stay in memory and are written out when the run ends.
  *
  * Disabled, `span` only runs the body: untraced runs record nothing
  * per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var sc: Option[SparkContext] = None
  private val epochNs = System.nanoTime()

  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  /** Maximum task peak execution memory since the last [[resetPeak]]. */
  @volatile private var windowPeak = 0L

  def resetPeak(): Unit = windowPeak = 0L

  def peak: Long = windowPeak

  /** Listens to a new SparkContext (job and stage ids restart with it). */
  def attach(context: SparkContext): Unit = {
    sc = Some(context)
    stageSpan.clear()
    context.addSparkListener(listener)
  }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  def span[T](name: String, rid: String)(body: => T): T = {
    if (!enabled) return body
    val s = spans.synchronized {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val sp = Span(spans.size, parent, name, rid, System.nanoTime(), Long.MaxValue,
        mutable.Map.empty)
      spans += sp
      sp
    }
    stack.push(s)
    sc.foreach(_.setJobGroup(s"graftbench-${s.id}", name, interruptOnCancel = false))
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.foreach { c =>
        stack.headOption match {
          case Some(p) => c.setJobGroup(s"graftbench-${p.id}", p.name, interruptOnCancel = false)
          case None => c.clearJobGroup()
        }
      }
    }
  }

  /** Attaches a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  private def spanFor(job: SparkListenerJobStart): Option[Span] = {
    val group = Option(job.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("graftbench-")) match {
      case Some(g) =>
        val id = g.stripPrefix("graftbench-").toInt
        spans.synchronized(spans.lift(id))
      case None =>
        // innermost span open at the job's submission time
        spans.synchronized {
          spans.filter(s => s.startMs <= job.time && s.endMs >= job.time).lastOption
        }
    }
  }

  private def add(c: Counts, m: org.apache.spark.executor.TaskMetrics): Unit = c.synchronized {
    c.tasks += 1
    c.execRunMs += m.executorRunTime
    c.execCpuNs += m.executorCpuTime
    c.gcMs += m.jvmGCTime
    c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    c.output += m.outputMetrics.bytesWritten
    c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
  }

  private object listener extends SparkListener {
    override def onJobStart(job: SparkListenerJobStart): Unit = {
      if (enabled) spanFor(job).foreach { s =>
        job.stageIds.foreach(stageSpan.put(_, s))
        s.counts.synchronized(s.counts.jobs += 1)
      }
    }

    override def onStageSubmitted(stage: SparkListenerStageSubmitted): Unit = {
      Option(stageSpan.get(stage.stageInfo.stageId))
        .foreach(s => s.counts.synchronized(s.counts.stages += 1))
    }

    override def onTaskEnd(task: SparkListenerTaskEnd): Unit =
      Option(task.taskMetrics).foreach { m =>
        windowPeak = math.max(windowPeak, m.peakExecutionMemory)
        Option(stageSpan.get(task.stageId)).foreach(s => add(s.counts, m))
      }
  }

  def toJson: String = Json.arr(all.map { s =>
    Json.Raw(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "rid" -> s.rid,
      "start_s" -> (s.startNs - epochNs) / 1e9,
      "end_s" -> (if (s.endNs == Long.MaxValue) -1.0 else (s.endNs - epochNs) / 1e9),
      "attrs" -> Json.Raw(Json.obj(s.attrs.toSeq.sortBy(_._1): _*)),
      "counts" -> Json.Raw(s.counts.toJson)))
  })
}

/** Waits until every posted listener event has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = org.apache.spark.GraftBenchBus.drain(sc)
}

/** Minimal JSON writer for the run's raw output. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case Raw(t) => t
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => arr(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}
