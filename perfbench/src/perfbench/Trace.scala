package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `trigger` is the input file index and
  * `table` the source table (empty when the span covers a whole batch). */
final case class Span(id: String, name: String, parent: String, trigger: Int,
                      table: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class Work {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMaxMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val outputBytes = new AtomicLong
}

/** Spans kept in memory and written out when the run ends. Spark jobs,
  * stages and tasks are attributed to the span named by the
  * `perfbench.span` local property of the thread that submitted them;
  * Spark copies local properties into threads a thread creates, so the
  * program's own fan-out pool inherits the span of its caller. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val SpanKey = "perfbench.span"
  val spans = new ConcurrentLinkedQueue[Span]
  private val work = new ConcurrentHashMap[String, Work]
  private val stageSpan = new ConcurrentHashMap[Integer, String]
  private val ids = new AtomicLong

  private def workOf(span: String): Work = work.computeIfAbsent(span, _ => new Work)
  def workFor(span: Span): Work = work.getOrDefault(span.id, new Work)

  /** Times `body` as a span on the current thread; Spark work `body`
    * submits is attributed to it. */
  def span[A](name: String, trigger: Int, table: String)(body: => A): A = {
    val parent = Option(sc.getLocalProperty(SpanKey)).getOrElse("")
    val id = s"${ids.incrementAndGet()}"
    sc.setLocalProperty(SpanKey, id)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, parent, trigger, table, t0, System.nanoTime()))
      sc.setLocalProperty(SpanKey, if (parent.isEmpty) null else parent)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(x => Option(x.getProperty(SpanKey)))
      .foreach(workOf(_).jobs.incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(x => Option(x.getProperty(SpanKey))).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      workOf(s).stages.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val w = workOf(s)
      w.tasks.incrementAndGet()
      w.taskMaxMs.accumulateAndGet(e.taskInfo.duration, math.max)
      Option(e.taskMetrics).foreach { m =>
        w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  /** Blocks until every listener event posted so far is delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.waitUntilEmpty(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val w = workFor(s)
      Json.write(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trigger" -> s.trigger, "table" -> s.table, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> w.jobs.get, "stages" -> w.stages.get,
        "tasks" -> w.tasks.get))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON writer for flat and nested maps of numbers and strings. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite metric"); d.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => write(m.toSeq)
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
