package graphbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around calls into the graph database's layers, with the Spark
  * work each one caused. A span sets a local property on the calling
  * thread; every job started under it carries the property, so the
  * listener attributes that job's stages and tasks to the innermost open
  * span. Spans stay in memory and are aggregated when the run ends.
  *
  * `Tracer.off` runs the wrapped calls with no listener and no property,
  * which is how every untraced measurement is taken. */
trait Tracer {
  def span[A](name: String)(f: => A): A
}

object Tracer {
  val off: Tracer = new Tracer {
    def span[A](name: String)(f: => A): A = f
  }
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    var endNs: Long = 0L)

/** Spark work counted for one span (its own jobs only, not its children's). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
  }
}

final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val work = mutable.Map.empty[Long, Work]

  private def of(span: Long): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(LiveTracer.Key))).map(_.toLong).getOrElse(0L)
    of(span).jobs += 1
    e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, 0L))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.taskNs += m.executorRunTime * 1000000L
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def workOf(span: Long): Work = synchronized(work.getOrElse(span, new Work))
}

/** One traced run: the spans it opened and the listener counting their
  * Spark work. Span 0 is the root; work outside any span lands there. */
final class LiveTracer(sc: SparkContext) extends Tracer {
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1L

  def span[A](name: String)(f: => A): A = {
    val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(0L),
      System.nanoTime())
    nextId += 1
    spans += s
    open = s :: open
    sc.setLocalProperty(LiveTracer.Key, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(LiveTracer.Key,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Closed spans with their inclusive work (own plus descendants') and
    * their self time. Drains the listener bus first. */
  def finish(): Seq[SpanStats] = {
    org.apache.spark.graphbench.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    val children = spans.groupBy(_.parent)
    val cores = sc.defaultParallelism
    def inclusive(s: Span): Work = {
      val w = new Work
      w.add(listener.workOf(s.id))
      children.getOrElse(s.id, Nil).foreach(c => w.add(inclusive(c)))
      w
    }
    spans.toSeq.map { s =>
      val wall = (s.endNs - s.startNs) / 1e9
      // children run one after another on one thread, so the part
      // of this span they cover is the sum of their walls
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (c.endNs - c.startNs) / 1e9).sum
      SpanStats(s, wall, wall - covered, inclusive(s), cores)
    }
  }
}

object LiveTracer {
  val Key = "graphbench.span"
}

final case class SpanStats(span: Span, wallS: Double, selfS: Double,
    work: Work, cores: Int) {
  def taskS: Double = work.taskNs / 1e9
  def busyShare: Double = if (wallS > 0) taskS / (wallS * cores) else 0.0
  def toJson: Map[String, Any] = Map(
    "id" -> span.id, "name" -> span.name, "parent" -> span.parent,
    "start_ns" -> span.startNs, "end_ns" -> span.endNs,
    "wall_s" -> wallS, "self_s" -> selfS, "jobs" -> work.jobs,
    "tasks" -> work.tasks, "task_s" -> taskS,
    "shuffle_read_bytes" -> work.shuffleRead,
    "shuffle_write_bytes" -> work.shuffleWrite, "busy_share" -> busyShare)
}
