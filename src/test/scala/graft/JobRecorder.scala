package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the Spark jobs and SQL executions a block of driver code
  * causes. */
object JobRecorder {

  private final class Recorder extends SparkListener {
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => events.add(s)
      case _ =>
    }
  }

  /** Runs `body` and returns its result with the events it caused: the
    * jobs it submitted and the SQL executions it ran. Listener delivery
    * is asynchronous but ordered, so two marker jobs bracket `body`. */
  def recorded[T](spark: SparkSession)(body: => T)
      : (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    def isMarker(tag: String)(e: SparkListenerEvent): Boolean = e match {
      case j: SparkListenerJobStart =>
        j.properties.getProperty("spark.job.description") == tag
      case _ => false
    }
    sc.addSparkListener(rec)
    try {
      marker("recorded-begin")
      val out = body
      marker("recorded-end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!rec.events.asScala.exists(isMarker("recorded-end")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val evs = rec.events.asScala.toSeq
        .dropWhile(!isMarker("recorded-begin")(_)).drop(1)
        .takeWhile(!isMarker("recorded-end")(_))
      assert(rec.events.asScala.exists(isMarker("recorded-end")),
        "listener never saw the closing marker job")
      (out, evs)
    } finally sc.removeSparkListener(rec)
  }

  def jobs(evs: Seq[SparkListenerEvent]): Int =
    evs.count(_.isInstanceOf[SparkListenerJobStart])
}
