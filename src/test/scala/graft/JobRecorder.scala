package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
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
    * is asynchronous, so the bus is drained before the recorder joins
    * it (no earlier event reaches it) and again after `body` (every
    * event of `body` has). */
  def recorded[T](spark: SparkSession)(body: => T)
      : (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    ListenerDrain(sc)
    sc.addSparkListener(rec)
    try {
      val out = body
      ListenerDrain(sc)
      (out, rec.events.asScala.toSeq)
    } finally sc.removeSparkListener(rec)
  }

  def jobs(evs: Seq[SparkListenerEvent]): Int =
    evs.count(_.isInstanceOf[SparkListenerJobStart])
}
