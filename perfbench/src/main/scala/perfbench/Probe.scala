package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished (or failed) Catalyst query execution reported by a session. */
final case class QeEvent(qe: QueryExecution)

/** Collects listener events in the order the listener bus delivers them.
  *
  * It is one `SparkListener` (jobs, stages, tasks and, through
  * `onOtherEvent`, the streaming progress of every session) plus a
  * `QueryExecutionListener` on the benchmark's own session. Both run on the
  * bus's shared queue, so their events arrive interleaved in posting order.
  *
  * Events are cut into per-query batches without sleeping: after a query the
  * benchmark runs a one-task fence job with its own tag, and [[drainThrough]]
  * returns once the fence job's end has been delivered. Everything posted
  * before the fence job started has been delivered by then.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val events = mutable.ArrayBuffer.empty[AnyRef]
  private val jobTags = mutable.Map.empty[Int, Set[String]]
  private val fenceEnds = mutable.Map.empty[String, Int] // fence tag -> index in events

  private def add(e: AnyRef): Unit = lock.synchronized {
    events += e
    lock.notifyAll()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Probe.tagsOf(e)
    lock.synchronized(jobTags(e.jobId) = tags)
    add(e)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    add(e)
    jobTags.getOrElse(e.jobId, Set.empty).filter(_.startsWith(Probe.FencePrefix))
      .foreach(t => fenceEnds(t) = events.size)
    lock.notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add(e)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.Event => add(s)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(QeEvent(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(QeEvent(qe))

  /** Runs a one-task job tagged `fence` and returns every event delivered up
    * to and including its end, removing them from the buffer.
    */
  def drainThrough(sc: SparkContext, fence: String, timeoutMs: Long): Seq[AnyRef] = {
    require(fence.startsWith(Probe.FencePrefix))
    sc.addJobTag(fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(fence)
    lock.synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!fenceEnds.contains(fence)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"listener bus did not deliver $fence")
        lock.wait(left)
      }
      val n = fenceEnds.remove(fence).get
      val out = events.take(n).toSeq
      events.remove(0, n)
      fenceEnds.keys.toSeq.foreach(k => fenceEnds(k) -= n)
      out
    }
  }

  /** Waits until `pred` holds for some event delivered after the last
    * drain, and returns (and removes) the events delivered so far.
    */
  def awaitEvent(timeoutMs: Long)(pred: AnyRef => Boolean): Option[Seq[AnyRef]] =
    lock.synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!events.exists(pred) && System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (!events.exists(pred)) None
      else {
        val out = events.toSeq
        events.clear()
        fenceEnds.clear()
        Some(out)
      }
    }
}

object Probe {
  val FencePrefix = "perfbench-fence-"

  def tagsOf(e: SparkListenerJobStart): Set[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
}
