package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one tag (one public call, or set-up). */
final class Agg {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, peakExecB = 0L
  /** (start, end) epoch ms of each finished job. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** One planned action seen by the QueryExecutionListener: the epoch ms at
  * which planning ended, and analysis + optimization + planning seconds.
  */
final case class PlanEvent(atMs: Long, planS: Double)

/** Outside-in instrumentation: a SparkListener that sums task metrics per
  * tag, and a QueryExecutionListener that records Catalyst planning time.
  *
  * The client tags the Spark jobs of each public call by setting the local
  * property [[Recorder.TagKey]] around it (see [[Recorder.tagged]]); local
  * properties ride along with the jobs and change no plan. Every callback
  * runs on Spark's listener-bus thread; [[flush]] waits until the bus has
  * delivered every event posted before it, after which the maps are read
  * from the client thread.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val aggs = mutable.HashMap.empty[String, Agg]
  private val plans = mutable.ArrayBuffer.empty[PlanEvent]
  private var flushLatch: Option[(String, CountDownLatch)] = None
  /** Nanoseconds spent inside this recorder's callbacks. */
  private var selfNs = 0L

  private def timedCb(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    selfNs += System.nanoTime() - t0
  }

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(Recorder.TagKey)))

  private def agg(tag: String): Agg = aggs.getOrElseUpdate(tag, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = timedCb {
    tagOf(e.properties).foreach { t =>
      jobStart(e.jobId) = (t, e.time)
      agg(t).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCb {
    jobStart.remove(e.jobId).foreach { case (t, start) =>
      agg(t).jobIntervals += ((start, e.time))
      flushLatch.foreach { case (ft, latch) => if (ft == t) latch.countDown() }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timedCb {
    tagOf(e.properties).foreach { t =>
      stageTag(e.stageInfo.stageId) = t
      agg(t).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCb {
    stageTag.get(e.stageId).foreach { t =>
      val a = agg(t)
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecB = math.max(a.peakExecB, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timedCb {
      val phases = qe.tracker.phases
      if (phases.nonEmpty)
        plans += PlanEvent(phases.values.map(_.endTimeMs).max,
          phases.values.map(_.durationMs).sum / 1e3)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Blocks until every event posted before this call has been delivered:
    * runs one tiny tagged job and waits for its end event, which the bus
    * delivers after all earlier events.
    */
  def flush(sc: SparkContext): Unit = {
    val tag = s"flush-${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    synchronized { flushLatch = Some((tag, latch)) }
    Recorder.tagged(sc, tag)(sc.parallelize(Seq(1), 1).count())
    require(latch.await(120, TimeUnit.SECONDS), "listener bus did not drain")
    synchronized { flushLatch = None; aggs.remove(tag) }
  }

  /** Work recorded under `tag` (read after [[flush]]). */
  def get(tag: String): Agg = synchronized(aggs.getOrElse(tag, new Agg))

  /** Planning events whose planning ended inside [fromMs, toMs]. */
  def plansIn(fromMs: Long, toMs: Long): Seq[PlanEvent] =
    synchronized(plans.filter(p => p.atMs >= fromMs && p.atMs <= toMs).toList)

  def callbackSeconds: Double = synchronized(selfNs / 1e9)

  private var planningOn = false

  /** Registers or unregisters the planning (QueryExecutionListener) half.
    * Before unregistering it waits for the events already posted, so that
    * none of the planning events of the calls made so far are lost.
    */
  def planning(spark: SparkSession, on: Boolean): Unit =
    if (on != planningOn) {
      if (on) spark.listenerManager.register(this)
      else {
        flush(spark.sparkContext)
        spark.listenerManager.unregister(this)
      }
      planningOn = on
    }
}

object Recorder {
  val TagKey = "perfbench.tag"

  def attach(spark: SparkSession, withPlanning: Boolean): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    r.planning(spark, withPlanning)
    r
  }

  def detach(spark: SparkSession, r: Recorder): Unit = {
    r.planning(spark, on = false) // flushes through r, so before removing it
    spark.sparkContext.removeSparkListener(r)
  }

  /** Runs `f` with its Spark jobs tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, null)
  }
}
