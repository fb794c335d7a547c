package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** The Spark work that completed while one span was open. */
final case class Work(
    jobs: Seq[(Long, Long)], stages: Int, tasks: Long, cpuS: Double,
    shuffleBytes: Long, spillBytes: Long, exchanges: Int,
    reusedExchanges: Int)

/** Collects job intervals, completed-stage task metrics and the exchange
  * census of every executed plan. Registered only while a traced
  * operation runs; `take` hands over what arrived since the last call. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val jobStart = collection.mutable.Map[Int, Long]()
  private val jobs = ArrayBuffer[(Long, Long)]()
  private var stages, exchanges, reused = 0
  private var tasks, shuffle, spill = 0L
  private var cpuNs = 0L

  def on(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def off(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  def take(): Work = synchronized {
    val w = Work(jobs.toList, stages, tasks, cpuNs / 1e9, shuffle, spill,
      exchanges, reused)
    jobs.clear(); stages = 0; tasks = 0; cpuNs = 0; shuffle = 0; spill = 0
    exchanges = 0; reused = 0
    w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stages += 1
      tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime
        shuffle += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val ex = collectWithSubqueries(plan) { case x: Exchange => x }.size
    val re = collectWithSubqueries(plan) { case x: ReusedExchangeExec => x }.size
    synchronized { exchanges += ex; reused += re }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
