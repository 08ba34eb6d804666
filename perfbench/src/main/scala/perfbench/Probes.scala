package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-level counters gathered from outside the program: a SparkListener
  * (jobs, tasks, shuffle, spill, GC) and a QueryExecutionListener (Catalyst
  * phase times from `QueryExecution.tracker`, and each action's duration). Jobs and queries are tagged
  * as streaming when they run for a streaming query (the stream runs on a
  * cloned session and marks its jobs with the query id). Registered only
  * for a traced run. */
final class Probes(spark: SparkSession) {
  import Probes._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val queries = new ConcurrentLinkedQueue[Query]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Boolean)]()
  private val stageStream = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val stream = Option(e.properties)
        .exists(p => p.getProperty("sql.streaming.queryId") != null)
      openJobs.put(e.jobId, (e.time, stream))
      e.stageIds.foreach(s => stageStream.put(s, stream))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (t0, stream) =>
        jobs.add(Job(t0, e.time, stream))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.taskInfo.finishTime,
          stageStream.getOrDefault(e.stageId, false),
          m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(qe, 0L)
    private def add(qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      queries.add(Query(System.currentTimeMillis(), qe.sparkSession ne spark,
        ms("analysis"), ms("optimization"), ms("planning"), durationNs / 1e6))
    }
  }

  def start(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    this
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Probes {
  final case class Job(start: Long, end: Long, stream: Boolean)
  final case class Task(time: Long, stream: Boolean, runMs: Long,
                        shuffleBytes: Long, spillBytes: Long, gcMs: Long)
  /** One finished Dataset action; `execMs` is the action's own duration. */
  final case class Query(time: Long, stream: Boolean, analysisMs: Double,
                         optimizationMs: Double, planningMs: Double, execMs: Double)

  /** Driver-side time of a unit of work: its wall interval minus the part
    * covered by Spark jobs. */
  def driverGapMs(unit: (Long, Long), jobs: Seq[(Long, Long)]): Long = {
    val (s, e) = unit
    val clipped = jobs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }
    (e - s) - Tracer.union(clipped)
  }
}
