package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** What one measured window produced. `e2e` holds the end-to-end metrics
  * (the ones BENCHMARK.json gates, plus the workload's own names); `layers`
  * the per-layer metrics, filled only when the window was traced. */
final case class Window(e2e: Map[String, Double], layers: Map[String, Double],
                        attempted: Long, failed: Long)

/** A set-up workload, ready to put load on the engine. */
trait Instance {
  /** Put load on the engine for `nanos` and measure it. */
  def run(nanos: Long, tracer: Tracer, probes: Option[Probes]): Window
  /** Stop the load, let the engine drain, and check its outputs against the
    * generator's own tally. Returns the verdict with a one-line reason. */
  def finish(): (Boolean, String)
  /** Reads after the load stopped, if the workload has them. */
  def readBack(): Window = Window(Map.empty, Map.empty, 0L, 0L)
  /** Drop the harness's own state (logs of what was fed, fetched or
    * requested) once the gate and the read-back are done, leaving the
    * program's stores open. */
  def release(): Unit
  def close(): Unit
}

trait Workload {
  def name: String
  def setUp(rep: Int): Instance
}

/** One finished micro-batch, from the stream's own progress record. */
final case class Trigger(batchId: Long, startMs: Long, endMs: Long,
                         rows: Long, startOffset: Long, endOffset: Long,
                         durations: Map[String, Long]) {
  def chunks: Range.Inclusive = (startOffset + 1L).toInt to endOffset.toInt
}

object Common {

  /** Every finished micro-batch that read data, oldest first. The session
    * keeps enough progress records (`numRecentProgressUpdates`) for a run. */
  def triggers(q: StreamingQuery): Seq[Trigger] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(trigger)
      .sortBy(_.batchId)

  private def trigger(p: StreamingQueryProgress): Trigger = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val src = p.sources.head
    // MemoryStream offsets are plain numbers; other sources' are JSON.
    def off(s: String): Long = scala.util.Try(s.trim.toLong).getOrElse(-1L)
    Trigger(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, off(src.startOffset), off(src.endOffset), d)
  }

  /** Epoch milliseconds with sub-millisecond resolution, on the monotonic
    * clock: stream progress stamps are epoch ms, generator stamps use this. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
  def msToNanos(ms: Double): Long = nanoBase + ((ms - epochBase) * 1e6).toLong
  def nowMsOf(nanos: Long): Double = epochBase + (nanos - nanoBase) / 1e6

  def sleepUntilMs(t: Double): Unit = {
    var left = t - nowMs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong.min(5000000L))
      left = t - nowMs
    }
  }

  def freshDir(parent: Path, name: String): Path = {
    val d = parent.resolve(name)
    if (Files.exists(d)) deleteTree(d)
    Files.createDirectories(d)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Latency summary as `<prefix>_p50_ms`, `_p90_ms`, `_p99_ms`, `_mean_ms`
    * and `_samples`. */
  def latencies(prefix: String, ms: Seq[Double]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else Map(s"${prefix}_p50_ms" -> Stats.percentile(ms, 50),
      s"${prefix}_p90_ms" -> Stats.percentile(ms, 90),
      s"${prefix}_p99_ms" -> Stats.percentile(ms, 99),
      s"${prefix}_mean_ms" -> Stats.mean(ms),
      s"${prefix}_samples" -> ms.length.toDouble)

  /** The `streaming.*` layer over the triggers of a window. */
  def streamingLayer(ts: Seq[Trigger], backlog: Seq[Double]): Map[String, Double] = {
    def avg(k: String) = Stats.mean(ts.map(_.durations.getOrElse(k, 0L).toDouble))
    Map(
      "streaming.trigger_ms" -> avg("triggerExecution"),
      "streaming.planning_ms" -> avg("queryPlanning"),
      "streaming.add_batch_ms" -> avg("addBatch"),
      "streaming.wal_commit_ms" -> avg("walCommit"),
      "streaming.offsets_ms" -> (avg("latestOffset") + avg("commitOffsets")),
      "streaming.rows_per_trigger" -> Stats.mean(ts.map(_.rows.toDouble)),
      "streaming.backlog_events" -> Stats.mean(backlog))
  }

  /** The `spark.*` layer: engine counters of the window, per unit of work
    * (trigger, request or cycle). `units` are (start, end) epoch-ms
    * intervals of one class; `stream` picks the jobs of that class. */
  def sparkLayer(p: Probes, t0: Long, t1: Long, units: Seq[(Long, Long)],
                 stream: Option[Boolean]): Map[String, Double] = {
    val n = math.max(1, units.length).toDouble
    def pick(s: Boolean) = stream.forall(_ == s)
    val qs = p.queries.asScala.filter(q => q.time >= t0 && q.time <= t1 && pick(q.stream))
    val js = p.jobs.asScala.filter(j => j.start >= t0 && j.end <= t1 && pick(j.stream))
    val tk = p.tasks.asScala.filter(t => t.time >= t0 && t.time <= t1 && pick(t.stream))
    val jobIv = js.map(j => (j.start, j.end)).toSeq
    Map(
      "spark.analysis_ms" -> qs.map(_.analysisMs).sum / n,
      "spark.optimization_ms" -> qs.map(_.optimizationMs).sum / n,
      "spark.planning_ms" -> qs.map(_.planningMs).sum / n,
      "spark.jobs" -> js.size / n,
      "spark.tasks" -> tk.size / n,
      "spark.driver_gap_ms" ->
        Stats.mean(units.map(u => Probes.driverGapMs(u, jobIv).toDouble)),
      "spark.executor_run_ms" -> tk.map(_.runMs).sum / n,
      "spark.shuffle_write_bytes" -> tk.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes" -> tk.map(_.spillBytes).sum / n,
      "spark.gc_ms" -> tk.map(_.gcMs).sum / n)
  }

  /** Self time per layer (the span-name prefix before the first dot), per
    * unit of work, from the spans that started inside the window. */
  def selfLayer(tracer: Tracer, n0: Long, n1: Long, units: Int): Map[String, Double] = {
    val spans = tracer.all.filter(s => s.start >= n0 && s.start <= n1)
    Tracer.selfNanos(spans).groupBy(_._1.takeWhile(_ != '.')).map {
      case (layer, m) => s"self.${layer}_ms" -> m.values.sum / 1e6 / math.max(1, units)
    }
  }

  /** The host's CPU time counters (`/proc/stat`, all CPUs): total and
    * stolen ticks. None where the file does not exist. */
  def hostCpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, f(7))
    }.toOption

  /** Share of the CPU time between two readings that the hypervisor gave to
    * other guests, in percent: when it is high, every timing of the run is
    * slow for reasons outside the program. */
  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((t0, s0) <- a; (t1, s1) <- b if t1 > t0) yield (s1 - s0) * 100.0 / (t1 - t0)

  /** Live heap: the least heap in use after each of three full GCs, so a
    * block the engine frees asynchronously (unpersist, context cleaning)
    * does not count by chance of timing. */
  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(150L)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** A key/bucket tally compared with rows read back from the store:
    * returns the first mismatch, if any. */
  def compareTally(expected: Map[(String, Long), Long],
                   actual: Map[(String, Long), Long]): Option[String] =
    (expected.keySet ++ actual.keySet).iterator
      .map(k => (k, expected.getOrElse(k, 0L), actual.getOrElse(k, 0L)))
      .find { case (_, e, a) => e != a }
      .map { case ((k, b), e, a) => s"key $k bucket $b: expected $e, store has $a" }
}
