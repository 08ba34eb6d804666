package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}

/** The in-process source standing in for Kafka: a MemoryStream of
  * (key, value) rows that also remembers the newest offset a trigger has
  * planned, so a saturating feed can top it up the moment a chunk is
  * taken. */
final class PolledStream(spark: SparkSession, partitions: Int)
    extends MemoryStream[(String, String)](
      PolledStream.ids.getAndIncrement(), spark, Some(partitions))(
      Encoders.tuple(Encoders.STRING, Encoders.STRING)) {
  @volatile var planned: Long = -1L
  private def note(o: OffsetV2): OffsetV2 = {
    o match { case l: LongOffset => planned = math.max(planned, l.offset); case _ => () }
    o
  }
  override def latestOffset(): OffsetV2 = note(super.latestOffset())
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    note(super.latestOffset(start, limit))
  def frame: DataFrame = toDF().toDF("key", "value")
}

object PolledStream {
  /** Source ids, clear of the ones MemoryStream hands out itself. */
  val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
}

/** One chunk handed to the source: its source offset, its index in the
  * generator's sequence (its events and tally are `Gen.Events.chunk` of
  * that index), when it was due and when it was actually added. */
final case class Added(offset: Long, index: Long, dueMs: Double, addedMs: Double, size: Int)

/** The generator thread. `periodMs = None` saturates: a new chunk is added
  * as soon as a trigger has planned the previous one, so every trigger
  * reads exactly one chunk and the source is never empty when a trigger
  * starts. `periodMs = Some(p)` is an open loop: chunk `i` is due at
  * `start + i * p` whatever the engine is doing. The feed keeps no tallies:
  * a chunk's tally is regenerated from its index when the gate needs it. */
final class CounterFeed(stream: PolledStream, val events: Gen.Events, val chunkSize: Int,
                        periodMs: Option[Double]) {
  private val added = new ConcurrentLinkedQueue[Added]()
  @volatile private var running = true
  @volatile private var error: Throwable = null
  private var next = 0L

  private val thread = new Thread(() => {
    try loop() catch { case e: Throwable => error = e }
  }, "perfbench-feed")
  thread.setDaemon(true)

  private def loop(): Unit = {
    val start = Common.nowMs
    var chunk = events.chunk(next, chunkSize)
    var lastOffset = -1L
    while (running) {
      val due = periodMs match {
        case Some(p) =>
          val d = start + next * p
          Common.sleepUntilMs(d); d
        case None =>
          while (running && stream.planned < lastOffset)
            java.util.concurrent.locks.LockSupport.parkNanos(100000L)
          Common.nowMs
      }
      if (running) {
        lastOffset = stream.addData(chunk.events.toSeq.map(e => ("", e)))
          .asInstanceOf[LongOffset].offset
        added.add(Added(lastOffset, next, due, Common.nowMs, chunk.size))
        next += 1
        chunk = events.chunk(next, chunkSize)
      }
    }
  }

  def start(): this.type = { thread.start(); this }
  def stop(): Unit = { running = false; thread.join(10000L); failIfBroken() }
  def failIfBroken(): Unit =
    if (error != null) throw new IllegalStateException("generator failed", error)

  def chunks: Seq[Added] = added.asScala.toSeq.sortBy(_.offset)
  /** The generator's tally of the chunks added at these source offsets. */
  def tallyAt(offsets: Seq[Long]): Map[(String, Long), Long] = {
    val byOffset = chunks.map(c => c.offset -> c.index).toMap
    Gen.sumTallies(offsets.map(o => events.chunk(byOffset(o), chunkSize).tally))
  }
  /** Forget the chunk log (after the gate), so it is not counted as heap. */
  def release(): Unit = added.clear()
}
