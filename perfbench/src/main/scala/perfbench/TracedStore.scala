package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.{GenerationStore, RecentStore}

/** A delegating [[GenerationStore]] that times every call into the store
  * layer.
  *
  * A streaming append first materialises the trigger's batch exactly as the
  * trait's default `appendStreaming` does (`localCheckpoint(eager = true)`,
  * which runs the decode, bucketing and aggregation of `batchCounts`), in an
  * `operators.materialize` span; only the append of the materialised frame
  * is a `store.append` span — or `store.clean` when the store's own
  * retention runs inside it (every `cleanFreq`-th generation). Appends are
  * numbered so their spans share the id of the stream trigger that made
  * them.
  *
  * Reads return lazy DataFrames: a `store.read.<method>` span covers only
  * building the plan, and the caller (the HTTP server) executes it after
  * the span has closed. The server runs requests on its own pool, so a read
  * span cannot know its request; it gets a provisional id, and the workload
  * re-assigns it to the client request it lies in ([[ServeMixed]]). */
final class TracedStore(val inner: RecentStore, tracer: Tracer) extends GenerationStore {
  private val appends = new AtomicLong(0L)
  private val reads = new AtomicLong(0L)

  def spark: SparkSession = inner.spark
  def tableName: String = inner.tableName

  private def read[T](method: String)(body: => T): T =
    tracer.span(s"store.read.$method", s"read-${reads.incrementAndGet()}")(body)

  private def timedAppend(n: Long)(body: => Unit): Unit = {
    val cleans = (inner.currentRstId + 1) % inner.cleanFreq == 0
    tracer.span(if (cleans) "store.clean" else "store.append", s"trigger-$n")(body)
  }

  def selectAll: DataFrame = read("selectAll")(inner.selectAll)
  def sql(query: String): DataFrame = read("sql")(inner.sql(query))
  def currentRstId: Long = inner.currentRstId
  def maxRstId: Option[Long] = read("maxRstId")(inner.maxRstId)
  def recent(n: Long): DataFrame = read("recent")(inner.recent(n))
  def directFetch(rstId: Long): DataFrame = read("directFetch")(inner.directFetch(rstId))
  def getOnwards(rstId: Long): DataFrame = read("getOnwards")(inner.getOnwards(rstId))
  def reset(): this.type = { inner.reset(); this }
  def append(batch: DataFrame): this.type = {
    timedAppend(appends.incrementAndGet())(inner.append(batch)); this
  }
  override def appendStreaming(batch: DataFrame): this.type = {
    val n = appends.incrementAndGet()
    val pinned = tracer.span("operators.materialize", s"trigger-$n")(
      batch.localCheckpoint(eager = true))
    timedAppend(n)(inner.append(pinned))
    this
  }
  def clean(interval: Long = -1L): this.type =
    { tracer.span("store.clean", "clean")(inner.clean(interval)); this }
}
