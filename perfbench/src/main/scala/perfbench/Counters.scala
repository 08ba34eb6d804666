package perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}
import org.apache.spark.sql.types._
import graft.config.{BucketType, GraftConfig, MsgSettings, StoreSettings}
import graft.operators.Decode
import graft.serve.StoreHttpServer
import graft.store.{GenerationStore, RecentStore}
import graft.streaming.StreamShell

/** What the two counter workloads share: the message config, the store
  * schema, trigger bookkeeping and a minimal HTTP client. */
object Counters {
  /** Key space, Zipf skew and bucket width of every counter event: the
    * generator draws with them and the engine buckets with `BucketS`. */
  val Keys = 10000
  val Skew = 1.1
  val BucketS = 20
  val Msg: MsgSettings = MsgSettings(bucketInterval = BucketS, bucketField = "ts",
    bucketType = BucketType.Epoch, msgMapSchema = Seq("key" -> "k"))
  val StoreSchema: Seq[(String, String)] = Seq("key" -> "TEXT",
    "bucket_start" -> "BIGINT", "bucket_end" -> "BIGINT", "count" -> "BIGINT")

  /** Chunks read by each trigger, matched through the source offsets. */
  def committed(ts: Seq[Trigger], chunks: Seq[Added]): Seq[(Added, Trigger)] = {
    val byOffset = chunks.map(c => c.offset -> c).toMap
    ts.flatMap(t => t.chunks.flatMap(o => byOffset.get(o.toLong)).map(_ -> t))
  }

  /** Events waiting in the source when each trigger started. */
  def backlog(ts: Seq[Trigger], chunks: Seq[Added]): Seq[Double] =
    ts.map(t => chunks.filter(c => c.offset > t.startOffset && c.addedMs <= t.startMs)
      .map(_.size.toDouble).sum)

  /** Ingest-side end-to-end metrics of a window `[t0, t1]` (epoch ms) over
    * the triggers that committed inside it: the commit rate between the
    * first and the last of those commits (so a window edge never cuts a
    * trigger in two), and the time from each event's due time to its
    * commit. */
  def ingestMetrics(ts: Seq[Trigger], chunks: Seq[Added], t0: Double,
                    t1: Double): Map[String, Double] = {
    val inWin = ts.filter(t => t.endMs >= t0 && t.endMs <= t1)
    val in = committed(inWin, chunks)
    val eps = if (inWin.length < 2) 0.0
      else committed(inWin.tail, chunks).map(_._1.size.toDouble).sum /
        ((inWin.last.endMs - inWin.head.endMs) / 1000.0)
    val fresh = in.map { case (c, t) => t.endMs - c.dueMs }
    Map("commit_per_s" -> eps, "ingest_eps" -> eps) ++
      Common.latencies("visible", fresh) ++ Common.latencies("freshness", fresh)
  }

  /** What a `RecentStore` fed by `feed` must hold once its stream has
    * stopped: SUM(count) per (key, bucket) over the generations its last
    * retention run kept. Generations `1..preloads` were appended before the
    * stream, with tallies `preload(g)`; each trigger that read data made one
    * more, from the chunks it read (matched through source offsets).
    * Returns the first kept generation and that tally, or why the store's
    * counter does not fit this history. */
  def retainedTally(store: RecentStore, query: StreamingQuery, feed: CounterFeed,
                    preloads: Int, preload: Long => Map[(String, Long), Long])
      : Either[String, (Long, Map[(String, Long), Long])] = {
    val ts = Common.triggers(query)
    val counter = store.currentRstId
    if (counter - 1 != preloads + ts.length)
      Left(s"store counter $counter after $preloads preloads and ${ts.length} triggers")
    else {
      val lastClean = counter - counter % store.cleanFreq
      val keepFrom = math.max(1L, lastClean - store.cleanInterval)
      Right(keepFrom -> Gen.sumTallies((keepFrom until counter).map { g =>
        if (g <= preloads) preload(g)
        else feed.tallyAt(ts((g - preloads - 1).toInt).chunks.map(_.toLong))
      }))
    }
  }

  def waitForTriggers(q: StreamingQuery, n: Int, timeoutMs: Long = 60000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (Common.triggers(q).length < n) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > end)
        throw new IllegalStateException(s"stream made fewer than $n triggers in ${timeoutMs}ms")
      Thread.sleep(5L)
    }
  }

  def segment(s: String): String = URLEncoder.encode(s, UTF_8).replace("+", "%20")

  /** One HTTP/1.1 connection; `get` returns (status, body, nanos). */
  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def get(path: String): (Int, Array[Byte], Long) = {
      val req = HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      val t0 = System.nanoTime()
      val r = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      (r.statusCode, r.body, System.nanoTime() - t0)
    }
  }

  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def json(b: Array[Byte]): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(mapper.readTree(b)) catch { case _: Exception => None }

  /** Rows of `(key, bucket_start, n)` JSON objects as a tally. */
  def tallyOf(node: com.fasterxml.jackson.databind.JsonNode): Map[(String, Long), Long] =
    node.elements().asScala.map { r =>
      (r.get("key").asText(), r.get("bucket_start").asLong()) -> r.get("n").asLong()
    }.toMap

  /** SUM(count) per (key, bucket_start) over everything the store holds. */
  def storeTotals(store: GenerationStore): Map[(String, Long), Long] =
    store.sql(s"SELECT key, bucket_start, SUM(count) AS n FROM ${store.tableName} " +
      "GROUP BY key, bucket_start")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** Generations and rows a `RecentStore` holds now. */
  def heldLayer(store: RecentStore): Map[String, Double] = {
    val oldest = store.selectAll.agg(org.apache.spark.sql.functions.min("rst_id")).head()
    Map("store.generations" ->
        (if (oldest.isNullAt(0)) 0.0 else (store.currentRstId - oldest.getLong(0)).toDouble),
      "store.rows" -> store.selectAll.count().toDouble)
  }

  def storeSchema: StructType = GraftConfig.schemaToStructType(StoreSchema)

  /** A tally as store rows — what `batchCounts` makes of those events. */
  def countRows(spark: SparkSession, tally: Map[(String, Long), Long]) =
    spark.createDataFrame(tally.toSeq.map { case ((k, b), n) =>
      Row(k, b, b + BucketS, n) }.asJava, storeSchema)

  /** The `operators` layer: `StreamShell.batchCounts` on one captured
    * chunk, as a plain batch, timed three times (median). */
  def operatorsLayer(spark: SparkSession, chunk: Gen.Chunk, probes: Probes): Map[String, Double] = {
    val df = spark.createDataset(chunk.events.toSeq.map(e => ("", e)))(
      Encoders.tuple(Encoders.STRING, Encoders.STRING)).toDF("key", "value")
    val runs = (0 until 3).map { _ =>
      val t0 = System.currentTimeMillis()
      val out = StreamShell.batchCounts(df, Msg)
      val keys = out.collect().length
      val t1 = System.currentTimeMillis()
      Thread.sleep(20L) // let the listener bus catch up with the run's tasks
      val shuffle = probes.tasks.asScala.filter(t => !t.stream && t.time >= t0 && t.time <= t1)
        .map(_.shuffleBytes).sum
      (t1 - t0, keys, Decode.decodeMetrics(out), shuffle)
    }
    val (_, keys, (rowsIn, dropped), shuffle) = runs.last
    Map("operators.batch_counts_ms" -> Stats.median(runs.map(_._1.toDouble)),
      "operators.rows_in" -> rowsIn.toDouble, "operators.keys_out" -> keys.toDouble,
      "operators.decode_dropped" -> dropped.toDouble,
      "operators.shuffle_bytes" -> shuffle.toDouble)
  }
}

/** `ingest_saturate`: the paper's count path with writes only.
  * `StreamShell.runWithSource` feeds a `RecentStore`; the feed keeps exactly
  * one chunk of `chunkSize` events waiting, so every trigger reads one chunk
  * and the source is never empty when a trigger starts. The store keeps
  * the last `retain` to `retain + cleanFreq - 1` generations, so its size,
  * and the cost of reading it, do not grow with the rate the engine
  * reaches. After the load, a reader fetches per-bucket totals over HTTP. */
final class IngestSaturate(spark: SparkSession, seed: Long, nproc: Int) extends Workload {
  val name = "ingest_saturate"
  private val chunkSize = 20000
  private val warmTriggers = 2
  private val reads = 10
  private val retain = 20
  private val cleanFreq = 10
  private val events = new Gen.Events(seed)

  def setUp(rep: Int): Instance = new Instance {
    private val table = s"ingest_r$rep"
    private val cfg = GraftConfig(msg = Counters.Msg, store = StoreSettings(
      tableName = table, cleanInterval = retain, cleanFreq = cleanFreq,
      schema = Counters.StoreSchema))
    private val stream = new PolledStream(spark, nproc)
    private val (store: RecentStore, query: StreamingQuery) = StreamShell.runWithSource(
      spark, cfg, stream.frame, trigger = Some(SparkTrigger.ProcessingTime(0L)))
    private val feed = new CounterFeed(stream, events, chunkSize, None).start()
    private var expected = Map.empty[(String, Long), Long]
    Counters.waitForTriggers(query, warmTriggers)

    def run(nanos: Long, tracer: Tracer, probes: Option[Probes]): Window = {
      val t0 = Common.nowMs
      Thread.sleep(nanos / 1000000L)
      val t1 = Common.nowMs
      feed.failIfBroken()
      val failed = if (query.isActive) 0L else 1L
      val all = Common.triggers(query)
      val ts = all.filter(t => t.endMs >= t0 && t.endMs <= t1)
      val chunks = feed.chunks
      val e2e = Counters.ingestMetrics(all, chunks, t0, t1)
      val layers = probes match {
        case None => Map.empty[String, Double]
        case Some(p) =>
          ts.foreach { t =>
            tracer.record("streaming.trigger", s"trigger-${t.batchId + 1}",
              Common.msToNanos(t.startMs.toDouble), Common.msToNanos(t.endMs.toDouble))
          }
          val inWin = chunks.filter(c => c.addedMs >= t0 && c.addedMs <= t1)
          Common.streamingLayer(ts, Counters.backlog(ts, chunks)) ++
            Common.sparkLayer(p, t0.toLong, t1.toLong,
              ts.map(t => (t.startMs, t.endMs)), Some(true)) ++
            Common.selfLayer(tracer, Common.msToNanos(t0), Common.msToNanos(t1), ts.length) ++
            Counters.operatorsLayer(spark, events.chunk(0L, chunkSize), p) ++
            Counters.heldLayer(store) ++
            Map("gen.events" -> inWin.map(_.size.toDouble).sum,
              "gen.late_ms" -> Stats.mean(inWin.map(c => c.addedMs - c.dueMs)))
      }
      Window(e2e, layers, ts.length.toLong, failed)
    }

    def finish(): (Boolean, String) = {
      feed.stop()
      query.processAllAvailable()
      query.stop()
      query.exception.foreach(e => return (false, s"stream failed: ${e.getMessage}"))
      Counters.retainedTally(store, query, feed, 0, _ => Map.empty) match {
        case Left(why) => (false, why)
        case Right((keepFrom, tally)) =>
          expected = tally
          val actual = Counters.storeTotals(store)
          Common.compareTally(tally, actual) match {
            case Some(m) => (false, s"store differs from the generator's tally: $m")
            case None => (true, s"${actual.size} (key, bucket) totals over generations " +
              s"$keepFrom..${store.currentRstId - 1} match the tally")
          }
      }
    }

    override def readBack(): Window = {
      val server = new StoreHttpServer(store).start()
      try {
        val client = new Counters.Client(server.port)
        val perBucket = expected.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
        val path = "/c/" + Counters.segment(
          s"SELECT bucket_start, SUM(count) AS n FROM $table GROUP BY bucket_start")
        var failed = 0L
        // One read more than measured: the first plans and compiles the
        // query cold; it is checked like the others but not timed.
        val ms = (0 to reads).map { _ =>
          val (status, body, nanos) = client.get(path)
          val got = Counters.json(body).map(_.elements().asScala.map(r =>
            r.get("bucket_start").asLong() -> r.get("n").asLong()).toMap)
          if (status != 200 || !got.contains(perBucket)) failed += 1
          nanos / 1e6
        }.tail
        Window(Common.latencies("read", ms), Map.empty, reads + 1L, failed)
      } finally server.stop()
    }

    def release(): Unit = { feed.release(); expected = Map.empty }

    def close(): Unit = { if (query.isActive) { feed.stop(); query.stop() } }
  }
}

/** `serve_mixed`: reads beside writes. `StreamShell.attach` feeds a
  * `RecentStore` preloaded to a full retention window, so retention runs in
  * steady state. Ingest is an open loop at `rate` events/s with a short
  * processing-time trigger; two closed-loop HTTP clients, one connection
  * each, cycle a fixed route mix on `StoreHttpServer`. */
object ServeMixed {
  /** One request a client made: route, client-side interval, outcome. */
  final case class Req(route: String, start: Long, end: Long, status: Int,
                       bytes: Int, ok: Boolean)

  /** The store read each route's server handler makes (`/rst` makes none). */
  val storeCall = Map("sql" -> "sql", "recent" -> "recent", "direct" -> "directFetch",
    "range" -> "selectAll", "compare" -> "selectAll")

  /** The request a server-side store read was made for: one of the client
    * requests whose interval holds the read and whose route makes that
    * call. When both clients are on such a request, the one sent last. */
  def requestOf(read: Span, reqs: Seq[(Req, Span)]): Option[Span] =
    if (!read.name.startsWith("store.read.")) None
    else {
      val call = read.name.stripPrefix("store.read.")
      reqs.filter { case (q, _) => storeCall.get(q.route).contains(call) &&
          q.start <= read.start && read.end <= q.end }
        .sortBy(-_._1.start).headOption.map(_._2)
    }
}

final class ServeMixed(spark: SparkSession, seed: Long, nproc: Int, tracer: Tracer)
    extends Workload {
  import ServeMixed.Req
  val name = "serve_mixed"
  private val rate = 4000
  private val periodMs = 50.0
  private val triggerMs = 1000L
  private val retain = 10
  private val cleanFreq = 5
  private val preloadEvents = 1000
  private val warmTriggers = 1
  private val preSpanS = 5L
  private val base = 1700000000L
  private val preEvents = new Gen.Events(seed ^ 0x5EEDL, spanS = preSpanS, base = base)
  private val liveBase = base + retain * preSpanS
  private val events = new Gen.Events(seed, spanS = 1L, base = liveBase)
  private val chunkSize = math.round(rate * periodMs / 1000.0).toInt
  private val routes = Seq("sql", "recent", "direct", "range", "compare", "rst")

  def setUp(rep: Int): Instance = new Instance {
    private val table = s"serve_r$rep"
    private val inner = new RecentStore(spark, Counters.storeSchema, tableName = table,
      cleanInterval = retain.toLong, cleanFreq = cleanFreq.toLong,
      materializeEvery = cleanFreq)
    private val store = new TracedStore(inner, tracer)
    private def preTally(g: Long) = preEvents.chunk(g - 1, preloadEvents).tally
    (1 to retain).foreach(g => inner.append(Counters.countRows(spark, preTally(g))))
    private val server = new StoreHttpServer(store).start()
    private val stream = new PolledStream(spark, nproc)
    private val query = StreamShell.attach(stream.frame, Counters.Msg, store,
      trigger = Some(SparkTrigger.ProcessingTime(triggerMs)))
    private val feed = new CounterFeed(stream, events, chunkSize, Some(periodMs)).start()
    private val reqs = new ConcurrentLinkedQueue[Req]()
    @volatile private var clientsRunning = true

    /** The newest bucket the feed has produced events for. */
    private def latestBucket: Long = {
      val c = feed.chunks.lastOption.map(_.index).getOrElse(0L)
      val ts = liveBase + c
      ts - ts % Counters.BucketS
    }

    private def clientLoop(id: Int): Unit = {
      val client = new Counters.Client(server.port)
      val r = Gen.rng(seed, 9L, id.toLong)
      var rst = 1L
      var i = id * 3
      while (clientsRunning) {
        val route = routes(i % routes.length)
        val hi = latestBucket + Counters.BucketS
        val lo = hi - 5 * Counters.BucketS
        val path = route match {
          case "sql" => "/c/" + Counters.segment(s"SELECT key, SUM(count) AS n FROM $table " +
            s"WHERE bucket_start >= $lo AND bucket_start < $hi GROUP BY key ORDER BY n DESC, key LIMIT 20")
          case "recent" => "/rv/2"
          case "direct" => s"/dv/${math.max(1L, rst - 2)}"
          case "range" =>
            val b = hi - 2 * Counters.BucketS
            s"/sr/bucket_start/$b:$b"
          case "compare" =>
            val k = events.randomKey(r)
            "/c/" + Counters.segment(
              s"""{"key": ["eq", "$k"], "bucket_start": ["range", $lo, $hi]}""") + "/EOE"
          case "rst" => "/rst"
        }
        val t0 = System.nanoTime()
        val (status, body, _) =
          try client.get(path) catch { case _: Exception => (-1, Array.emptyByteArray, 0L) }
        val t1 = System.nanoTime()
        val parsed = Counters.json(body)
        if (route == "rst") parsed.foreach(n => rst = n.asLong())
        reqs.add(Req(route, t0, t1, status, body.length, status == 200 && parsed.isDefined))
        i += 1
      }
    }

    private val clients = (0 until 2).map { id =>
      val t = new Thread(() => clientLoop(id), s"perfbench-client-$id")
      t.setDaemon(true); t.start(); t
    }
    Counters.waitForTriggers(query, warmTriggers)
    while (reqs.size < routes.length) Thread.sleep(5L)

    def run(nanos: Long, tracer: Tracer, probes: Option[Probes]): Window = {
      val t0 = Common.nowMs
      val n0 = System.nanoTime()
      Thread.sleep(nanos / 1000000L)
      val n1 = System.nanoTime()
      val t1 = Common.nowMs
      feed.failIfBroken()
      val all = Common.triggers(query)
      val ts = all.filter(t => t.endMs >= t0 && t.endMs <= t1)
      val chunks = feed.chunks
      val rs = reqs.asScala.toSeq.filter(q => q.end >= n0 && q.end <= n1)
      val ms = rs.map(q => (q.end - q.start) / 1e6)
      val qps = Stats.rate(rs.length.toDouble, n1 - n0)
      val e2e = Counters.ingestMetrics(all, chunks, t0, t1) ++
        Common.latencies("read", ms) ++ Common.latencies("query", ms) + ("query_qps" -> qps)
      val failed = rs.count(!_.ok).toLong + (if (query.isActive) 0L else 1L)
      val layers = probes match {
        case None => Map.empty[String, Double]
        case Some(p) =>
          ts.foreach { t =>
            tracer.record("streaming.trigger", s"trigger-${t.batchId + 1}",
              Common.msToNanos(t.startMs.toDouble), Common.msToNanos(t.endMs.toDouble))
          }
          val reqSpans = rs.zipWithIndex.map { case (q, i) =>
            q -> tracer.record(s"serve.${q.route}", s"req-$i", q.start, q.end)
          }
          tracer.adopt(ServeMixed.requestOf(_, reqSpans))
          val spans = tracer.all.filter(s => s.start >= n0 && s.start <= n1)
          def spanMs(name: String) = Stats.mean(spans.filter(_.name == name).map(_.nanos / 1e6))
          // A read's plan is built inside its span; the server executes it
          // afterwards, which the QueryExecutionListener times per action.
          val readPlanMs = spans.filter(_.name.startsWith("store.read.")).map(_.nanos / 1e6).sum
          val readExecMs = p.queries.asScala
            .filter(q => !q.stream && q.time >= t0 && q.time <= t1).map(_.execMs).sum
          def routeMs(r: String) = Stats.mean(rs.filter(_.route == r).map(q => (q.end - q.start) / 1e6))
          val inWin = chunks.filter(c => c.addedMs >= t0 && c.addedMs <= t1)
          val reqUnits = rs.map(q => (Common.nowMsOf(q.start).toLong, Common.nowMsOf(q.end).toLong))
          Common.streamingLayer(ts, Counters.backlog(ts, chunks)) ++
            Common.sparkLayer(p, t0.toLong, t1.toLong, ts.map(t => (t.startMs, t.endMs)), Some(true)) ++
            Common.sparkLayer(p, t0.toLong, t1.toLong, reqUnits, Some(false))
              .map { case (k, v) => k.replace("spark.", "spark.request.") -> v } ++
            Common.selfLayer(tracer, n0, n1, ts.length + rs.length) ++
            Counters.heldLayer(inner) ++
            Map("serve.sql_ms" -> routeMs("sql"), "serve.recent_ms" -> routeMs("recent"),
              "serve.direct_ms" -> routeMs("direct"), "serve.range_ms" -> routeMs("range"),
              "serve.compare_ms" -> routeMs("compare"), "serve.rst_ms" -> routeMs("rst"),
              "serve.response_bytes" -> Stats.mean(rs.map(_.bytes.toDouble)),
              "serve.non200" -> rs.count(_.status != 200).toDouble,
              "store.append_ms" -> spanMs("store.append"), "store.clean_ms" -> spanMs("store.clean"),
              "store.read_ms" -> (readPlanMs + readExecMs) / math.max(1, rs.length),
              "gen.events" -> inWin.map(_.size.toDouble).sum,
              "gen.late_ms" -> Stats.mean(inWin.map(c => c.addedMs - c.dueMs)))
      }
      Window(e2e, layers, (ts.length + rs.length).toLong, failed)
    }

    def finish(): (Boolean, String) = {
      clientsRunning = false
      clients.foreach(_.join(30000L))
      feed.stop()
      query.processAllAvailable()
      query.stop()
      query.exception.foreach(e => return (false, s"stream failed: ${e.getMessage}"))
      val bad = reqs.asScala.filterNot(_.ok)
      if (bad.nonEmpty)
        return (false, s"${bad.size} responses were not a 200 with valid JSON (first: ${bad.head})")
      val (keepFrom, expected) = Counters.retainedTally(inner, query, feed, retain, preTally) match {
        case Left(why) => return (false, why)
        case Right(r) => r
      }
      val client = new Counters.Client(server.port)
      val (status, body, _) = client.get("/c/" + Counters.segment(
        s"SELECT key, bucket_start, SUM(count) AS n FROM $table GROUP BY key, bucket_start"))
      val actual = Counters.json(body).filter(_ => status == 200).map(Counters.tallyOf)
      actual match {
        case None => (false, s"final /c/ read failed with status $status")
        case Some(a) => Common.compareTally(expected, a) match {
          case Some(m) => (false, s"/c/ totals differ from the generator's tally: $m")
          case None => (true, s"${reqs.size} responses valid; /c/ totals over generations " +
            s"$keepFrom..${inner.currentRstId - 1} match the tally")
        }
      }
    }

    def release(): Unit = { reqs.clear(); feed.release() }

    def close(): Unit = {
      clientsRunning = false
      clients.foreach(_.join(30000L))
      if (query.isActive) { feed.stop(); query.stop() }
      server.stop()
    }
  }
}
