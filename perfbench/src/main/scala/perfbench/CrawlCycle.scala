package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, md5}
import org.apache.spark.sql.streaming.{Trigger => SparkTrigger}
import graft.operators.Recrawl
import graft.streaming.CrawlIngest

/** `crawl_cycle`: the crawl chain as a closed loop of cycles. Each cycle
  * drops the cycle's `.warc.gz` files into the folder `CrawlIngest.attach`
  * watches, waits until their documents are committed to the durable docs
  * `ParquetStore`, folds the fetch outcomes (URL, virtual fetch time, text
  * digest) into a collapse-managed `Recrawl.statsStore` with
  * `Recrawl.updateStats`, and plans the next cycle's frontier with
  * `Recrawl.dueFrontier`. The frontier is topped up to `perCycle` URLs
  * from a round-robin over the URL set, so every cycle fetches the same
  * number of pages. */
final class CrawlCycle(spark: SparkSession, seed: Long, workDir: Path, tracer: Tracer)
    extends Workload {
  import CrawlCycle.Cycle
  val name = "crawl_cycle"
  private val perCycle = 192
  private val warmCycles = 1
  private val triggerMs = 50L
  private val collapseEvery = 8L
  private val gen = new Gen.Crawl(seed)
  private val base = 1704067200L * 1000000L
  private val stepUs = 6L * 3600L * 1000000L
  private def nowUs(cycle: Long): Long = base + cycle * stepUs

  def setUp(rep: Int): Instance = new Instance {
    private val dir = Common.freshDir(workDir, s"crawl_r$rep")
    private val dropDir = Files.createDirectories(dir.resolve("drop"))
    private val docs = CrawlIngest.docStore(spark, dir.resolve("docs").toString,
      tableName = s"crawl_docs_r$rep")
    private val stats = Recrawl.statsStore(spark, dir.resolve("stats").toString,
      tableName = s"recrawl_stats_r$rep", collapseEvery = collapseEvery)
    private val query = CrawlIngest.attach(spark, dropDir.toString, docs,
      dir.resolve("ckpt").toString, trigger = SparkTrigger.ProcessingTime(triggerMs))
    private val cycles = mutable.ArrayBuffer.empty[Cycle]
    private val fetches = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    private var frontier: Seq[Int] = 0 until perCycle
    private var ring = perCycle
    private var lastDrop: Gen.CrawlDrop = null
    @volatile private var broken: String = null

    private def urlIndex(u: String): Int = u.substring(u.lastIndexOf('/') + 1).toInt

    /** Wait until the drop's documents, and no more, are committed in the
      * docs-store generations from `from` on. */
    private def awaitDocs(from: Long, expected: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var seen = from
      var n = 0L
      while (n < expected) {
        query.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"documents of one cycle not committed within 60 s ($n of $expected)")
        val now = docs.currentRstId
        if (now != seen) { seen = now; n = docs.getOnwards(from).count() }
        else Thread.sleep(1L)
      }
      if (n != expected)
        throw new IllegalStateException(s"cycle committed $n documents, dropped $expected valid records")
    }

    private def cycle(): Unit = {
      val c = cycles.length.toLong
      val drop = gen.drop(c, frontier)
      val trace = s"cycle-$c"
      val from = docs.currentRstId
      val start = System.nanoTime()
      tracer.span("crawl.cycle", trace) {
        tracer.span("crawl.drop", trace) {
          drop.files.foreach { f =>
            val tmp = dropDir.resolve("." + f.name + ".tmp")
            Files.write(tmp, f.bytes)
            Files.move(tmp, dropDir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
          }
        }
        tracer.span("crawl.ingest_wait", trace)(awaitDocs(from, drop.validRecords))
        val foldStart = System.nanoTime()
        val gensBefore = stats.generations.length
        tracer.span("operators.recrawl_fold", trace) {
          val batch = docs.getOnwards(from).select(col("url"),
            lit(nowUs(c)).as("fetch_us"), md5(col("text")).as("digest"))
          Recrawl.updateStats(stats, Recrawl.batchStats(batch), batchId = c, scope = "perfbench")
        }
        val committed = System.nanoTime()
        val collapsed = stats.generations.length < gensBefore
        drop.fetched.foreach { case (u, v) => fetches.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v }
        val planned = tracer.span("crawl.plan", trace) {
          Recrawl.dueFrontier(Recrawl.ratesFromStats(stats), nowUs(c + 1))
            .select("url", "overdue_us").collect()
            .map(r => (r.getString(0), r.getLong(1)))
            .sortBy { case (u, o) => (-o, u) }.map(p => urlIndex(p._1)).take(perCycle).toSeq
        }
        val topUp = Iterator.continually { val i = ring % gen.urls; ring += 1; i }
          .filterNot(planned.contains).take(perCycle - planned.length).toSeq
        frontier = planned ++ topUp
        lastDrop = drop
        cycles += Cycle(start, foldStart, committed, System.nanoTime(),
          drop.validRecords, collapsed)
      }
    }

    (0 until warmCycles).foreach(_ => cycle())

    def run(nanos: Long, tracer: Tracer, probes: Option[Probes]): Window = {
      val n0 = System.nanoTime()
      val t0 = Common.nowMs
      val bytes0 = Common.treeBytes(dir.resolve("docs")) + Common.treeBytes(dir.resolve("stats"))
      val first = cycles.length
      var failed = 0L
      try while (System.nanoTime() - n0 < nanos) cycle()
      catch { case e: Exception => failed = 1L; broken = e.getMessage }
      val n1 = System.nanoTime()
      val t1 = Common.nowMs
      val cs = cycles.drop(first).toSeq
      val window = cs.lastOption.map(_.end).getOrElse(n1) - n0
      val docsPerS = Stats.rate(cs.map(_.docs.toDouble).sum, math.max(1L, window))
      val visible = cs.map(c => (c.committed - c.start) / 1e6)
      val plan = cs.map(c => (c.end - c.committed) / 1e6)
      val e2e = Map("commit_per_s" -> docsPerS, "crawl_docs_per_s" -> docsPerS) ++
        Common.latencies("visible", visible) ++ Common.latencies("crawl_cycle", visible) ++
        Common.latencies("read", plan)
      val layers = probes match {
        case None => Map.empty[String, Double]
        case Some(p) =>
          val units = cs.map(c => (Common.nowMsOf(c.start).toLong, Common.nowMsOf(c.end).toLong))
          val folds = cs.map(c => (Common.nowMsOf(c.foldStart).toLong, Common.nowMsOf(c.committed).toLong))
          val foldJobs = p.jobs.asScala.count(j => folds.exists { case (a, b) => j.start >= a && j.end <= b })
          val ts = Common.triggers(query).filter(t => t.endMs >= t0 && t.endMs <= t1)
          val gens = docs.generations
          Common.streamingLayer(ts, Nil) ++
            Common.sparkLayer(p, t0.toLong, t1.toLong, units, None) ++
            Common.selfLayer(tracer, n0, n1, cs.length) ++
            sourcesLayer(lastDrop) ++
            Map("operators.recrawl_fold_ms" -> Stats.mean(cs.map(c => (c.committed - c.foldStart) / 1e6)),
              "operators.recrawl_jobs" -> foldJobs.toDouble / math.max(1, cs.length),
              "store.generations" -> gens.length.toDouble,
              "store.rows" -> docs.selectAll.count().toDouble,
              "store.files_per_gen" -> Stats.mean(gens.map(g => docs.generationFileCount(g).toDouble)),
              "store.bytes_written" -> (Common.treeBytes(dir.resolve("docs")) +
                Common.treeBytes(dir.resolve("stats")) - bytes0).toDouble / math.max(1, cs.length),
              "store.collapses" -> cs.count(_.collapsed).toDouble,
              "gen.events" -> cs.map(_.docs.toDouble).sum,
              "gen.late_ms" -> 0.0)
      }
      Window(e2e, layers, cs.length.toLong + failed, failed)
    }

    /** The `sources` layer: `CrawlIngest.documentsFrom` over one captured
      * cycle's files, as a plain batch, timed three times (median). */
    private def sourcesLayer(drop: Gen.CrawlDrop): Map[String, Double] = {
      val paths = drop.files.map(f => dropDir.resolve(f.name).toString)
      val files = spark.read.format("binaryFile").load(paths: _*)
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val n = CrawlIngest.documentsFrom(files).count()
        (System.nanoTime() - t0, n)
      }
      val secs = Stats.median(runs.map(_._1.toDouble)) / 1e9
      val records = runs.last._2
      Map("sources.decode_ms" -> secs * 1000, "sources.mb_per_s" -> drop.bytes / 1e6 / secs,
        "sources.records" -> records.toDouble,
        "sources.records_dropped" -> (drop.validRecords + drop.junkRecords - records).toDouble)
    }

    def finish(): (Boolean, String) = {
      query.stop()
      if (broken != null) return (false, s"a cycle failed: $broken")
      val total = cycles.map(_.docs.toLong).sum
      val stored = docs.selectAll.count()
      if (stored != total) return (false, s"docs store holds $stored documents, $total were dropped")
      val rates = Recrawl.ratesFromStats(stats).select("url", "n_fetches", "n_changes").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = CrawlCycle.expectedStats(fetches.toMap.map { case (u, vs) => u -> vs.toSeq })
      (expected.keySet ++ rates.keySet).find(u => expected.get(u) != rates.get(u)) match {
        case Some(u) => (false, s"$u: expected (n_fetches, n_changes) ${expected.get(u)}, stats store has ${rates.get(u)}")
        case None => (true, s"${cycles.length} cycles, $total documents; fetch and change counts " +
          s"of ${expected.size} URLs match")
      }
    }

    def release(): Unit = { fetches.clear(); cycles.clear(); lastDrop = null }

    def close(): Unit = if (query.isActive) query.stop()
  }
}

object CrawlCycle {
  /** One finished cycle: nanoTime marks and what it committed. */
  final case class Cycle(start: Long, foldStart: Long, committed: Long, end: Long,
                         docs: Int, collapsed: Boolean)

  /** Per URL, from the generator's record of the page version each fetch
    * served: (n_fetches, n_changes) as the stats fold must count them. */
  def expectedStats(fetches: Map[String, Seq[Int]]): Map[String, (Long, Long)] =
    fetches.map { case (u, vs) =>
      u -> (vs.length.toLong, vs.sliding(2).count(p => p.length == 2 && p(0) != p(1)).toLong)
    }
}
