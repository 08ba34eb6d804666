package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.store.RecentStore

/** The harness's own checks: seeded inputs, summary helpers, span
  * accounting, and a correctness gate that cannot pass vacuously. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def eventBytes(seed: Long): Seq[Array[Byte]] = {
    val g = new Gen.Events(seed)
    (0L until 3L).flatMap(i => g.chunk(i, 500).events.map(_.getBytes("UTF-8")))
  }

  private def crawlBytes(seed: Long): Seq[Array[Byte]] = {
    val g = new Gen.Crawl(seed)
    (0L until 3L).flatMap(c => g.drop(c, 0 until 20).files.map(_.bytes))
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    for (gen <- Seq(eventBytes _, crawlBytes _)) {
      val a = gen(7L)
      val b = gen(7L)
      assert(a.length === b.length)
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
      val c = gen(8L)
      assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    }
  }

  test("the event tally counts every well-formed event once, under its bucket") {
    val ch = new Gen.Events(3L, badShare = 0.05).chunk(4L, 2000)
    val good = ch.events.count(_.contains("\"ts\":"))
    assert(good < ch.size, "some events must lack an event time")
    assert(ch.tally.values.sum === good.toLong)
    assert(ch.tally.keys.forall { case (_, b) => b % Counters.BucketS == 0 })
  }

  test("percentile and rate helpers match hand-computed values") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 50) === 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.median(Seq(5.0, 1.0, 9.0)) === 5.0)
    assert(Stats.rate(500.0, 2000000000L) === 250.0)
    assert(Stats.pctChange(200.0, 150.0) === -25.0)
    assert(Common.latencies("x", Seq(10.0, 20.0))("x_p50_ms") === 15.0)
  }

  test("self time subtracts nested spans of the same trace, once") {
    val spans = Seq(
      Span(1, "t", 0, "a.outer", 0, 100),
      Span(2, "t", 1, "b.inner", 10, 40),
      Span(3, "t", 1, "b.inner", 30, 60), // overlaps the first child
      Span(4, "u", 0, "b.inner", 20, 50)) // another trace: not a child
    val self = Tracer.selfNanos(spans)
    assert(self("a.outer") === 50L)
    assert(self("b.inner") === 30L + 30L + 30L)
    assert(Tracer.union(Seq((0L, 5L), (3L, 8L), (10L, 12L))) === 10L)
    assert(Probes.driverGapMs((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) === 60L)
  }

  test("a server-side store read is adopted by the request it was made for") {
    val tracer = new Tracer(true)
    def req(route: String, start: Long, end: Long, i: Int) = {
      val q = ServeMixed.Req(route, start, end, 200, 2, ok = true)
      q -> tracer.record(s"serve.$route", s"req-$i", start, end)
    }
    val reqs = Seq(req("sql", 0, 100, 0), req("range", 10, 90, 1), req("compare", 50, 95, 2))
    val sql = tracer.record("store.read.sql", "read-1", 20, 30)
    val all = tracer.record("store.read.selectAll", "read-2", 60, 70)
    val stray = tracer.record("store.read.recent", "read-3", 60, 70)
    tracer.adopt(ServeMixed.requestOf(_, reqs))
    val byName = tracer.all.map(s => s.name -> s).toMap
    assert(byName("store.read.sql").trace === "req-0")
    assert(byName("store.read.sql").parent === reqs(0)._2.id)
    assert(byName("store.read.selectAll").trace === "req-2") // both hold it: the later one
    assert(byName("store.read.recent").trace === "read-3")
    assert(Seq(sql, all, stray).forall(s => tracer.all.exists(_.id == s.id)))
  }

  test("the counter gate accepts the tallied store and rejects one perturbed count") {
    val tally = new Gen.Events(5L).chunk(0L, 3000).tally
    def storeWith(t: Map[(String, Long), Long], name: String) = {
      val s = new RecentStore(spark, Counters.storeSchema, tableName = name)
      s.append(Counters.countRows(spark, t))
    }
    val good = storeWith(tally, "gate_good")
    assert(Common.compareTally(tally, Counters.storeTotals(good)).isEmpty)
    val (k, n) = tally.head
    val bad = storeWith(tally.updated(k, n + 1), "gate_bad")
    val miss = Common.compareTally(tally, Counters.storeTotals(bad))
    assert(miss.exists(_.contains(k._1)))
  }

  test("crawl expectations count fetches and digest changes per URL") {
    val exp = CrawlCycle.expectedStats(Map("a" -> Seq(0, 0, 1, 1, 2), "b" -> Seq(3)))
    assert(exp === Map("a" -> (5L, 2L), "b" -> (1L, 0L)))
  }
}
