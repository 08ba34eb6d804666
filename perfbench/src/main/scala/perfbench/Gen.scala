package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** Seeded input generators. Every input is a pure function of
  * (seed, index): a chunk or a crawl cycle can be regenerated on its own,
  * and the same seed always yields byte-identical inputs. The program under
  * test only ever sees the generated bytes. */
object Gen {

  /** A stream of independent draws for one (seed, index) pair. */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(stream * 0x9E3779B97F4A7C15L + index)))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      val ix = if (i >= 0) i else -i - 1
      math.min(ix, n - 1)
    }
  }

  /** One chunk of counter events: the JSON lines the source receives and
    * the generator's own tally of them per (key, bucket_start). */
  final case class Chunk(events: Array[String], tally: Map[(String, Long), Long]) {
    def size: Int = events.length
  }

  /** Counter events: `{"k": <zipf key>, "ts": <epoch s>}`, keys Zipf-skewed
    * over `Counters.Keys` ranks. Chunk `i` covers event time
    * `[base + i*spanS, base + (i+1)*spanS)`, so buckets advance as the
    * stream runs. */
  final class Events(seed: Long, spanS: Long = 10L, base: Long = 1700000000L,
                     badShare: Double = 0.001) {
    private val zipf = new Zipf(Counters.Keys, Counters.Skew)
    def key(rank: Int): String = f"k$rank%05d"
    /** A key drawn from the same distribution as the events'. */
    def randomKey(r: SplittableRandom): String = key(zipf.sample(r))
    def chunk(index: Long, size: Int): Chunk = {
      val r = rng(seed, 1L, index)
      val tally = mutable.HashMap.empty[(String, Long), Long]
      val events = Array.tabulate(size) { _ =>
        val k = randomKey(r)
        val ts = base + index * spanS + r.nextLong(spanS)
        if (r.nextDouble() < badShare) s"""{"k":"$k","t":$ts}""" // no event time: dropped
        else {
          val b = ts - Math.floorMod(ts, Counters.BucketS.toLong)
          tally((k, b)) = tally.getOrElse((k, b), 0L) + 1L
          s"""{"k":"$k","ts":$ts}"""
        }
      }
      Chunk(events, tally.toMap)
    }
  }

  /** Sum tallies (per (key, bucket_start)). */
  def sumTallies(ts: Iterable[Map[(String, Long), Long]]): Map[(String, Long), Long] = {
    val out = mutable.HashMap.empty[(String, Long), Long]
    ts.foreach(_.foreach { case (k, v) => out(k) = out.getOrElse(k, 0L) + v })
    out.toMap
  }

  // ---------------------------------------------------------------------
  // Crawl inputs: a fixed URL set whose pages change with a seeded share
  // per cycle, packed as .warc.gz files of WARC response records.
  // ---------------------------------------------------------------------

  final case class CrawlFile(name: String, bytes: Array[Byte])
  /** One cycle's drop: the files, and per fetched URL the version of the
    * page it served (its digest changes exactly when the version does). */
  final case class CrawlDrop(files: Seq[CrawlFile], fetched: Seq[(String, Int)],
                             junkRecords: Int) {
    def validRecords: Int = fetched.length
    def bytes: Long = files.map(_.bytes.length.toLong).sum
  }

  final class Crawl(seed: Long) {
    val urls = 800
    private val changeShare = 0.3
    private val filesPerCycle = 4
    private val junkPerFile = 1
    private val paragraphs = 10
    def url(i: Int): String = f"https://site${i % 16}%02d.example.org/page/$i%04d"
    private val words = Array("crawl", "bucket", "stream", "count", "page",
      "archive", "record", "fresh", "change", "index", "query", "store",
      "spark", "trigger", "batch", "serve", "latency", "window", "digest",
      "frontier", "policy", "fetch", "parse", "extract")

    /** How many times page `i` has changed by `cycle` (cycle 0 = first
      * version). A seeded share of pages changes each cycle. */
    def version(i: Int, cycle: Long): Int = {
      var v = 0
      var c = 1L
      while (c <= cycle) {
        if (rng(seed, 3L, c * 100003L + i).nextDouble() < changeShare) v += 1
        c += 1
      }
      v
    }

    def html(i: Int, v: Int): String = {
      val r = rng(seed, 4L, i.toLong * 1000003L + v)
      val body = (0 until paragraphs).map { _ =>
        (0 until 40).map(_ => words(r.nextInt(words.length))).mkString(" ")
      }
      s"<html><head><title>page $i v$v</title></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>" +
        body.map(p => s"<p>$p.</p>").mkString + "</body></html>"
    }

    private def record(uri: String, contentType: String, body: Array[Byte],
                       date: String): Array[Byte] = {
      val head = ("HTTP/1.1 200 OK\r\n" + s"Content-Type: $contentType\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(ISO_8859_1)
      val http = head ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: $date\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(ISO_8859_1) ++
        http ++ "\r\n\r\n".getBytes(ISO_8859_1)
    }

    private def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bos)
      gz.write(b); gz.close()
      bos.toByteArray
    }

    /** The drop for one cycle fetching `frontier` (URL indices). Junk
      * records are binary bodies — fetched but not text documents, so the
      * documents store must drop them. */
    def drop(cycle: Long, frontier: Seq[Int]): CrawlDrop = {
      val date = f"2024-01-${1 + (cycle % 28)}%02dT00:00:00Z"
      val groups = frontier.zipWithIndex.groupBy(_._2 % filesPerCycle).toSeq
        .sortBy(_._1).map(_._2.map(_._1))
      val r = rng(seed, 5L, cycle)
      val files = groups.zipWithIndex.map { case (ix, f) =>
        val docs = ix.map(i => record(url(i), "text/html; charset=utf-8",
          html(i, version(i, cycle)).getBytes(UTF_8), date))
        val junk = (0 until junkPerFile).map { j =>
          val bin = Array.fill[Byte](512)(r.nextInt(256).toByte)
          bin(0) = 0x89.toByte; bin(1) = 'P'.toByte; bin(2) = 'N'.toByte; bin(3) = 'G'.toByte
          record(f"https://media.example.org/c$cycle%d/f$f%d/$j%d.png",
            "image/png", bin, date)
        }
        CrawlFile(f"c$cycle%06d_f$f%02d.warc.gz", gzip((docs ++ junk).reduce(_ ++ _)))
      }
      CrawlDrop(files, frontier.map(i => url(i) -> version(i, cycle)),
        junkPerFile * files.length)
    }
  }
}
