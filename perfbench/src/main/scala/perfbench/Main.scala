package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --launched-ms <epoch ms>
  *
  * It creates the session, sets the workload up `reps` times (timing each;
  * the last set-up stays live), measures for `--seconds`, lets the engine
  * drain, runs the correctness gate, and prints every metric it has as
  * `<name> <value>` lines followed by one `PERFBENCH_RESULT {...}` line.
  * A traced run measures half the time untraced and half traced, and
  * reports the per-layer metrics of the traced half with the difference
  * between the halves as the tracing overhead. `perfbench/run.py` builds
  * the classpath, launches this and shapes the result. */
object Main {

  val Workloads = Seq("ingest_saturate", "serve_mixed", "crawl_cycle")
  /** Set-ups per run; `setup_s` takes their median. */
  val reps = 3

  /** `graft.Bench`'s session settings at `local[nproc]`, plus where the
    * harness keeps scratch files and how much stream progress it keeps. */
  def sessionSettings(nproc: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.files.openCostInBytes" -> "64k",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val launchedMs = opts.get("launched-ms").map(_.toDouble).getOrElse(Common.nowMs)
    val nproc = Runtime.getRuntime.availableProcessors()

    val settings = sessionSettings(nproc, work)
    val spark = settings.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Common.nowMs - launchedMs) / 1000.0
    val tracer = new Tracer(false)

    val wl: Workload = workload match {
      case "ingest_saturate" => new IngestSaturate(spark, seed, nproc)
      case "serve_mixed" => new ServeMixed(spark, seed, nproc, tracer)
      case "crawl_cycle" => new CrawlCycle(spark, seed, work, tracer)
    }

    val setups = (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      val inst = wl.setUp(rep)
      val dt = (System.nanoTime() - t0) / 1e9
      if (rep < reps - 1) { inst.close(); (dt, None) } else (dt, Some(inst))
    }
    val inst = setups.last._2.get
    val setupS = sessionS + Stats.median(setups.map(_._1))

    val nanos = (seconds * 1e9).toLong
    val cpu0 = Common.hostCpuTicks()
    val (measured, layers) =
      if (!traced) (inst.run(nanos, tracer, None), Map.empty[String, Double])
      else {
        val plain = inst.run(nanos / 2, tracer, None)
        val probes = new Probes(spark).start()
        tracer.enabled = true
        val withTrace = try inst.run(nanos / 2, tracer, Some(probes))
          finally { tracer.enabled = false; probes.stop() }
        def overhead(k: String) = Stats.pctChange(plain.e2e.getOrElse(k, 0.0), withTrace.e2e.getOrElse(k, 0.0))
        val w = Window(plain.e2e, Map.empty, plain.attempted + withTrace.attempted,
          plain.failed + withTrace.failed)
        (w, withTrace.layers ++ Map(
          "trace.overhead_commit_pct" -> overhead("commit_per_s"),
          "trace.overhead_visible_pct" -> overhead("visible_p50_ms"),
          "trace.overhead_read_pct" -> overhead("read_mean_ms"),
          "trace.spans" -> tracer.all.length.toDouble))
      }
    val measuredAt = Common.nowMs
    val stealPct = Common.stealPct(cpu0, Common.hostCpuTicks())
    val (gateOk, gateVerdict) =
      try inst.finish() catch { case e: Exception => (false, s"gate failed: $e") }
    val gatedAt = Common.nowMs
    val back = inst.readBack()
    val correct = gateOk && back.failed == 0
    val verdict = if (back.failed == 0) gateVerdict
      else s"$gateVerdict; ${back.failed} of ${back.attempted} reads after the load failed or differed from the tally"
    // The heap figure is the program's: the stores stay open, while the
    // harness's own state (chunk logs, request logs, fetch history, spans)
    // is dropped first. The heap before that is kept to show its share.
    Files.createDirectories(work)
    tracer.write(work.resolve("spans.jsonl"))
    val withHarnessMb = Common.heapAfterGcMb()
    inst.release()
    tracer.clear()
    val heapMb = Common.heapAfterGcMb()
    inst.close()
    val closedAt = Common.nowMs

    val attempted = measured.attempted + back.attempted
    val failed = measured.failed + back.failed
    val metrics = measured.e2e ++ back.e2e ++ layers ++ Map(
      "setup_s" -> setupS, "session_s" -> sessionS,
      "heap_after_gc_mb" -> heapMb, "heap_harness_mb" -> (withHarnessMb - heapMb),
      "failed_ratio" -> failed.toDouble / math.max(1L, attempted)) ++
      stealPct.map("host_steal_pct" -> _)
    spark.stop()
    println(f"timing session ${sessionS}%.2f s, set-ups ${setups.map(_._1).map(d => f"$d%.2f").mkString("/")} s, " +
      f"gate ${(gatedAt - measuredAt) / 1000}%.2f s, read-back, heap and close ${(closedAt - gatedAt) / 1000}%.2f s, " +
      f"stop ${(Common.nowMs - closedAt) / 1000}%.2f s")

    val jvm = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    println(s"verdict ${if (correct) "correct" else "INCORRECT"}: $verdict")
    println(s"run workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"nproc=$nproc jvm=$jvm reps=$reps")
    println("session " + settings.map { case (k, v) => s"$k=$v" }.mkString(" "))
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"metric $k $v%.6f") }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", correct)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("verdict", verdict)
    result.put("jvm", jvm)
    result.put("nproc", nproc)
    result.put("seed", seed)
    result.put("settings", settings.toMap.asJava)
    result.put("metrics", scala.collection.immutable.TreeMap(metrics.toSeq: _*).asJava)
    println("PERFBENCH_RESULT " + Counters.mapper.writeValueAsString(result))
    System.out.flush()
    // Streaming and HTTP threads are all stopped; exit without waiting on
    // daemon pools.
    sys.exit(0)
  }
}
