package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.config.{BucketType, MsgSettings}
import graft.store.RecentStore

/** §2.7 streaming semantics — the subtlest contract in the system
  * (VERDICT round 1 #2): per-batch counts with NO cross-batch merge, rst_id
  * generation monotonicity, MAX-restore, and retention, driven through
  * MemoryStream (no Kafka broker in the sandbox; FIXTURES.md §C). */
class StreamShellSpec extends SparkSpec {

  private val msg = MsgSettings(
    bucketInterval = 20, bucketField = "timestamp",
    bucketType = BucketType.Epoch,
    msgMapSchema = Seq("etype" -> "event_type"))

  private val storeSchema = StructType(Seq(
    StructField("etype", StringType),
    StructField("bucket_start", LongType),
    StructField("bucket_end", LongType),
    StructField("count", LongType)))

  /** Kafka-value-shaped JSON for an event at epoch second `t`. */
  private def ev(t: Long, etype: String = "click"): (String, String) =
    ("ignored-key", s"""{"event_type": "$etype", "timestamp": $t}""")

  private def newStore(name: String) =
    new RecentStore(spark, storeSchema, tableName = name, cleanFreq = 1000L)

  test("a bucket straddling two micro-batches yields TWO rows with distinct rst_ids") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(String, String)]
    val store = newStore("straddle_store")
    val query = StreamShell.attach(
      stream.toDF().toDF("key", "value"), msg, store,
      trigger = Some(Trigger.ProcessingTime(0L)))

    // Batch 1: two events in bucket [0,20), one in [20,40).
    stream.addData(ev(1), ev(9), ev(21))
    query.processAllAvailable()
    // Batch 2: a LATE event for bucket [0,20) — the reference appends another
    // row under the new generation instead of merging
    // (`spark-streaming-kafka-bucket-counter.py:125-126` + blind append).
    stream.addData(ev(5))
    query.processAllAvailable()
    query.stop()

    val rows = store.selectAll
      .select("etype", "bucket_start", "bucket_end", "count", "rst_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(rows === Set(
      ("click", 0L, 20L, 2L, 1L),   // batch 1
      ("click", 20L, 40L, 1L, 1L),
      ("click", 0L, 20L, 1L, 2L)))  // batch 2: same bucket, NEW generation
    // Consumers obtain totals via the Q2 SQL surface: SUM(count).
    val total = store.sql(
      "SELECT sum(count) FROM straddle_store WHERE bucket_start = 0").head().getLong(0)
    assert(total === 3L)
  }

  test("rst_id counter restores from MAX(rst_id) after restart (A4/A5)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(String, String)]
    val store = newStore("restore_store")
    val query = StreamShell.attach(stream.toDF().toDF("key", "value"), msg, store,
      trigger = Some(Trigger.ProcessingTime(0L)))
    stream.addData(ev(1)); query.processAllAvailable()
    stream.addData(ev(2)); query.processAllAvailable()
    query.stop()
    assert(store.maxRstId === Some(2L))
    assert(store.currentRstId === 3L)

    // "Restart": fresh store restored from the surviving contents — the
    // reference reopens the db file and reads MAX(RST_ID)
    // (`models.py:533-536`, doctest `:567-575`).
    val reopened = newStore("restore_store2").restoreFrom(store.selectAll)
    assert(reopened.currentRstId === 3L)
    val stream2 = MemoryStream[(String, String)]
    val q2 = StreamShell.attach(stream2.toDF().toDF("key", "value"), msg, reopened,
      trigger = Some(Trigger.ProcessingTime(0L)))
    stream2.addData(ev(3)); q2.processAllAvailable()
    q2.stop()
    assert(reopened.maxRstId === Some(3L))
    assert(reopened.currentRstId === 4L)
  }

  test("retention: clean(0) empties the store (doctest models.py:718-727)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(String, String)]
    val store = newStore("clean_store")
    val query = StreamShell.attach(stream.toDF().toDF("key", "value"), msg, store,
      trigger = Some(Trigger.ProcessingTime(0L)))
    stream.addData(ev(1)); query.processAllAvailable()
    query.stop()
    assert(store.selectAll.count() === 1L)
    store.clean(0L)
    assert(store.selectAll.count() === 0L)
    assert(store.maxRstId === None)
  }

  test("watermarked upgrade mode MERGES late data into the bucket (one row, latest rst)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(String, String)]
    val store = newStore("wm_store")
    val query = StreamShell.attachWatermarked(
      stream.toDF().toDF("key", "value"), msg, store,
      lateness = "1 hour", trigger = Some(Trigger.ProcessingTime(0L)))
    // Modern epoch base: event-time 0 sits exactly on Spark's initial
    // watermark and gets edge-dropped.
    val base = 1700000000L // multiple of 20
    stream.addData(ev(base + 1), ev(base + 9)); query.processAllAvailable()
    stream.addData(ev(base + 5)); query.processAllAvailable() // late, same bucket
    query.stop()

    // Unlike per-batch mode (two rows summing 3), the updated aggregate is
    // re-emitted: the latest generation FOR THIS KEY carries the MERGED
    // count (empty trailing micro-batches may bump the global counter).
    val latest = store.sql(
      s"""SELECT count FROM wm_store
         |WHERE bucket_start = $base
         |ORDER BY rst_id DESC LIMIT 1""".stripMargin).head().getLong(0)
    assert(latest === 3L)
  }

  test("S3 valueDecoder hook: binary Avro values decode before projection") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.sources.AvroCodec

    val avsc =
      """{"type": "record", "name": "Ev", "fields": [
        |  {"name": "event_type", "type": "string"},
        |  {"name": "timestamp", "type": "long"}]}""".stripMargin
    val enc = AvroCodec.encoderFor(avsc)
    def avroEv(t: Long): (String, Array[Byte]) =
      ("k", enc(Map("event_type" -> "click", "timestamp" -> t)))

    val stream = MemoryStream[(String, Array[Byte])]
    val store = newStore("avro_stream_store")
    val query = StreamShell.attach(
      stream.toDF().toDF("key", "value"), msg, store,
      trigger = Some(Trigger.ProcessingTime(0L)),
      valueDecoder = Some(df => AvroCodec.decodeValues(df, "value", avsc)))
    stream.addData(avroEv(1), avroEv(9))
    query.processAllAvailable()
    query.stop()
    val row = store.selectAll.select("etype", "bucket_start", "count").head()
    assert((row.getString(0), row.getLong(1), row.getLong(2)) === (("click", 0L, 2L)))
  }

  test("long-running assembly keeps the store plan bounded (lineage truncation)") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.config.{GraftConfig, StoreSettings}

    // runWithSource must default materializeEvery: an unbounded stream
    // otherwise accumulates one union child PER MICRO-BATCH forever
    // (retention trims rows, not plan nodes).
    val cfg = GraftConfig(
      msg = msg,
      store = StoreSettings(tableName = "bounded_store",
        cleanInterval = 1000, cleanFreq = 5,
        schema = Seq("etype" -> "TEXT", "bucket_start" -> "INTEGER",
          "bucket_end" -> "INTEGER", "count" -> "INTEGER")))
    val stream = MemoryStream[(String, String)]
    val (store, query) = StreamShell.runWithSource(spark, cfg,
      stream.toDF().toDF("key", "value"),
      trigger = Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)))
    val batches = 55
    (1 to batches).foreach { i =>
      stream.addData(ev(i.toLong * 20)) // one event, one fresh bucket, per batch
      query.processAllAvailable()
    }
    query.stop()
    // Plan depth stays bounded by the truncation cadence (cleanFreq = 5
    // appends between localCheckpoints), NOT by the number of batches.
    val leaves = store.selectAll.queryExecution.logical.collectLeaves().size
    assert(leaves <= cfg.store.cleanFreq + 1,
      s"store plan has $leaves leaves after $batches batches — lineage is growing")
    // So does the physical layout: truncation coalesces to the task slots,
    // so a read does not run one scan task per batch ever appended.
    val parts = store.selectAll.rdd.getNumPartitions
    assert(parts <= spark.sparkContext.defaultParallelism + cfg.store.cleanFreq,
      s"store reads $parts partitions after $batches batches — layout is growing")
    // And contents are exactly the per-batch generations, none lost.
    assert(store.maxRstId === Some(batches.toLong))
    assert(store.selectAll.agg(org.apache.spark.sql.functions.sum("count"))
      .head().getLong(0) === batches.toLong)
  }

  test("streaming into the DURABLE store: generations land as partition dirs") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_stream_dur").toString
    val store = new graft.store.ParquetStore(spark, storeSchema, path,
      tableName = "dur_stream", cleanFreq = 1000L)
    val stream = MemoryStream[(String, String)]
    val query = StreamShell.attach(stream.toDF().toDF("key", "value"), msg, store,
      trigger = Some(Trigger.ProcessingTime(0L)))
    stream.addData(ev(1), ev(9)); query.processAllAvailable()
    stream.addData(ev(5)); query.processAllAvailable()
    query.stop()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/rst_id=1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/rst_id=2")))
    assert(store.sql(
      "SELECT sum(count) FROM dur_stream WHERE bucket_start = 0").head().getLong(0) === 3L)
    // A fresh store over the same path restores the counter from disk.
    assert(new graft.store.ParquetStore(spark, storeSchema, path,
      tableName = "dur_stream2").currentRstId === 3L)
  }

  test("watermarked upgrade mode also streams into the durable store") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_wm_dur").toString
    val store = new graft.store.ParquetStore(spark, storeSchema, path,
      tableName = "wm_dur", cleanFreq = 1000L)
    val stream = MemoryStream[(String, String)]
    val query = StreamShell.attachWatermarked(
      stream.toDF().toDF("key", "value"), msg, store,
      lateness = "1 hour", trigger = Some(Trigger.ProcessingTime(0L)))
    val base = 1700000000L
    stream.addData(ev(base + 1), ev(base + 9)); query.processAllAvailable()
    stream.addData(ev(base + 5)); query.processAllAvailable() // late, merges
    query.stop()
    val latest = store.sql(
      s"""SELECT count FROM wm_dur WHERE bucket_start = $base
         |ORDER BY rst_id DESC LIMIT 1""".stripMargin).head().getLong(0)
    assert(latest === 3L)
  }

  test("checkpoint restart: the second run processes ONLY new files (exactly-once source)") {
    val sparkSession = spark
    import sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{StringType, StructField, StructType}

    val src = java.nio.file.Files.createTempDirectory("graft_ck_src").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_ck_chk").toString
    def writeWave(ts: Seq[Long]): Unit =
      ts.toDF("t").select(to_json(struct(
          lit("click").as("event_type"), col("t").as("timestamp"))).as("value"))
        .coalesce(1).write.mode("append").parquet(src)
    def attachRun(store: RecentStore): Unit = {
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType)))).parquet(src)
      val q = StreamShell.attach(stream, msg, store,
        trigger = Some(Trigger.AvailableNow()), checkpoint = Some(ck))
      q.awaitTermination()
    }

    val store = newStore("ck_store")
    writeWave(Seq(1L, 2L, 3L)) // bucket [0,20)
    attachRun(store)
    writeWave(Seq(21L, 22L))   // bucket [20,40), new files only
    attachRun(store)           // restart from the SAME checkpoint

    // Exactly-once: wave 1 is NOT re-counted on restart.
    assert(store.sql(
      "SELECT sum(count) FROM ck_store WHERE bucket_start = 0").head().getLong(0) === 3L)
    assert(store.sql(
      "SELECT sum(count) FROM ck_store WHERE bucket_start = 20").head().getLong(0) === 2L)
    assert(store.sql("SELECT sum(count) FROM ck_store").head().getLong(0) === 5L)
  }

  test("deduped ingest: replayed message ids are counted once across batches") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Message carries an id; the id is decoded (map schema) but must NOT
    // become a count key — counts stay per (etype, bucket).
    val dmsg = msg.copy(msgMapSchema = Seq(
      "etype" -> "event_type", "eid" -> "event_id"))
    def dev(t: Long, id: Long): (String, String) =
      ("k", s"""{"event_type": "click", "timestamp": $t, "event_id": $id}""")

    val store = newStore("dedup_stream")
    val stream = MemoryStream[(String, String)]
    val query = StreamShell.attachDeduped(
      stream.toDF().toDF("key", "value"), dmsg, store,
      dedupCols = Seq("eid"), lateness = "1 hour",
      trigger = Some(Trigger.ProcessingTime(0L)))

    // Event times well past epoch: rows AT the initial watermark (epoch 0)
    // would be discarded as late by the dedup state operator.
    val base = 1700000000L // multiple of 20 → bucket [base, base+20)
    // Batch 1: ids 1,2,3 (id 2 duplicated in-batch) — 3 unique.
    stream.addData(dev(base + 1, 1), dev(base + 2, 2), dev(base + 3, 2), dev(base + 4, 3))
    query.processAllAvailable()
    // Batch 2: id 2 replayed (dropped), id 4 new — 1 unique.
    stream.addData(dev(base + 5, 2), dev(base + 6, 4))
    query.processAllAvailable()
    query.stop()

    val rows = store.selectAll
      .select("etype", "bucket_start", "count", "rst_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rows === Set(
      ("click", base, 3L, 1L),  // batch 1: 3 unique ids
      ("click", base, 1L, 2L))) // batch 2: only the new id
    assert(store.sql(
      "SELECT sum(count) FROM dedup_stream").head().getLong(0) === 4L)
  }

  test("checkpoint recovery: restart continues rst_ids, recounts nothing, " +
      "and matches an uninterrupted run") {
    // §2.7's delivery contract claims strict improvement over the
    // reference's lossy-on-failure accumulator pair
    // (`spark-streaming-kafka-bucket-counter.py:189-241`): source offsets
    // live in the checkpoint, generation ids in the DURABLE store (A4
    // restore from the directory listing, NOT the checkpoint's batchId).
    // Simulate a crash by discarding the query AND the store instance,
    // then restarting both from their on-disk state.
    val sparkSession = spark
    import sparkSession.implicits._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._

    val srcDir = Files.createTempDirectory("graft_cp_src")
    val cpDir = Files.createTempDirectory("graft_cp_ckpt")
    val storeDir = Files.createTempDirectory("graft_cp_store")
    val srcSchema = StructType(Seq(
      StructField("key", StringType), StructField("value", StringType)))
    // One parquet FILE per intended micro-batch, mod-times forced strictly
    // increasing so the file source's oldest-first order is deterministic.
    var fileSeq = 0
    def stage(rows: (String, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft_cp_stage")
      rows.toSeq.toDF("key", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally s.close()
      }
      val dest = srcDir.resolve(f"batch_$fileSeq%03d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + fileSeq * 60000L))
      fileSeq += 1
      val w = Files.walk(tmp)
      try w.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally w.close()
    }
    def runOnce(store: graft.store.GenerationStore, checkpoint: String): Unit = {
      val stream = spark.readStream.schema(srcSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = StreamShell.attach(stream, msg, store,
        trigger = Some(Trigger.AvailableNow()),
        checkpoint = Some(checkpoint))
      q.awaitTermination()
    }
    def durableStore(name: String) = new graft.store.ParquetStore(
      spark, storeSchema, storeDir.toString, tableName = name, cleanFreq = 1000L)
    def contents(store: graft.store.GenerationStore): Set[(String, Long, Long, Long)] =
      store.selectAll.select("etype", "bucket_start", "count", "rst_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

    // Phase 1: two micro-batches land, then the "crash".
    stage(ev(1), ev(9))  // bucket [0,20) ×2   → generation 1
    stage(ev(21))        // bucket [20,40) ×1  → generation 2
    runOnce(durableStore("cp_run1"), cpDir.toString)

    // Phase 2: restart from checkpoint with NO new data — a fresh store
    // instance (counter restored from disk) and the same checkpoint must
    // append NOTHING: already-committed source files are never recounted.
    val afterCrash = durableStore("cp_run2")
    assert(afterCrash.currentRstId === 3L, "A4 restore from durable listing")
    runOnce(afterCrash, cpDir.toString)
    assert(contents(afterCrash) === Set(
      ("click", 0L, 2L, 1L), ("click", 20L, 1L, 2L)))

    // Phase 3: more data arrives after the restart — generations continue
    // at 3, 4 (store counter, not the checkpoint's restarted batchId).
    stage(ev(5))          // late event, bucket [0,20) ×1 → generation 3
    stage(ev(45), ev(41)) // bucket [40,60) ×2            → generation 4
    runOnce(durableStore("cp_run3"), cpDir.toString)
    val recovered = contents(durableStore("cp_read"))
    assert(recovered === Set(
      ("click", 0L, 2L, 1L), ("click", 20L, 1L, 2L),
      ("click", 0L, 1L, 3L), ("click", 40L, 2L, 4L)))

    // Uninterrupted control: all four files visible from the start, fresh
    // checkpoint + fresh store — the crash/restart run must be
    // indistinguishable, generation ids included.
    val cleanCp = Files.createTempDirectory("graft_cp_ckpt2")
    val cleanStoreDir = Files.createTempDirectory("graft_cp_store2")
    val clean = new graft.store.ParquetStore(
      spark, storeSchema, cleanStoreDir.toString, tableName = "cp_clean",
      cleanFreq = 1000L)
    runOnce(clean, cleanCp.toString)
    assert(contents(clean) === recovered)
  }

  test("streaming auto-compaction bounds files per generation; results identical to uncompacted") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 12 distinct event types spread the per-batch count aggregate across
    // the 4 test shuffle partitions, so every uncompacted generation lands
    // SEVERAL parquet files — the small-files decay in miniature.
    def batchData(b: Int): Seq[(String, String)] =
      (0 until 12).map(i => ev(b * 100L + i, s"etype$i"))
    def run(name: String, autoCompact: Long): graft.store.ParquetStore = {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft_autocompact_$name").toString
      val store = new graft.store.ParquetStore(spark, storeSchema, path,
        tableName = s"ac_$name", cleanFreq = 1000L,
        autoCompactFiles = autoCompact)
      val stream = MemoryStream[(String, String)]
      val query = StreamShell.attach(
        stream.toDF().toDF("key", "value"), msg, store,
        trigger = Some(Trigger.ProcessingTime(0L)))
      (1 to 5).foreach { b =>
        stream.addData(batchData(b): _*)
        query.processAllAvailable()
      }
      query.stop()
      store
    }
    // AQE would coalesce this test's 12-row shuffles into ONE partition
    // (hiding the decay the test exists to exercise — real micro-batches
    // keep many partitions); scope it off for both runs symmetrically.
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val (plain, compacted) =
      try {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        (run("off", autoCompact = 0L), run("on", autoCompact = 1L))
      } finally spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    val gens = (1L to 5L)
    // Precondition: without the guard the decay is real (else this test
    // asserts nothing) — at least one generation carries multiple files.
    assert(gens.map(plain.generationFileCount).max > 1L,
      "fixture must produce multi-file generations")
    // The guard bounds every SEALED generation to one file.
    gens.foreach(g => assert(compacted.generationFileCount(g) === 1L,
      s"generation $g not compacted"))
    // And compaction never changes a row: same counts, same generations.
    def rows(s: graft.store.ParquetStore) = s.selectAll
      .select("etype", "bucket_start", "bucket_end", "count", "rst_id")
      .collect().map(_.toSeq).toSet
    assert(rows(compacted) === rows(plain))
    assert(rows(compacted).nonEmpty)
  }

  test("auto-clean fires when the counter hits a cleanFreq multiple") {
    val sparkSession = spark
    import sparkSession.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // cleanFreq=3, cleanInterval=1: after the append that moves the counter
    // to 3, only generations >= 3-1=2 survive.
    val store = new RecentStore(spark, storeSchema, tableName = "auto_clean",
      cleanInterval = 1L, cleanFreq = 3L)
    val stream = MemoryStream[(String, String)]
    val query = StreamShell.attach(stream.toDF().toDF("key", "value"), msg, store,
      trigger = Some(Trigger.ProcessingTime(0L)))
    stream.addData(ev(1)); query.processAllAvailable()
    stream.addData(ev(21)); query.processAllAvailable()
    query.stop()
    val survivors = store.selectAll.select("rst_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(2L))
  }

  test("dedup STATE survives a checkpointed restart: replayed ids stay dropped") {
    // The exactly-once claim has to hold across process death: an id seen
    // before the crash and replayed after the restart must still be
    // dropped, which only works if dropDuplicatesWithinWatermark's state
    // store recovers from the checkpoint. (The in-run replay case is the
    // "deduped ingest" test above; this one kills and restarts the query.)
    val sparkSession = spark
    import sparkSession.implicits._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._

    val srcDir = Files.createTempDirectory("graft_ddr_src")
    val ckDir = Files.createTempDirectory("graft_ddr_ck")
    val srcSchema = StructType(Seq(
      StructField("key", StringType), StructField("value", StringType)))
    var fileSeq = 0
    def stage(rows: (String, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft_ddr_stage")
      rows.toSeq.toDF("key", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally s.close()
      }
      Files.move(part, srcDir.resolve(f"batch_$fileSeq%03d.parquet"))
      fileSeq += 1
      val w = Files.walk(tmp)
      try w.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally w.close()
    }
    val dmsg = msg.copy(msgMapSchema = Seq(
      "etype" -> "event_type", "eid" -> "event_id"))
    val base = 1700000000L
    def dev(t: Long, id: Long): (String, String) =
      ("k", s"""{"event_type": "click", "timestamp": ${base + t}, "event_id": $id}""")
    def runOnce(store: graft.store.GenerationStore): Unit = {
      val stream = spark.readStream.schema(srcSchema)
        .parquet(srcDir.toString)
      val q = StreamShell.attachDeduped(stream, dmsg, store,
        dedupCols = Seq("eid"), lateness = "1 hour",
        trigger = Some(Trigger.AvailableNow()),
        checkpoint = Some(ckDir.toString))
      q.awaitTermination()
    }

    val store = newStore("ddr_store")
    stage(dev(1, 1), dev(2, 2), dev(3, 2)) // ids 1,2 (+in-batch dup) → 2 unique
    runOnce(store)                         // state checkpointed, then "crash"
    stage(dev(5, 2), dev(6, 3))            // id 2 REPLAYED, id 3 new
    runOnce(store)                         // restart from checkpoint

    val rows = store.selectAll.select("etype", "bucket_start", "count", "rst_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // Bucket base..base+20 (base is a multiple of 20): 2 uniques before the
    // crash, and ONLY id 3 after it — the replayed id 2 was dropped by
    // state restored from the checkpoint, not recounted.
    assert(rows === Set(
      ("click", base, 2L, 1L),
      ("click", base, 1L, 2L)))
  }
}
