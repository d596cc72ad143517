package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

class StreamingSpec extends SparkSpec {

  test("bounded stream replay equals the batch windowed aggregate") {
    val streamed = EventStream.runWindowedOnce(
      spark, "/root/testdata/sf0.001/events.parquet")
      .select(col("window_start"), col("event_type"), col("n"), round(col("sum_value"), 6).as("s"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.core.Tables
      .readEventsPath(spark, "/root/testdata/sf0.001/events.parquet")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("s"))
      .select(col("window.start"), col("event_type"), col("n"), col("s"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("replayPartitions knob caps state partitions and restores the session value") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(EventStream.ReplayPartitionsKey, "2")
    try {
      val streamed = EventStream.runWindowedOnce(
        spark, "/root/testdata/sf0.001/events.parquet")
      assert(streamed.count() > 0)
      // session value untouched after the replay
      assert(spark.conf.get("spark.sql.shuffle.partitions") === prev)
      spark.conf.set(EventStream.ReplayPartitionsKey, "0")
      intercept[IllegalArgumentException] {
        EventStream.runWindowedOnce(
          spark, "/root/testdata/sf0.001/events.parquet")
      }
    } finally spark.conf.unset(EventStream.ReplayPartitionsKey)
  }

  test("a failed replay deletes its temp dir (symlink, rewrite, chunked and ingest)") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def leftovers(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft_stream") || n.startsWith("graft_neardup_ingest"))
        .toSet
      finally ls.close()
    }
    val sf = "/root/testdata/sf0.001"
    val events = s"$sf/events.parquet"
    val before = leftovers()
    // a cap of 0 fails inside the replay, after each runner made its dir
    spark.conf.set(EventStream.ReplayPartitionsKey, "0")
    try {
      intercept[IllegalArgumentException](EventStream.runWindowedOnce(spark, events))
      intercept[IllegalArgumentException](EventStream.runDedupOnce(spark, events))
      intercept[IllegalArgumentException](EventStream.runMergeOnce(spark, events))
      intercept[IllegalArgumentException](graft.streaming.IngestStream.runNearDupIngestOnce(
        spark, s"$sf/documents.parquet"))
    } finally spark.conf.unset(EventStream.ReplayPartitionsKey)
    assert(leftovers() -- before === Set.empty[String])
  }

  test("stream-static join enriches the stream against a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = input.toDS().toDF("ts", "user_id")
    val q = graft.streaming.EventStream.enrichedCounts(stream, dim, "user_id", "tier")
      .writeStream.outputMode(OutputMode.Complete()).format("memory")
      .queryName("enrich_sink").start()
    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    input.addData((t(0), 1L), (t(1), 1L), (t(2), 2L), (t(3), 3L)) // user 3 has no dim row
    q.processAllAvailable()
    val out = spark.table("enrich_sink")
      .select("tier", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(out === Map("gold" -> 2L, "basic" -> 1L)) // inner join drops user 3
  }

  test("streaming dedup drops within-watermark duplicates, keeps distinct keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = input.toDS().toDF("ts", "doc_id", "text")
    val q = EventStream.dedupStream(stream, "10 minutes", Seq("doc_id"))
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("dedup_sink").start()
    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    input.addData((t(0), 1L, "a"), (t(1), 1L, "a dup"), (t(1), 2L, "b"))
    q.processAllAvailable()
    input.addData((t(2), 2L, "b dup"), (t(3), 3L, "c")) // dups across batches too
    q.processAllAvailable()
    val out = spark.table("dedup_sink").select("doc_id").collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(out.sorted === Seq(1L, 2L, 3L), s"got $out")
  }

  test("foreachBatch sink with checkpoint: restart continues without reprocessing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_ckpt").toString
    val outDir = tempDir("graft_fb").toString
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val input = MemoryStream[Long]

    def start() = input.toDS().toDF("v")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // idempotent by batch id — the exactly-once foreachBatch contract
        if (seen.putIfAbsent(id, id) == null) {
          batch.write.mode("append").parquet(s"$outDir/data")
        }
        ()
      }
      .start()

    val q1 = start()
    input.addData(1L, 2L, 3L)
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same checkpoint → resumes after batch 0
    input.addData(4L, 5L)
    q2.processAllAvailable()
    q2.stop()

    val vals = spark.read.parquet(s"$outDir/data").collect().map(_.getLong(0)).sorted.toSeq
    assert(vals === Seq(1L, 2L, 3L, 4L, 5L), s"got $vals") // no dups, no loss
  }

  test("sessionize groups events by gap and emits on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000L,
      watermark = "0 seconds")
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_sink").start()

    // user 1: two bursts separated by > gap; user 2: one burst
    input.addData(
      Event(t(0), 1L, "view", 1.0), Event(t(5), 1L, "click", 2.0),
      Event(t(30), 1L, "view", 3.0),
      Event(t(2), 2L, "view", 5.0))
    q.processAllAvailable()
    // advance watermark far beyond everything → all sessions time out
    input.addData(Event(t(500), 99L, "view", 0.0))
    q.processAllAvailable()
    input.addData(Event(t(1000), 99L, "view", 0.0))
    q.processAllAvailable()
    val out = spark.table("sessions_sink").as[Session].collect()
    q.stop()

    val u1 = out.filter(_.userId == 1L).sortBy(_.sessionStart.getTime)
    assert(u1.length === 2, s"user1 sessions: ${u1.toSeq}")
    assert(u1(0).nEvents === 2 && math.abs(u1(0).sumValue - 3.0) < 1e-12)
    assert(u1(1).nEvents === 1 && math.abs(u1(1).sumValue - 3.0) < 1e-12)
    val u2 = out.filter(_.userId == 2L)
    assert(u2.length === 1 && u2(0).nEvents === 1)
  }

  test("transformWithState profile replay equals the batch per-user aggregate") {
    val streamed = EventStream.runProfileOnce(
      spark, "/root/testdata/sf0.001/events.parquet")
      .select("userId", "nEvents", "sumMicros", "recent5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val batch = graft.core.Tables
      .readEventsPath(spark, "/root/testdata/sf0.001/events.parquet")
      .withColumn("vmic", round(col("value") * lit(1000000L)).cast("long"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("vmic")).as("s"),
        array_join(transform(
          sort_array(collect_list(when(col("rn") <= 5,
            struct(col("rn"), col("event_id"))))),
          x => x.getField("event_id").cast("string")), ",").as("recent5"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed.nonEmpty && streamed === batch,
      s"diff=${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("transformWithState accumulates across micro-batches (multi-file replay)") {
    // split the events file into 4 parquet parts; maxFilesPerTrigger=1
    // forces one micro-batch per part, so per-user state must carry
    // across batches (totals add up, recent-5 merges across batches)
    val raw = graft.core.Tables
      .readEventsPath(spark, "/root/testdata/sf0.001/events.parquet")
    val dir = tempDir("graft_profile_multi").toString
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    val multi = EventStream.runProfileOnce(spark, dir,
      maxFilesPerTrigger = Some(1))
      .select("userId", "nEvents", "sumMicros", "recent5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val single = EventStream.runProfileOnce(
      spark, "/root/testdata/sf0.001/events.parquet")
      .select("userId", "nEvents", "sumMicros", "recent5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(multi.nonEmpty && multi === single,
      s"diff=${(multi diff single).take(3)} / ${(single diff multi).take(3)}")
  }

  test("streaming rolling-anomaly replay equals the batch z-scores bitwise") {
    val path = "/root/testdata/sf0.001/events.parquet"
    def key(t: (Long, Long, Long, Option[Double], Boolean)) = (t._1, t._2, t._4.getOrElse(0.0))
    val streamed = EventStream.runAnomalyOnce(spark, path)
      .collect().map(r => (r.getAs[Long]("userId"), r.getAs[Long]("tsMicros"),
        r.getAs[Long]("nPrior"),
        if (r.isNullAt(r.fieldIndex("z"))) None else Some(r.getAs[Double]("z")),
        r.getAs[Boolean]("isAnomaly")))
      .toSeq.sortBy(key)
    val ev = graft.core.Tables.readEventsPath(spark, path)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("value"))
    val batch = graft.core.Validation.rollingAnomalies(ev, "user_id", "tsu", "value",
        windowMicros = 86400L * 1000000L, minPoints = 5, k = 3.0)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("tsu"),
        r.getAs[Long]("n_prior"),
        if (r.isNullAt(r.fieldIndex("z"))) None else Some(r.getAs[Double]("z")),
        r.getAs[Boolean]("is_anomaly")))
      .toSeq.sortBy(key)
    assert(streamed.nonEmpty && streamed === batch,
      s"first diff: ${streamed.zip(batch).find(p => p._1 != p._2)}")
    // the fixture must actually exercise scoring
    assert(streamed.count(_._4.isDefined) > 0)
  }

  test("rolling-anomaly state carries across time-ordered micro-batches") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val ev = graft.core.Tables.readEventsPath(spark, path)
    // three time-ordered chunks, written SEQUENTIALLY so the file source
    // (mod-time order) replays them as three micro-batches
    val cuts = ev.select(unix_micros(col("ts")).as("tsu")).orderBy(col("tsu"))
      .collect().map(_.getLong(0))
    val (c1, c2) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val dir = tempDir("graft_anom_multi").toString
    Seq(
      ev.where(unix_micros(col("ts")) < c1),
      ev.where(unix_micros(col("ts")) >= c1 && unix_micros(col("ts")) < c2),
      ev.where(unix_micros(col("ts")) >= c2)
    ).foreach { chunk =>
      chunk.coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(20) // distinct mod times -> deterministic replay order
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("userId"), r.getAs[Long]("tsMicros"),
        r.getAs[Long]("nPrior"),
        if (r.isNullAt(r.fieldIndex("z"))) None else Some(r.getAs[Double]("z"))))
        .toSeq.sortBy(t => (t._1, t._2, t._4.getOrElse(0.0)))
    val multi = rows(EventStream.runAnomalyOnce(spark, dir,
      maxFilesPerTrigger = Some(1)))
    val single = rows(EventStream.runAnomalyOnce(spark, path))
    assert(multi.nonEmpty && multi === single,
      s"first diff: ${multi.zip(single).find(p => p._1 != p._2)}")
  }

  test("streaming merge state is independent of micro-batch boundaries") {
    import org.apache.spark.sql.functions._
    val path = "/root/testdata/sf0.001/events.parquet"
    def state(n: Int) = graft.streaming.EventStream.runMergeOnce(spark, path, nChunks = n)
      .orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    val a = state(2)
    val b = state(5)
    assert(a == b, "final merged state must not depend on chunking")
    // and it equals the batch latest-per-key answer
    val batch = graft.core.Tables.readEventsPath(spark, path)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id").desc)
    val expected = batch.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1).drop("rk")
      .orderBy(col("user_id")).collect().map(_.toSeq).toSeq
    assert(a == expected)
  }

  test("streaming count-MV state is chunking-independent and equals the batch GROUP BY") {
    import org.apache.spark.sql.functions._
    val path = "/root/testdata/sf0.001/events.parquet"
    val filter = pmod(col("user_id"), lit(2)) === 1
    def state(n: Int) = graft.streaming.EventStream
      .runCountMvOnce(spark, path, filter, nChunks = n)
      .orderBy(col("cat")).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val a = state(2)
    val b = state(5)
    assert(a == b, "count MV must not depend on micro-batch boundaries")
    val expected = graft.core.Tables.readEventsPath(spark, path)
      .where(filter)
      .groupBy(col("event_type").as("cat")).agg(count(lit(1)).as("o_cur"))
      .orderBy(col("cat")).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(a == expected)
  }

  test("streaming CMS-MV state is chunking-independent and equals the batch sketch build") {
    import org.apache.spark.sql.functions._
    val path = "/root/testdata/sf0.001/events.parquet"
    def state(n: Int) = graft.streaming.EventStream
      .runCmsMvOnce(spark, path, nChunks = n)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val a = state(2)
    val b = state(5)
    assert(a == b, "CMS merge is elementwise add — boundaries must not matter")
    val batch = graft.llm.Frequency.Cms
      .expand(graft.core.Tables.readEventsPath(spark, path).select(col("user_id")), "user_id")
      .groupBy(col("depth"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == batch)
  }

  test("near-dup ingest stream equals the full-corpus run, independent of chunking") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    def run(n: Int) = graft.streaming.IngestStream
      .runNearDupIngestOnce(spark, path, nChunks = n, w = 5, k = 64, bands = 32,
        minJaccard = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val chunked2 = run(2)
    val chunked4 = run(4)
    assert(chunked2 === chunked4, "pair set must not depend on micro-batch boundaries")
    val full = graft.llm.Dedup.minHashNearDup(
        spark.read.parquet(path), "doc_id", "text", w = 5, k = 64, bands = 32,
        minJaccard = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(chunked2.nonEmpty && chunked2 === full,
      s"missing=${(full.keySet diff chunked2.keySet).take(3)} " +
        s"extra=${(chunked2.keySet diff full.keySet).take(3)}")
  }

  test("embed ingest stream equals the full-corpus LSH run, independent of chunking") {
    val path = "/root/testdata/sf0.001/embeddings.parquet"
    def run(n: Int) = graft.streaming.IngestStream
      .runEmbedIngestOnce(spark, path, nChunks = n, minCos = 0.45,
        dim = 64, nPlanes = 16, nBands = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val chunked2 = run(2)
    val chunked3 = run(3)
    assert(chunked2 === chunked3, "pair set must not depend on micro-batch boundaries")
    val full = graft.llm.Dedup.cosinePairsLsh(
        spark.read.parquet(path), "vec_id", "embedding", minCos = 0.45,
        dim = 64, nPlanes = 16, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(chunked2.nonEmpty && chunked2 === full,
      s"missing=${(full.keySet diff chunked2.keySet).take(3)} " +
        s"extra=${(chunked2.keySet diff full.keySet).take(3)}")
  }

  test("intervalMs parses watermark strings; month intervals rejected") {
    assert(EventStream.intervalMs("1 hour") === 3600000L)
    assert(EventStream.intervalMs("30 minutes") === 1800000L)
    assert(EventStream.intervalMs("2 days") === 2 * 86400000L)
    intercept[IllegalArgumentException] { EventStream.intervalMs("1 month") }
  }

  test("native session_window merges sessions ACROSS micro-batches (split mid-session)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = input.toDS().toDF("ts", "user_id")
    val q = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        (unix_micros(col("session_window.end"))
          - unix_micros(col("session_window.start"))).as("span_us"))
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("sw_sink").start()
    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // batch 1: user 1 starts a session (events at 0, 10); user 2 one event
    input.addData((t(0), 1L), (t(10), 1L), (t(5), 2L))
    q.processAllAvailable()
    // batch 2: user 1 CONTINUES the same session (25 < 10+30) then a gap;
    // the state store must merge across the batch boundary
    input.addData((t(25), 1L), (t(90), 1L))
    q.processAllAvailable()
    // batch 3: watermark pusher far out → all sessions emit
    input.addData((t(500), 99L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sw_sink").where(col("user_id") =!= 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1: one merged 3-event session spanning 0–25 (+30 gap), one
    // single-event session at 90; user 2: single event
    assert(out === Set(
      (1L, 3L, (25L + 30L) * 60000000L),
      (1L, 1L, 30L * 60000000L),
      (2L, 1L, 30L * 60000000L)))
  }

  test("MV fold replay skips an already-committed generation (at-least-once redelivery)") {
    // foreachBatch is at-least-once: a retried micro-batch must NOT fold
    // twice. foldMvReplay keys generations off the engine batchId and
    // skips a batch whose output generation carries _SUCCESS — simulated
    // here by pre-committing batch 0's output (state_1) with a SENTINEL
    // count before the stream starts. A driver-side generation counter
    // (the old pattern) would fold batch 0 on top of it; the contract is
    // that batch 0 is skipped, so the final count is exactly
    // sentinel + rows of batches 1..n-1.
    import java.nio.file.Files
    val work = tempDir("graft_spec_mvidem")
    val srcDir = work.resolve("src").toString
    val s = spark; import s.implicits._
    Seq.tabulate(30)(i => (i.toLong, i % 3)).toDF("v", "chunk")
      .repartitionByRange(3, col("chunk"))
      .write.mode("overwrite").parquet(srcDir)
    val sentinel = 1000000L
    Seq(sentinel).toDF("n").write.parquet(work.resolve("state_1").toString)
    assert(Files.exists(work.resolve("state_1").resolve("_SUCCESS")))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("chunk", org.apache.spark.sql.types.IntegerType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val state = EventStream.foldMvReplay(spark, work, stream) { (prev, batch) =>
      val partial = batch.agg(count(lit(1)).as("n"))
      prev.fold(partial)(st =>
        st.unionByName(partial).agg(sum(col("n")).as("n")))
    }
    // 3 range-chunks of 10 rows each: batch 0 skipped (its committed
    // generation wins), batches 1 and 2 fold their 10 rows each.
    assert(state.head.getLong(0) === sentinel + 20L)
  }

  test("MV fold replay re-folds an UN-committed generation (crash-mid-write recovery)") {
    // The other half of the idempotence contract: foldMvReplay checks
    // _SUCCESS, not directory existence, so a generation directory left
    // by a crash mid-write — parquet part-files present, no commit
    // marker — must be RE-FOLDED from its input batch, with
    // mode("overwrite") clearing the partial garbage. A
    // directory-existence check (the naive pattern) would trust the
    // half-written state: here that would either crash on the corrupt
    // part-file or silently serve garbage. Planted: state_1 with a
    // syntactically invalid parquet part-file and NO _SUCCESS.
    import java.nio.file.Files
    val work = tempDir("graft_spec_mvrecover")
    val srcDir = work.resolve("src").toString
    val s = spark; import s.implicits._
    Seq.tabulate(30)(i => (i.toLong, i % 3)).toDF("v", "chunk")
      .repartitionByRange(3, col("chunk"))
      .write.mode("overwrite").parquet(srcDir)
    val gen1 = work.resolve("state_1")
    Files.createDirectories(gen1)
    Files.write(gen1.resolve("part-00000-crash-remnant.snappy.parquet"),
      "NOT A PARQUET FILE".getBytes("UTF-8"))
    assert(!Files.exists(gen1.resolve("_SUCCESS")))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("chunk", org.apache.spark.sql.types.IntegerType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val state = EventStream.foldMvReplay(spark, work, stream) { (prev, batch) =>
      val partial = batch.agg(count(lit(1)).as("n"))
      prev.fold(partial)(st =>
        st.unionByName(partial).agg(sum(col("n")).as("n")))
    }
    // batch 0 re-folds over the garbage (10 rows), batches 1 and 2 fold
    // on top — the crash remnant contributes NOTHING to the final state
    assert(state.head.getLong(0) === 30L,
      "un-committed generation was trusted instead of re-folded")
  }

  test("streaming HLL distinct-count state merges across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = input.toDS().toDF("ts", "user_id")
    val q = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("est"))
      .writeStream.outputMode(OutputMode.Complete()).format("memory")
      .queryName("hll_sink").start()
    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // 60 distinct users split over three batches with overlaps: the
    // per-window sketch in the state store must union the partials
    input.addData((0 until 30).map(i => (t(i), i.toLong)): _*)
    q.processAllAvailable()
    input.addData((15 until 45).map(i => (t(i), i.toLong)): _*)
    q.processAllAvailable()
    input.addData((30 until 60).map(i => (t(i), i.toLong)): _*)
    q.processAllAvailable()
    q.stop()
    val est = spark.table("hll_sink").collect().map(_.getLong(1)).sum
    // HLL at lgK=12 is exact at this cardinality (sparse mode)
    assert(est === 60L, s"streamed HLL estimate $est != 60 distinct")
  }
}
