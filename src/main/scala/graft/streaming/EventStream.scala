package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.io.Generations

/** Structured Streaming surface over the events table: watermarked
  * windowed aggregation and stateful sessionization — the stream shapes
  * a training-data/analytics pipeline needs (the reference itself has no
  * streams; this is the extension surface from SURVEY.md §7.6).
  *
  * Scale stance: windowed aggs shuffle on (window, key) with partial
  * aggregation; sessionization shuffles once on user and holds one small
  * state object per active key with event-time timeout — both the
  * standard unbounded-input shapes. Tests drive them with MemoryStream
  * (deterministic); `runWindowedOnce` replays a bounded parquet dir with
  * Trigger.AvailableNow, so the final result is comparable to the batch
  * answer (and DuckDB-oracle-checkable).
  */
object EventStream {

  /** Parse an interval string like "1 hour" / "30 minutes" to millis —
    * the replay helpers need the watermark delay as a number to size the
    * sentinel margin, and hardcoding it risks drifting from the caller's
    * argument. Spark's own interval parser keeps the two in lockstep. */
  private[graft] def intervalMs(interval: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(iv.months == 0, s"month-based watermark '$interval' has no fixed millis length")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Session conf knob for the bounded-replay state-partition cap (see
    * [[withReplayPartitions]]). Unset, the cap is
    * [[DefaultReplayPartitions]], which suits local bounded replays; a
    * cluster deployment streaming at rate should RAISE it toward its
    * executor-core count (state partitions are the parallelism unit of
    * every stateful operator) — e.g. 200–400 on a 100-executor job —
    * since the cap only pays off when per-partition state-store commit
    * overhead dominates, which is a bounded-replay trait, not a
    * production-stream one. */
  val ReplayPartitionsKey = "spark.graft.streaming.replayPartitions"

  /** The replay cap every [[graft.Session]] sets, and the one an unset
    * [[ReplayPartitionsKey]] falls back to. */
  private[graft] val DefaultReplayPartitions = 4

  /** Test-only micro-batch PLAN probe (StreamingPlanShapeSpec): when
    * non-null, every `foreachBatch` runner offers its per-batch derived
    * frame (the fold output in [[foldMvReplay]], the pair/index frames
    * in IngestStream) before writing it — the spec reads BOTH the
    * physical plan (BNLJ/Cartesian audit) and the optimized logical plan
    * (the unbounded collect-buffer audit, GroupArrayGuard's walk —
    * consistent with GroupArrayGuardSpec's walk over optimized plans). This
    * is the only window where the micro-batch shapes are visible — the
    * DECLARED frame of a streaming query is just a scan of the replay's
    * output, so the batch-side audits must hook here. Null in
    * production: one volatile read per micro-batch. */
  private[graft] val batchPlanProbe = new java.util.concurrent.atomic.AtomicReference[
    DataFrame => Unit](null)

  private[graft] def probeBatchPlan(df: DataFrame): Unit = {
    val f = batchPlanProbe.get()
    if (f != null) f(df)
  }

  /** Width of the event_id slices the st23/st24 MV folds summarize by
    * (seg = event_id div SliceWidth). ONE definition shared by the two
    * folds AND the two compactors' seg reassignment — the compacted
    * row's seg must be recomputed under the same width the fold keys
    * by, so a width change in one place must not silently desync the
    * other (previously a literal 1000 in four places). */
  private[graft] val SliceWidth = 1000L

  /** Bounded-replay sizing: each stateful operator commits one state
    * store per shuffle partition per micro-batch, so a replay over ~1e5
    * rows pays pure per-partition overhead at 32 partitions (measured 2×
    * on the stream-stream join: 5.6 s → 3.1 s steady at 8). Production
    * streams size `spark.sql.shuffle.partitions` to their rate; replays
    * cap it at [[ReplayPartitionsKey]] (default [[DefaultReplayPartitions]])
    * and restore the session value afterwards. AQE is off for the replay
    * window: the per-micro-batch plan is the same fixed plan over an
    * explicitly capped partition count every trigger, so adaptive
    * re-optimization has nothing to adapt — it only adds per-batch
    * re-planning latency and one scheduler job per materialized shuffle
    * stage (censused: ~20–30 single-task jobs per MV replay, the family's
    * dominant cost). Both confs are set BEFORE the stream starts, so the
    * streaming query's cloned session inherits them, and restored after
    * it terminates. */
  private[streaming] def withReplayPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val prevAqe = spark.conf.get(aqeKey)
    val cap = spark.conf.getOption(ReplayPartitionsKey).map(_.toInt)
      .getOrElse(DefaultReplayPartitions)
    require(cap >= 1, s"$ReplayPartitionsKey must be >= 1, got $cap")
    spark.conf.set(key, math.min(prev.toInt, cap).toString)
    spark.conf.set(aqeKey, "false")
    try body finally {
      spark.conf.set(key, prev)
      spark.conf.set(aqeKey, prevAqe)
    }
  }

  /** Deletes `dir` and its contents; a missing dir is a no-op, since
    * [[foldMvReplay]] removes its work dir itself before the enclosing
    * [[withTempDir]] gets to it. */
  private def rmTree(dir: Path): Unit = if (Files.exists(dir)) {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala.toSeq.reverseIterator
      .foreach(p => Files.deleteIfExists(p))
  }

  /** Runs `body` on a fresh temp dir `prefix…` and deletes the dir when
    * `body` returns OR throws, so a failed replay leaves nothing
    * behind. Every frame a replay returns is already materialized (a
    * memory sink's rows, or a `localCheckpoint`), so nothing reads the
    * dir afterwards. */
  private[streaming] def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally rmTree(dir)
  }

  /** Replay directory: the events input as a directory a file stream can
    * read, for the length of `body`. FileStreamSource wants a directory
    * and the corpus ships single files, so a file is exposed through a
    * symlink in a temp dir (no data copied; a directory passes through
    * as is). `rewrite` instead writes a fresh copy into the temp dir —
    * the sentinel-carrying replays, whose sentinel rows must carry the
    * same ts encoding as the data. The temp dir is deleted as in
    * [[withTempDir]]. */
  private def withReplayDir[T](path: String, rewrite: Option[String => Unit] = None)(
      body: String => T): T = {
    val src = Paths.get(path)
    if (rewrite.isEmpty && Files.isDirectory(src)) body(path)
    else withTempDir("graft_stream") { d =>
      rewrite match {
        case Some(write) => write(d.toString)
        case None => Files.createSymbolicLink(d.resolve(src.getFileName), src)
      }
      body(d.toString)
    }
  }

  private val replaySeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Memory-sink replay: runs `frame` to completion (Trigger.AvailableNow)
    * into a memory sink of its own name under [[withReplayPartitions]] and
    * returns the sink's table. `rocksDb` scopes the state store provider
    * to RocksDB for the replay and restores the session's afterwards.
    * transformWithState requires RocksDB. A session-window replay holds
    * EVERY session of the file in one micro-batch's state, which the
    * default in-memory provider cannot spill (it OOMs at the ×100 gate);
    * RocksDB is also the cluster-correct provider for session state at
    * any real rate. */
  private def replayToMemory(spark: SparkSession, frame: Dataset[_], mode: OutputMode,
      rocksDb: Boolean = false): DataFrame = {
    val name = s"graft_replay_${replaySeq.incrementAndGet()}"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    if (rocksDb) spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try withReplayPartitions(spark) {
      frame.writeStream
        .queryName(name)
        .outputMode(mode)
        .format("memory")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally if (rocksDb) prevProvider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
    spark.table(name)
  }

  /** Chunked source: writes `frame` range-chunked on `idCol` into
    * `nChunks` files under `work/src` and returns the stream that reads
    * them back one file per micro-batch — the multi-batch replay of the
    * MV folds and the ingest loops. The stream's schema is the written
    * frame's own, so no footer read is added. */
  private[streaming] def chunkedSource(work: Path, frame: DataFrame, idCol: String,
      nChunks: Int): DataFrame = {
    val srcDir = work.resolve("src").toString
    frame.repartitionByRange(nChunks, col(idCol)).write.mode("overwrite").parquet(srcDir)
    frame.sparkSession.readStream
      .schema(frame.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
  }

  /** Shared replay loop for the MV-maintenance runners (merge/agg/
    * count/first-seen/KLL/top-k/CMS): drives the stream with
    * `foreachBatch`, folding `state_{batchId} → state_{batchId+1}` via
    * `fold(prevState, batch)` (prevState is None on the first batch).
    *
    * Generations are keyed off the ENGINE-SUPPLIED batchId, never a
    * driver-side counter, and each is a [[graft.io.Generations]] commit:
    * `foreachBatch` is at-least-once, so a redelivered micro-batch whose
    * output generation is already committed is SKIPPED (a counter-based
    * loop would fold the same rows twice, corrupting every
    * non-idempotent fold: counts, sums, KLL weights), and a generation
    * half-written by a crash is re-folded, never trusted. The marker
    * rule lives in that module.
    *
    * Returns the final state, `localCheckpoint`ed so it survives
    * deleting the scratch generations without a driver collect. */
  private[graft] def foldMvReplay(spark: SparkSession, work: java.nio.file.Path,
      stream: DataFrame)(
      fold: (Option[DataFrame], DataFrame) => DataFrame): DataFrame = {
    val lastGen = new java.util.concurrent.atomic.AtomicLong(0L)
    def gen(i: Long) = work.resolve(s"state_$i").toString
    withReplayPartitions(spark) {
      val q = stream.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Generations.commit(spark, gen(batchId + 1)) {
            val prev =
              if (batchId == 0L) None else Some(Generations.read(spark, gen(batchId)))
            val out = fold(prev, batch)
            probeBatchPlan(out)
            out
          }
          lastGen.updateAndGet(g => math.max(g, batchId + 1))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val last = lastGen.get()
    require(last >= 2, s"MV replay must run multiple micro-batches, ran $last")
    val state = Generations.read(spark, gen(last)).localCheckpoint(true)
    rmTree(work)
    state
  }

  /** The MV runners' replay: `cols` of the events at `path`, as a
    * [[chunkedSource]] range-chunked on event_id into a fresh work dir
    * (deleted afterwards, also on failure), folded by [[foldMvReplay]]. */
  private def foldEventsMv(spark: SparkSession, path: String, nChunks: Int, cols: String*)(
      fold: (Option[DataFrame], DataFrame) => DataFrame): DataFrame =
    withTempDir("graft_stream_mv") { work =>
      val events = graft.core.Tables.readEventsPath(spark, path).select(cols.map(col): _*)
      foldMvReplay(spark, work, chunkedSource(work, events, "event_id", nChunks))(fold)
    }

  /** Footer-derived raw schema of an events parquet path — `readStream`
    * requires an explicit schema, and hardcoding one breaks the moment the
    * producer changes `ts` encoding (INT64 TIMESTAMP(NANOS) surfaces as
    * LongType under `nanosAsLong`; TIMESTAMP(MICROS) as TIMESTAMP_NTZ or
    * TIMESTAMP). One batch footer read per replay — no data scan. Every
    * stream normalizes `ts` right after the scan via
    * [[graft.core.Tables.normalizeEventTs]].
    *
    * The `nanosAsLong` set is a DELIBERATE session-wide leak, same
    * contract as [[graft.core.Tables.readEventsPath]]: the flag must be
    * live for every later micro-batch read of the stream built from
    * this schema, so a scoped set-and-restore would fail at the first
    * trigger after the restore. */
  def rawEventSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path).schema
  }

  private def normTs(df: DataFrame): DataFrame = graft.core.Tables.normalizeEventTs(df)

  /** Tumbling-window count/sum per event_type with a watermark. The sum
    * is decimal-accumulated then emitted as double (the repo-wide `Det`
    * contract), so the result is order- and partitioning-independent —
    * required for the stream≡batch≡oracle hash parity. */
  def windowedAgg(events: DataFrame, window: String = "1 day",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(27, 6))).cast(DoubleType).as("sum_value"))
      .select(
        col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Replay a bounded parquet events dir as a stream (Trigger.AvailableNow,
    * complete mode into a memory sink) and return the final window table —
    * the stream/batch parity surface. */
  def runWindowedOnce(spark: SparkSession, path: String,
      window: String = "1 day"): DataFrame = withReplayDir(path) { dir =>
    val stream = normTs(spark.readStream.schema(rawEventSchema(spark, path)).parquet(dir))
    replayToMemory(spark, windowedAgg(stream, window), OutputMode.Complete())
  }

  /** Bounded replay of the stream-static ENRICHMENT shape (same
    * scaffolding as [[runWindowedOnce]]): the event stream broadcast-joins
    * a static dimension keyed on event_type, then aggregates per
    * (day window, category). The dim here is derived from the data
    * (distinct event_type → its upper-cased 3-char prefix), so the result
    * is DuckDB-oracle-checkable while still driving a real per-batch
    * stream-static join. */
  def runEnrichedOnce(spark: SparkSession, path: String,
      window: String = "1 day"): DataFrame = withReplayDir(path) { dir =>
    val schema = rawEventSchema(spark, path)
    val dim = spark.read.schema(schema).parquet(dir)
      .select(col("event_type")).distinct()
      .withColumn("category", upper(substring(col("event_type"), 1, 3)))
    val stream = normTs(spark.readStream.schema(schema).parquet(dir))
    replayToMemory(spark, stream
      .withWatermark("ts", "1 hour")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(27, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("category"), col("n"), col("sum_value")),
      OutputMode.Complete())
  }

  /** Bounded replay of the streaming DISTINCT-COUNT shape: exact
    * `countDistinct` is NOT supported inside streaming aggregations
    * (its state would be the full key set per group), so the production
    * pattern is a mergeable DataSketches HLL per (window, key) —
    * partial sketches merge across micro-batches in the state store
    * like any other partial aggregate (HLL union takes the max per
    * register: order- and batching-insensitive), and the final sketch's
    * estimate equals the one-shot batch build's bit-for-bit. Same
    * scaffolding as [[runWindowedOnce]]; returns
    * (window_start, event_type, n_est). */
  def runHllWindowOnce(spark: SparkSession, path: String,
      window: String = "1 day", lgK: Int = 12): DataFrame = withReplayDir(path) { dir =>
    val stream = normTs(spark.readStream.schema(rawEventSchema(spark, path)).parquet(dir))
    replayToMemory(spark, stream
      .withWatermark("ts", "1 hour")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lgK).as("sk"))
      .select(col("window.start").as("window_start"), col("event_type"),
        hll_sketch_estimate(col("sk")).as("n_est")),
      OutputMode.Complete())
  }

  /** Stream-static enrichment: join the event stream with a static
    * dimension table (broadcast per micro-batch — no stream state), then
    * aggregate. The standard enrichment shape: static side is re-read
    * per batch, stream side never shuffles for the join. */
  def enrichedCounts(events: DataFrame, dim: DataFrame, joinKey: String,
      groupCol: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq(joinKey))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"), col(groupCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(groupCol), col("n"))

  /** Bounded replay of a STREAM-STREAM event-time interval join: clicks
    * and purchases are two independent readStreams over the same events
    * file; each click inner-joins every purchase by the same user within
    * `windowHours` AFTER it. Both sides carry watermarks and the join
    * condition bounds both event-time columns — the only shape under
    * which Spark can evict join state on an unbounded stream (state per
    * side ≈ one watermark-window of rows, not the whole history). Inner
    * join: pairs emit as soon as both rows arrive; no sentinel needed. */
  def runIntervalJoinOnce(spark: SparkSession, path: String,
      windowHours: Int = 24): DataFrame = withReplayDir(path) { dir =>
    val schema = rawEventSchema(spark, path)
    def stream = normTs(spark.readStream.schema(schema).parquet(dir))
    val clicks = stream.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = stream.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    replayToMemory(spark, clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowHours HOURS"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"), col("value")),
      OutputMode.Append())
  }

  /** Bounded replay of the stream-stream LEFT OUTER interval join — the
    * subtlest streaming semantic: an unmatched left row can only emit its
    * null-extended result once the watermark proves no match can still
    * arrive (matched pairs emit immediately, like the inner join). On a
    * finite file the watermark stalls at `max(ts) − delay`, which would
    * swallow every unmatched click in the trailing `window + delay` —
    * so the replay plants one sentinel click+purchase pair (user −1) far
    * enough out that every real click's join window is provably closed,
    * then filters the sentinel pair back out. Same technique as
    * [[runSessionizeOnce]]'s session flush. */
  def runIntervalJoinLeftOuterOnce(spark: SparkSession, path: String,
      windowHours: Int = 24, watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    // normalize ts in batch first (type-adaptive), so the rewritten temp
    // file always carries a proper timestamp regardless of source encoding
    val raw = graft.core.Tables.readEventsPath(spark, path)
    val maxTsRow = raw.agg(max(unix_micros(col("ts")))).head
    if (maxTsRow.isNullAt(0))
      return Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp, java.lang.Double)]
        .toDF("user_id", "click_ts", "purchase_ts", "value")
    val wmMs = intervalMs(watermark)
    val sentinelMicros = maxTsRow.getLong(0) +
      (windowHours * 3600000L + 2 * wmMs + 3600000L) * 1000L
    val sentinels = Seq(
      (-1L, sentinelMicros, -1L, "click", 0.0, ""),
      (-1L, sentinelMicros, -1L, "purchase", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
    withReplayDir(path,
        Some(d => raw.unionByName(sentinels).write.mode("overwrite").parquet(d))) { dir =>
      def stream = normTs(spark.readStream.schema(rawEventSchema(spark, dir)).parquet(dir))
      val clicks = stream.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", watermark)
      val purchases = stream.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
        .withWatermark("purchase_ts", watermark)
      replayToMemory(spark, clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowHours HOURS"),
          "left_outer")
        .select(col("user_id"), col("click_ts"), col("purchase_ts"), col("value")),
        OutputMode.Append())
    }.where(col("user_id") =!= -1L)
  }

  /** Bounded replay of [[dedupStream]] with PLANTED duplicates: every
    * third event is unioned in twice, the doubled file replays through
    * `dropDuplicatesWithinWatermark(event_id)`, and the sink must equal
    * the original table exactly (planted dupes carry identical
    * timestamps, so they always fall inside the watermark horizon —
    * the one case streaming dedup guarantees). */
  def runDedupOnce(spark: SparkSession, path: String,
      watermark: String = "1 hour"): DataFrame = {
    val raw = graft.core.Tables.readEventsPath(spark, path)
    withReplayDir(path, Some(d => raw.union(raw.where(pmod(col("event_id"), lit(3)) === 0))
        .write.mode("overwrite").parquet(d))) { dir =>
      val stream = normTs(spark.readStream.schema(rawEventSchema(spark, dir)).parquet(dir))
      replayToMemory(spark, dedupStream(stream, watermark, Seq("event_id")), OutputMode.Append())
    }
  }

  /** Bounded replay of the continuous-ingest MERGE maintenance loop:
    * the events changelog, chunked into `nChunks` files and streamed
    * one file per micro-batch (`maxFilesPerTrigger=1`), upserts a
    * persistent key-latest state table via `foreachBatch` +
    * [[graft.core.Merge.latestWins]] — the read-merge-write cycle a
    * lakehouse ingest job runs on every trigger.
    *
    * Why this is oracle-checkable: with version = event_id,
    * max-version-wins is associative and commutative over batches, so
    * the final state equals the batch latest-per-key answer REGARDLESS
    * of batch boundaries or file arrival order — stream ≡ batch parity
    * like every other st query.
    *
    * State lives in [[graft.io.Generations]] (read gen i, merge, write
    * gen i+1); at scale the snapshot side of each merge would also be
    * partition-pruned by the batch's key range (see Merge scaladoc).
    * The returned frame is `localCheckpoint`ed (materialized to executor
    * block storage) so it survives deleting the scratch generations
    * WITHOUT a driver collect — state rows scale with |distinct users|,
    * which at 100× would OOM a collect-and-reparallelize return path;
    * the production result IS the final parquet generation. */
  def runMergeOnce(spark: SparkSession, path: String, nChunks: Int = 4): DataFrame =
    foldEventsMv(spark, path, nChunks, "user_id", "event_id", "event_type", "value") {
      (prev, batch) =>
        val state = prev.getOrElse(Generations.empty(spark, batch.schema))
        graft.core.Merge.latestWins(state, batch, "user_id", "event_id")
    }

  /** Bounded replay of the streaming MATERIALIZED-VIEW maintenance loop
    * — [[runMergeOnce]]'s shape with AGGREGATE state instead of
    * key-latest rows: each micro-batch's algebraic partials
    * ([[graft.core.Merge.aggPartials]]) fold into the at-rest MV via
    * [[graft.core.Merge.mergeAggState]] (counts / exact decimal sums /
    * min / max — associative and commutative, so the final state equals
    * the one-shot aggregate REGARDLESS of batch boundaries), and the MV
    * update cost per trigger is O(batch + touched keys), never
    * O(history). Same alternating parquet generations; returns the
    * final state (localCheckpoint'ed — state rows scale with |keys|). */
  def runAggMergeOnce(spark: SparkSession, path: String,
      nChunks: Int = 4): DataFrame =
    foldEventsMv(spark, path, nChunks, "event_id", "event_type", "value") { (prev, batch) =>
      val partials = graft.core.Merge.aggPartials(
        batch, Seq("event_type"), "value")
      prev.fold(partials)(state =>
        graft.core.Merge.mergeAggState(state, partials, Seq("event_type")))
    }

  /** Bounded replay of a streaming CATEGORY-COUNT materialized view —
    * the state a continuously-served drift monitor keeps at rest: each
    * micro-batch's per-category counts fold into a k-row count table
    * (associative integer sums — final state ≡ one-shot GROUP BY
    * regardless of batch boundaries), so the chi-square gate
    * ([[graft.core.Validation.chiSquareFromCells]]) reads k rows per
    * evaluation instead of re-scanning the corpus. `filter` selects the
    * monitored (current) slice of the replayed table. Per-trigger cost
    * O(batch + k); same alternating parquet generations as
    * [[runAggMergeOnce]]. Returns the final (cat, o_cur) state. */
  def runCountMvOnce(spark: SparkSession, path: String,
      filter: org.apache.spark.sql.Column, nChunks: Int = 4): DataFrame =
    foldEventsMv(spark, path, nChunks, "event_id", "user_id", "event_type") { (prev, batch) =>
      val partials = batch.where(filter)
        .groupBy(col("event_type").as("cat"))
        .agg(count(lit(1)).as("o_cur"))
      prev.fold(partials)(state => state.unionByName(partials)
        .groupBy(col("cat")).agg(sum(col("o_cur")).as("o_cur")))
    }

  /** Streaming EXACT-DISTINCT maintenance (st20 — u6's streaming twin):
    * per micro-batch, [[graft.core.Merge.firstSeenNew]] anti-joins the
    * batch's distinct key tuples against the at-rest seen-set and only
    * the genuinely-new tuples extend the state. Set union is
    * commutative/idempotent over tuples, so the MV is correct under the
    * file source's ARBITRARY batch order, and the final state is
    * exactly distinct(corpus) — the aggregate streaming engines cannot
    * maintain natively (the state IS the key set; st13's HLL is the
    * bounded-state approx twin). Per-trigger cost O(batch + keyed
    * probe); returns the final distinct-pair state. */
  def runFirstSeenMvOnce(spark: SparkSession, path: String,
      nChunks: Int = 4): DataFrame = {
    val cols = Seq("event_type", "user_id")
    foldEventsMv(spark, path, nChunks, "event_id", "user_id", "event_type") { (prev, batch) =>
      prev.fold(batch.select(cols.map(col): _*).distinct())(state =>
        state.unionByName(graft.core.Merge.firstSeenNew(state, batch, cols)))
    }
  }

  /** Streaming BLOOM-INDEX maintenance (st21 — u11's streaming twin,
    * extending the sketch-MV family with the MEMBERSHIP sketch): per
    * micro-batch, the batch's signup keys fold their ≤1024-row word
    * bitset into the at-rest filter by keyed BIT_OR
    * ([[graft.llm.Frequency.Bloom]]). BIT_OR is idempotent AND
    * commutative — the one fold here that is provably correct under
    * BOTH arbitrary batch order and at-least-once redelivery by algebra
    * alone (counting folds need [[foldMvReplay]]'s batchId dedup for
    * the latter; this one would survive even without it). Final state ≡
    * one-shot build bit-for-bit, which is what the membership oracle
    * replays. State ≤1024 rows at every generation; per-trigger cost
    * O(batch + 1024). Returns the final (idx, w) bitset. */
  def runBloomMvOnce(spark: SparkSession, path: String,
      nChunks: Int = 4): DataFrame = {
    val B = graft.llm.Frequency.Bloom
    foldEventsMv(spark, path, nChunks, "event_id", "user_id", "event_type") { (prev, batch) =>
      val partial = B.build(batch.where(col("event_type") === "signup")
        .select(col("user_id").as("u")).distinct(), "u")
      prev.fold(partial)(st => B.merge(st, partial))
    }
  }

  /** Streaming ZONE-MAP maintenance (st22 — u12's streaming twin): per
    * micro-batch, the batch's per-bucket (min, max) fold into the
    * at-rest map by keyed MIN/MAX — idempotent AND commutative like
    * st21's BIT_OR, so the folded map is identical to a one-shot GROUP
    * BY under any batch order or redelivery. This is how a table
    * format's file-skipping statistics stay current under continuous
    * ingest without manifest rescans: state = O(buckets) rows at every
    * generation, per-trigger cost O(batch + touched buckets). Returns
    * the final (bucket, mn, mx) map. */
  def runZoneMapMvOnce(spark: SparkSession, path: String,
      nChunks: Int = 4): DataFrame = {
    def zm(df: DataFrame) = df
      .groupBy(expr("event_id div 1000").as("bucket"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    foldEventsMv(spark, path, nChunks, "event_id", "value") { (prev, batch) =>
      prev.fold(zm(batch))(st => st.unionByName(zm(batch))
        .groupBy(col("bucket"))
        .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx")))
    }
  }

  // ---- slice-state compaction (st23/st24) ---------------------------------

  /** Driver-side union of coverage intervals: sort by lo, sweep, merge
    * overlapping or integer-abutting (next.lo ≤ cur.hi + 1) ranges.
    * Input size is O(batches since last compaction + in-flight holes) —
    * one sentinel per micro-batch, re-merged every cycle — so the
    * require cap is a real bound, not a hope (the audited S7 class). */
  private[graft] def mergeIntervals(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    require(ivs.size <= 100000,
      s"coverage sentinel count ${ivs.size} exceeds the compaction cap — " +
        "raise the compaction cadence")
    val sorted = ivs.sortBy(identity)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for ((lo, hi) <- sorted) {
      if (out.nonEmpty && lo <= out.last._2 + 1)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, hi))
      else out += ((lo, hi))
    }
    out.toSeq
  }

  /** Marks per-user lo-consecutive state rows whose gap is PROVABLY
    * complete — every integer in (prev.hi, lo) lies inside one merged
    * coverage interval, so no event can still arrive between them (the
    * arrival-order trap DrawdownFoldSpec pins is exactly merging across
    * an UNPROVEN gap) — and assigns a run id to each maximal mergeable
    * chain. Coverage comes from the sentinel rows each micro-batch
    * appends (its contiguous source id-range — the replay's
    * range-partitioned chunks model a log source's per-partition offset
    * ranges, which carry the same contract in production). Returns the
    * rows with a `run` column; the caller merges each (user, run) group
    * with its statistic's own identity. Keyed windows only — running
    * lag/sum over (user) — so the marking shuffles once and spills. */
  private def markMergeRuns(rows: DataFrame, cov: Seq[(Long, Long)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("lo"))
    val gapLo = col("prev_hi") + 1
    val gapHi = col("lo") - 1
    val covered = (gapLo > gapHi) || cov.map { case (a, c) =>
      gapLo >= lit(a) && gapHi <= lit(c)
    }.foldLeft(lit(false))(_ || _)
    rows
      .withColumn("prev_hi", lag(col("hi"), 1).over(w))
      .withColumn("brk",
        when(col("prev_hi").isNull || !covered, 1L).otherwise(0L))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Long.MinValue, 0L)))
      .drop("prev_hi", "brk")
  }

  /** Compacts the drawdown slice state: provably-adjacent per-user runs
    * collapse to ONE summary row via the same identity the read uses —
    * merged dd = max over the run of max(dd_i, prefixmax(mx)_{<i} −
    * mn_i), a keyed prefix-max window plus a group agg (no sequential
    * walk; every candidate is a pick or subtraction of observed
    * doubles, so compacted state reads BIT-EQUAL to uncompacted).
    * Sentinels are re-merged into O(in-flight holes) rows, which is
    * what turns state growth from O(stream age) into O(users ×
    * in-flight gaps). If coverage is too fragmented to inline as a
    * predicate (> 64 intervals), the ROW merge is skipped — compaction
    * is an optimization and must never be wrong — but the sentinels are
    * STILL replaced by the merged coverage (already computed), so the
    * sentinel partition stays O(in-flight holes) even on a perpetually
    * fragmented stream; before this, each skipped cycle left one
    * sentinel per micro-batch accumulating until the mergeIntervals cap
    * killed the replay (the O(stream age) growth this compactor exists
    * to remove, recreated on its own skip path). */
  private[graft] def compactDrawdownState(spark: SparkSession,
      state: DataFrame, width: Long = SliceWidth): DataFrame = {
    val sent = state.where(col("user_id") === -1L)
    val rows = state.where(col("user_id") >= 0L)
    val cov = mergeIntervals(sent.select(col("lo"), col("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    if (cov.isEmpty) return state
    val s = spark; import s.implicits._
    val sentinel = cov.toDF("lo", "hi").select(
      lit(-1L).as("user_id"), lit(-1L).as("seg"), col("lo"), col("hi"),
      lit(0L).as("cnt"), lit(0.0).as("mn"), lit(0.0).as("mx"),
      lit(0.0).as("dd"))
    if (cov.size > 64) return rows.unionByName(sentinel)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("run")).orderBy(col("lo"))
    val merged = markMergeRuns(rows, cov)
      .withColumn("prev_peak",
        max(col("mx")).over(wr.rowsBetween(Long.MinValue, -1L)))
      .withColumn("ddc", when(col("prev_peak").isNotNull,
        greatest(col("dd"), col("prev_peak") - col("mn")))
        .otherwise(col("dd")))
      .groupBy(col("user_id"), col("run"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(col("cnt")).as("cnt"), min(col("mn")).as("mn"),
        max(col("mx")).as("mx"), max(col("ddc")).as("dd"))
      .select(col("user_id"), expr(s"lo div $width").as("seg"), col("lo"),
        col("hi"), col("cnt"), col("mn"), col("mx"), col("dd"))
    merged.unionByName(sentinel)
  }

  /** Compacts the autocorr slice state ([[compactDrawdownState]]'s
    * pattern for st24): within a provably-adjacent run, each absorbed
    * boundary contributes the SAME decimal-quantized pair terms the
    * read would reconstruct — (lastv_prev, firstv_cur) via a keyed lag
    * — so the merged moments are the identical decimal sums in a
    * different (exact, commutative) addition order: compacted reads
    * bit-equal to uncompacted. */
  private[graft] def compactAutocorrState(spark: SparkSession,
      state: DataFrame, width: Long = SliceWidth): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(37, 6)
    val zero = lit(0).cast(dec)
    val sent = state.where(col("user_id") === -1L)
    val rows = state.where(col("user_id") >= 0L)
    val cov = mergeIntervals(sent.select(col("lo"), col("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    if (cov.isEmpty) return state
    val s = spark; import s.implicits._
    val sentinel = cov.toDF("lo", "hi").select(
      lit(-1L).as("user_id"), lit(-1L).as("seg"), col("lo"), col("hi"),
      lit(0L).as("cnt"), lit(0.0).as("firstv"), lit(0.0).as("lastv"),
      lit(0L).as("np"), zero.as("sx"), zero.as("sy"), zero.as("sxx"),
      zero.as("syy"), zero.as("sxy"))
    // fragmented coverage (> 64 intervals): skip the row merge but
    // still collapse the sentinels — see compactDrawdownState
    if (cov.size > 64) return rows.unionByName(sentinel)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("run")).orderBy(col("lo"))
    // first/last slice values come from min_by/max_by over the (unique)
    // lo key — one aggregate pass instead of the asc+desc row_number
    // window pair (each of which costs a sort over the whole state
    // every compaction cycle); only the boundary-pair lag still needs
    // a window, and it shares the existing (user, run) sort
    val merged = markMergeRuns(rows, cov)
      .withColumn("pl", lag(col("lastv"), 1).over(wr))
      .groupBy(col("user_id"), col("run"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(col("cnt")).as("cnt"),
        min_by(col("firstv"), col("lo")).as("firstv"),
        max_by(col("lastv"), col("lo")).as("lastv"),
        (sum(col("np")) + count(col("pl"))).as("np"),
        (sum(col("sx")) + coalesce(sum(col("pl").cast(dec)), zero))
          .cast(dec).as("sx"),
        (sum(col("sy")) + coalesce(sum(when(col("pl").isNotNull,
          col("firstv")).cast(dec)), zero)).cast(dec).as("sy"),
        (sum(col("sxx")) + coalesce(sum((col("pl") * col("pl")).cast(dec)),
          zero)).cast(dec).as("sxx"),
        (sum(col("syy")) + coalesce(sum(when(col("pl").isNotNull,
          col("firstv") * col("firstv")).cast(dec)), zero))
          .cast(dec).as("syy"),
        (sum(col("sxy")) + coalesce(sum((col("pl") * col("firstv"))
          .cast(dec)), zero)).cast(dec).as("sxy"))
      .select(col("user_id"), expr(s"lo div $width").as("seg"), col("lo"),
        col("hi"), col("cnt"), col("firstv"), col("lastv"), col("np"),
        col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
    merged.unionByName(sentinel)
  }

  /** Streaming MAX-DRAWDOWN maintenance (st23 — t30's streaming twin,
    * and the proof that even an ORDER-SENSITIVE statistic can be a
    * correct MV under the file source's ARBITRARY batch order): max
    * drawdown over the event_id ingest order is not a commutative fold
    * over row sets, but it IS mergeable over interval SUMMARIES. State
    * = one row per (user, segment of 1000 event_ids): (lo, hi, cnt, mn,
    * mx, dd), where dd is the drawdown INTERNAL to the summarized rows.
    * The merge identity — for A entirely before B,
    *   dd(A|B) = max(dd_A, dd_B, mx_A − mn_B)
    * (a drawdown either lies inside one side or peaks in A and troughs
    * in B; the incoming-peak trough is always B's min) — is associative
    * under ORDERED concatenation only. That is exactly why the fold
    * NEVER merges partials eagerly: under the source's arbitrary batch
    * order, a state summary built from chunks [0..249]+[500..749] SPANS
    * a still-in-flight middle chunk, and merging that chunk "after" the
    * span overcounts (caught live by DrawdownFoldSpec's first red run —
    * the lesson is recorded in the spec). So the per-batch fold is a
    * pure APPEND of per-(user, segment-slice) summaries, and ALL
    * ordering happens at read time, where every partial is present:
    * the per-user read walks partials in `lo` order (event_id ranges
    * are disjoint, so `lo` IS the concatenation order) with O(1) state
    * via [[graft.core.SeqFold.foldRows]]. Everything picks or subtracts
    * observed doubles — bit-exact vs the one-shot window recompute the
    * oracle runs.
    *
    * State growth is bounded by COMPACTION (every `compactEvery`
    * folds): each micro-batch appends a coverage sentinel (user_id −1)
    * recording its contiguous source id-range, and
    * [[compactDrawdownState]] merges per-user runs whose gaps are
    * provably complete under the merged coverage — turning state from
    * O(stream age) into O(users × in-flight gaps). Merging uses the
    * same dd identity as the read, so compacted state reads bit-equal
    * (DrawdownFoldSpec pins it, including the unproven-gap trap). */
  def runDrawdownMvOnce(spark: SparkSession, path: String,
      nChunks: Int = 4, compactEvery: Int = 2,
      sliceWidth: Long = SliceWidth): DataFrame = {
    // per-(user, seg) summary of a batch's rows: window runpeak within
    // the partial (event_id order), dd = max(runpeak − x)
    def summarize(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("seg")).orderBy(col("event_id"))
        .rowsBetween(Long.MinValue, 0L)
      df.withColumn("seg", expr(s"event_id div $sliceWidth"))
        .withColumn("runpeak", max(col("value")).over(w))
        .groupBy(col("user_id"), col("seg"))
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"),
          count(lit(1)).as("cnt"), min(col("value")).as("mn"),
          max(col("value")).as("mx"),
          max(col("runpeak") - col("value")).as("dd"))
    }
    val folds = new java.util.concurrent.atomic.AtomicLong(0L)
    foldEventsMv(spark, path, nChunks, "event_id", "user_id", "value") { (prev, batch) =>
      val sentinel = batch
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
        .where(col("lo").isNotNull)
        .select(lit(-1L).as("user_id"), lit(-1L).as("seg"), col("lo"),
          col("hi"), lit(0L).as("cnt"), lit(0.0).as("mn"),
          lit(0.0).as("mx"), lit(0.0).as("dd"))
      val partial = summarize(batch).unionByName(sentinel)
      val st = prev.fold(partial)(p => p.unionByName(partial))
      if (folds.incrementAndGet() % compactEvery == 0)
        compactDrawdownState(spark, st, sliceWidth)
      else st
    }.where(col("user_id") >= 0L)
  }

  /** Streaming LAG-1 AUTOCORRELATION maintenance (st24 — t31's
    * streaming twin over the event_id ingest order, and the second
    * order-sensitive MV after [[runDrawdownMvOnce]], showing the slice
    * pattern GENERALIZES): consecutive-pair moment sums are not a row
    * fold (pairs straddle batch boundaries), but a slice summary that
    * carries its FIRST and LAST value lets the read reconstruct every
    * straddling pair — between lo-consecutive slices A, B the one
    * missing pair is (last_A, first_B). Fold = pure append of
    * per-(user, segment-slice) rows: (lo, hi, cnt, firstv, lastv) plus
    * the slice's internal pair moments, DECIMAL(27,6)-quantized then
    * summed (t31's exactness pattern — decimal sums are order-free, so
    * slice ∪ boundary terms aggregate commutatively at read time; no
    * sequential walk needed at all). Bit-exact vs the one-shot lag
    * recompute the oracle runs. State is compacted every `compactEvery`
    * folds via [[compactAutocorrState]] (coverage sentinels + provable
    * per-user adjacency, [[runDrawdownMvOnce]]'s contract): absorbed
    * boundaries contribute the identical decimal pair terms the read
    * would reconstruct, so compacted reads bit-equal to uncompacted. */
  def runAutocorrMvOnce(spark: SparkSession, path: String,
      nChunks: Int = 4, compactEvery: Int = 2,
      sliceWidth: Long = SliceWidth): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(27, 6)
    def summarize(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("seg")).orderBy(col("event_id"))
      val zero = lit(0).cast(DecimalType(37, 6))
      // first/last value per slice via min_by/max_by on the (unique)
      // event_id — saves the asc+desc row_number window pair per
      // micro-batch; only the consecutive-pair lag needs a window
      df.withColumn("seg", expr(s"event_id div $sliceWidth"))
        .withColumn("prev", lag(col("value"), 1).over(w))
        .groupBy(col("user_id"), col("seg"))
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"),
          count(lit(1)).as("cnt"),
          min_by(col("value"), col("event_id")).as("firstv"),
          max_by(col("value"), col("event_id")).as("lastv"),
          count(col("prev")).as("np"),
          coalesce(sum(col("prev").cast(dec)), zero).as("sx"),
          coalesce(sum(when(col("prev").isNotNull, col("value")).cast(dec)),
            zero).as("sy"),
          coalesce(sum((col("prev") * col("prev")).cast(dec)), zero).as("sxx"),
          coalesce(sum(when(col("prev").isNotNull,
            col("value") * col("value")).cast(dec)), zero).as("syy"),
          coalesce(sum((col("prev") * col("value")).cast(dec)), zero).as("sxy"))
    }
    val zero37 = lit(0).cast(DecimalType(37, 6))
    val folds = new java.util.concurrent.atomic.AtomicLong(0L)
    foldEventsMv(spark, path, nChunks, "event_id", "user_id", "value") { (prev, batch) =>
      val sentinel = batch
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
        .where(col("lo").isNotNull)
        .select(lit(-1L).as("user_id"), lit(-1L).as("seg"), col("lo"),
          col("hi"), lit(0L).as("cnt"), lit(0.0).as("firstv"),
          lit(0.0).as("lastv"), lit(0L).as("np"), zero37.as("sx"),
          zero37.as("sy"), zero37.as("sxx"), zero37.as("syy"),
          zero37.as("sxy"))
      val partial = summarize(batch).unionByName(sentinel)
      val st = prev.fold(partial)(p => p.unionByName(partial))
      if (folds.incrementAndGet() % compactEvery == 0)
        compactAutocorrState(spark, st, sliceWidth)
      else st
    }.where(col("user_id") >= 0L)
  }

  /** Streaming QUANTILE-SKETCH maintenance (st19 — h7's streaming twin,
    * completing the sketch-MV triad: st13 HLL distincts, st17 CMS
    * frequencies, this one quantiles): per micro-batch, build per-key
    * KLL partials and FOLD them into the at-rest sketch table with one
    * keyed kll_merge_agg_double. KLL merge is commutative/associative,
    * so the folded sketch answers the same rank queries as a one-shot
    * build REGARDLESS of batch boundaries (same error envelope — the
    * estimate is pinned inside the exact [p40, p60] band, h7's
    * contract). State is one ~KB sketch row per key at every
    * generation; per-trigger cost O(batch + keys) — quantile serving at
    * any corpus size without a rescan. Returns the final sketch table. */
  def runKllMvOnce(spark: SparkSession, path: String, k: Int = 400,
      nChunks: Int = 4): DataFrame =
    foldEventsMv(spark, path, nChunks, "event_id", "event_type", "value") { (prev, batch) =>
      val partials = batch.groupBy(col("event_type"))
        .agg(kll_sketch_agg_double(col("value"), k).as("sk"))
      prev.fold(partials)(state => state.unionByName(partials)
        .groupBy(col("event_type"))
        .agg(kll_merge_agg_double(col("sk")).as("sk")))
    }

  /** Streaming TOP-K LEADERBOARD maintenance (st18 — u7's streaming
    * twin): per micro-batch, fold the batch into the bounded top-k
    * state with [[graft.core.Merge.topKFold]]. Top-k under a total
    * order is a commutative fold over row sets, so — unlike the
    * order-SENSITIVE scd2Fold, which needs time-ordered batches — this
    * MV is correct under the file source's ARBITRARY batch order: the
    * final state is identical to a one-shot window recompute, which is
    * what the oracle pins. State is k rows per group at every
    * generation (k·groups at rest, never corpus-scale), per-trigger
    * cost O(batch + k·touched groups). Returns the final state. */
  def runTopKMergeOnce(spark: SparkSession, path: String, k: Int,
      nChunks: Int = 4): DataFrame = {
    val ord = Seq(col("value").desc, col("event_id").asc)
    foldEventsMv(spark, path, nChunks, "event_id", "event_type", "value") { (prev, batch) =>
      graft.core.Merge.topKFold(prev.getOrElse(batch.limit(0)), batch,
        Seq("event_type"), ord, k)
    }
  }

  /** Streaming COUNT-MIN MAINTENANCE (st17 — h9's streaming twin, and
    * st16's pattern applied to a sketch): per micro-batch, build the
    * batch's (depth, bucket) partial counters and FOLD them into the
    * at-rest counter table with one keyed sum — CMS merge is
    * elementwise add, so the folded state is IDENTICAL to a one-shot
    * batch build regardless of micro-batch boundaries (the stream ≡
    * batch identity the oracle pins). Per trigger the work is
    * O(batch + 3·1024) — the at-rest table is bounded by depth×width,
    * never by corpus size, which is what makes the point-frequency
    * serve (`Frequency.Cms.estimates`) answerable at any corpus scale
    * without a rescan. Returns the final merged counter table. */
  def runCmsMvOnce(spark: SparkSession, path: String, nChunks: Int = 4): DataFrame = {
    val Cms = graft.llm.Frequency.Cms
    foldEventsMv(spark, path, nChunks, "event_id", "user_id") { (prev, batch) =>
      val partials = Cms.expand(batch, "user_id")
        .groupBy(col("depth"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      prev.fold(partials)(state => state.unionByName(partials)
        .groupBy(col("depth"), col("bucket")).agg(sum(col("c")).as("c")))
    }
  }

  /** Streaming exact dedup for ingest pipelines: drop rows whose `keyCols`
    * repeat within the watermark horizon (e.g. a content hash on a
    * document stream). `dropDuplicatesWithinWatermark` expires dedup state
    * by event time — plain `dropDuplicates` on a stream retains EVERY key
    * forever, which is unusable on an unbounded corpus. The trade: a
    * duplicate arriving later than `watermark` after the original is kept
    * — the standard ingest-dedup contract (re-dedup at rest catches
    * stragglers, see graft.llm.Dedup). */
  def dedupStream(events: DataFrame, watermark: String, keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keyCols)

  /** Bounded replay of Spark's NATIVE `session_window` aggregation —
    * the built-in third path to sessionization next to the batch
    * lag+cumsum (st2) and the custom `flatMapGroupsWithState` (st4):
    * state-store session merging with watermark eviction, the shape to
    * prefer in production when per-session logic is pure aggregation
    * (no custom state object). Two sessions merge while
    * next_ts <= prev_ts + gap (Spark merges on start <= current end —
    * an INCLUSIVE boundary, same as st2's strict `> gap` break).
    *
    * Append mode only emits a session once the watermark passes its
    * end, so the bounded replay plants ONE global sentinel event
    * (user −1) far past `max(ts) + gap + delay` — the watermark is
    * global, so a single row flushes every user's trailing session
    * (unlike st4's per-user state timeouts, which got per-user
    * sentinels to also bound state). Returns
    * (user_id, n_events, dur_us) per emitted session. */
  def runSessionWindowOnce(spark: SparkSession, path: String,
      gapMs: Long = 30 * 60 * 1000L, watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    val static = graft.core.Tables.readEventsPath(spark, path)
    val maxTsRow = static.agg(max(unix_micros(col("ts")))).head
    if (maxTsRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long)].toDF("user_id", "n_events", "dur_us")
    val wmMs = intervalMs(watermark)
    val sentinelMicros = maxTsRow.getLong(0) + (gapMs + 2 * wmMs + 3600000L) * 1000L
    val sentinel = Seq((-1L, sentinelMicros, -1L, "sentinel", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
    withReplayDir(path,
        Some(d => static.unionByName(sentinel).write.mode("overwrite").parquet(d))) { dir =>
      val stream = normTs(spark.readStream.schema(rawEventSchema(spark, dir)).parquet(dir))
      // RocksDB state store: the replay holds every session of the file
      // in one micro-batch's state (see replayToMemory)
      replayToMemory(spark, stream
        .withWatermark("ts", watermark)
        .groupBy(session_window(col("ts"), s"$gapMs milliseconds"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"),
          (unix_micros(col("session_window.end"))
            - unix_micros(col("session_window.start"))
            - gapMs * 1000L).as("dur_us")),
        OutputMode.Append(), rocksDb = true)
    }.where(col("user_id") =!= -1L)
  }

  /** Bounded replay of [[sessionize]] over an events parquet file — the
    * stream-side twin of the batch lag+cumsum sessionization (`st2`).
    *
    * Append-mode `flatMapGroupsWithState` only EMITS a session once the
    * event-time watermark passes its `last + gap`, so a naive replay of a
    * finite file would swallow every trailing session (the watermark stops
    * at `max(ts) − delay`). The replay therefore appends one SENTINEL event
    * per user at `max(ts) + gap + delay + margin`: it pushes the final
    * watermark beyond every real session's timeout (all real sessions
    * flush), while the sentinel sessions themselves stay un-emitted in
    * state (nothing ever outlives them). Spark's available-now trigger runs
    * the extra empty micro-batch that fires the timeouts
    * (`shouldRunAnotherBatch` on watermark advance). Sessions starting at
    * or after the sentinel timestamp are filtered out defensively. */
  def runSessionizeOnce(spark: SparkSession, path: String,
      gapMs: Long = 30 * 60 * 1000L, watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    // normalize in batch and rewrite into the replay dir: the sentinel file
    // must carry the SAME ts encoding as the data files, and writing both
    // ourselves (typed timestamps) guarantees that for any source encoding
    val static = graft.core.Tables.readEventsPath(spark, path)
    val maxTsRow = static.agg(max(unix_micros(col("ts")))).head
    if (maxTsRow.isNullAt(0)) return spark.emptyDataset[Session].toDF
    // sentinel file: one max-ts row per user, far enough out to flush all
    // real sessions (margin = gap + the caller's watermark delay + 1h slack)
    val wmMs = intervalMs(watermark)
    val sentinelMicros = maxTsRow.getLong(0) + (gapMs + wmMs + 60 * 60 * 1000L) * 1000L
    def rewrite(d: String): Unit = {
      static.write.mode("overwrite").parquet(d)
      static.select(col("user_id")).distinct()
        .select(
          lit(-1L).as("event_id"), timestamp_micros(lit(sentinelMicros)).as("ts"),
          col("user_id"), lit("__sentinel").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .write.mode("append").parquet(d)
    }
    withReplayDir(path, Some(rewrite)) { dir =>
      val events = normTs(spark.readStream.schema(rawEventSchema(spark, dir)).parquet(dir))
        .select(
          col("ts"),
          col("user_id").as("userId"), col("event_type").as("eventType"), col("value"))
        .as[Event]
      replayToMemory(spark, sessionize(events, gapMs, watermark), OutputMode.Append())
    }.where(col("sessionStart") < timestamp_micros(lit(sentinelMicros)))
  }

  final case class ProfileEvent(userId: Long, eventId: Long, tsMicros: Long, valueMicros: Long)
  final case class ProfileTotals(nEvents: Long, sumMicros: Long)
  final case class UserProfile(userId: Long, nEvents: Long, sumMicros: Long, recent5: String)

  /** Arbitrary-state streaming aggregation via Spark 4's
    * `transformWithState` (the successor API to mapGroupsWithState,
    * RocksDB-backed, multiple named state variables per key): maintains a
    * per-user running profile — event count + exact value sum (long
    * micros, so accumulation order can't perturb the result) in a
    * `ValueState`, and the 5 most recent event ids (by event time, id
    * ties) in a `ListState` trimmed every batch. Bounded state per key by
    * construction — the shape a 100-TB feature-store stream needs: state
    * size tracks ACTIVE users × O(1), never history length. Emits the
    * cumulative profile each time a user receives rows (Update mode). */
  class UserProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ProfileEvent, UserProfile] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[ProfileTotals] = _
    @transient private var recent: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = org.apache.spark.sql.Encoders
      totals = getHandle.getValueState[ProfileTotals](
        "totals", enc.product[ProfileTotals], TTLConfig.NONE)
      recent = getHandle.getListState[(Long, Long)](
        "recent", enc.tuple(enc.scalaLong, enc.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ProfileEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserProfile] = {
      var n = 0L; var sum = 0L
      val incoming = Seq.newBuilder[(Long, Long)]
      rows.foreach { e => n += 1; sum += e.valueMicros; incoming += ((e.tsMicros, e.eventId)) }
      val prev = Option(totals.get()).getOrElse(ProfileTotals(0L, 0L))
      val next = ProfileTotals(prev.nEvents + n, prev.sumMicros + sum)
      totals.update(next)
      // merge this batch's arrivals into the stored top-5-by-recency;
      // ordering is on (ts, id) so replays/partitionings agree on ties
      val merged = (recent.get().toSeq ++ incoming.result())
        .sortBy { case (ts, id) => (-ts, -id) }.take(5)
      recent.put(merged.toArray)
      Iterator(UserProfile(key, next.nEvents, next.sumMicros,
        merged.map(_._2).mkString(",")))
    }
  }

  /** Bounded replay of [[UserProfileProcessor]] (same scaffolding as the
    * other replays; state store forced to RocksDB, which
    * transformWithState requires, and restored afterwards). Update-mode
    * emissions are cumulative, so the final profile per user is its
    * max-nEvents row — with a single available-now batch, the only row. */
  def runProfileOnce(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val schema = rawEventSchema(spark, path)
    val sink = withReplayDir(path) { dir =>
      // maxFilesPerTrigger splits a multi-file input into several
      // micro-batches — the cross-batch state-accumulation path (specs
      // drive it; the single-file bounded replay runs one batch)
      val reader = maxFilesPerTrigger.foldLeft(
        spark.readStream.schema(schema)) {
        (r, n) => r.option("maxFilesPerTrigger", n)
      }
      val events = normTs(reader.parquet(dir))
        .select(
          col("user_id").as("userId"), col("event_id").as("eventId"),
          unix_micros(col("ts")).as("tsMicros"),
          round(col("value") * lit(1000000L)).cast("long").as("valueMicros"))
        .as[ProfileEvent]
      replayToMemory(spark, events
        .groupByKey(_.userId)
        .transformWithState(new UserProfileProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update()),
        OutputMode.Update(), rocksDb = true)
    }
    // keep each user's final (cumulative) emission
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("userId")).orderBy(col("nEvents").desc)
    sink.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  final case class AnomEvent(userId: Long, tsMicros: Long, value: Double)
  final case class AnomScore(userId: Long, tsMicros: Long, nPrior: Long,
    z: Option[Double], isAnomaly: Boolean)

  /** Streaming twin of [[graft.core.Validation.rollingAnomalies]]: a
    * per-user `ListState` ring of the trailing `windowMicros` of
    * (ts, value) pairs; each arriving event is scored against STRICTLY
    * EARLIER events in its trailing window (same-instant peers excluded,
    * matching the batch RANGE frame), then appended, and the ring is
    * pruned to the window behind the newest timestamp.
    *
    * Bit-equality with the batch operator is engineered, not hoped for:
    * the moment sums replay Spark's own double→DECIMAL(18,6) cast
    * (HALF_UP) and the exact decimal Σv / Σv² accumulation, and μ/σ²/z
    * evaluate in the identical double operation order — so the
    * streamed z-scores equal the batch (and therefore the SQL oracle)
    * values bitwise, and st12 can share t8's oracle.
    *
    * Assumptions a production deployment watermarks for: micro-batches
    * arrive time-ordered per user (rows within a batch are sorted here;
    * an event older than the pruned horizon would see a truncated
    * window). Per-event scoring walks the ring (O(window) per event —
    * the windows here are bounded by the trailing hour; an incremental
    * sum ring would drop that to O(1) amortized at the cost of the
    * decimal-replay guarantee's simplicity). */
  class RollingAnomalyProcessor(windowMicros: Long, minPoints: Int, kSigma: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AnomEvent, AnomScore] {
    import java.math.RoundingMode
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    @transient private var hist: org.apache.spark.sql.streaming.ListState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = org.apache.spark.sql.Encoders
      hist = getHandle.getListState[(Long, Double)](
        "hist", enc.tuple(enc.scalaLong, enc.scalaDouble), TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[AnomEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AnomScore] = {
      val batch = rows.toArray.sortBy(_.tsMicros)
      var ring = hist.get().toVector
      val out = Vector.newBuilder[AnomScore]
      batch.foreach { e =>
        val lo = e.tsMicros - windowMicros
        val prior = ring.filter(p => p._1 >= lo && p._1 < e.tsMicros)
        val c = prior.size
        val zOpt =
          if (c < minPoints) None
          else {
            // replay the batch plan's decimal casts exactly: Spark's
            // double→DECIMAL(18,6) is HALF_UP on the shortest decimal form
            var sv = java.math.BigDecimal.ZERO
            var svv = java.math.BigDecimal.ZERO
            prior.foreach { case (_, v) =>
              val dv = java.math.BigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP)
              sv = sv.add(dv)
              svv = svv.add(dv.multiply(dv))
            }
            val cD = c.toDouble
            val svD = sv.doubleValue
            val svvD = svv.doubleValue
            val mean = svD / cD
            val varD = math.max((svvD - svD * svD / cD) / (cD - 1d), 0d)
            val z = (e.value - mean) / math.sqrt(varD + 1e-9)
            Some(java.math.BigDecimal.valueOf(z).setScale(6, RoundingMode.HALF_UP)
              .doubleValue)
          }
        out += AnomScore(key, e.tsMicros, c.toLong, zOpt,
          zOpt.exists(z => math.abs(z) > kSigma))
        ring = ring :+ (e.tsMicros, e.value)
      }
      // prune to the window behind the newest instant (inclusive: an
      // event AT maxTs - window is still a valid prior for maxTs)
      val maxTs = ring.iterator.map(_._1).max
      hist.put(ring.filter(_._1 >= maxTs - windowMicros).sortBy(_._1).toArray)
      out.result().iterator
    }
  }

  /** Bounded replay of [[RollingAnomalyProcessor]] (the [[runProfileOnce]]
    * scaffolding: RocksDB provider forced and restored, optional
    * maxFilesPerTrigger for the cross-batch state path). Update-mode
    * emissions are per-event (one output row per input event), so the
    * sink needs no final-row selection. */
  def runAnomalyOnce(spark: SparkSession, path: String,
      windowMicros: Long = 86400L * 1000000L, minPoints: Int = 5, kSigma: Double = 3.0,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val schema = rawEventSchema(spark, path)
    withReplayDir(path) { dir =>
      val reader = maxFilesPerTrigger.foldLeft(
        spark.readStream.schema(schema)) {
        (r, n) => r.option("maxFilesPerTrigger", n)
      }
      val events = normTs(reader.parquet(dir))
        .where(col("value").isNotNull)
        .select(col("user_id").as("userId"), unix_micros(col("ts")).as("tsMicros"),
          col("value").cast("double").as("value"))
        .as[AnomEvent]
      replayToMemory(spark, events
        .groupByKey(_.userId)
        .transformWithState(new RollingAnomalyProcessor(windowMicros, minPoints, kSigma),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update()),
        OutputMode.Update(), rocksDb = true)
    }
  }

  final case class Event(ts: java.sql.Timestamp, userId: Long, eventType: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  final case class Session(
      userId: Long, sessionStart: java.sql.Timestamp, sessionEnd: java.sql.Timestamp,
      nEvents: Int, sumValue: Double)

  /** Stateful sessionization: events for a user belong to one session
    * while gaps stay under `gapMs`; a session closes (and emits) when the
    * event-time watermark passes its last event + gap. The canonical
    * `flatMapGroupsWithState` shape: one state object per active user,
    * event-time timeout, append output. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed += Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
