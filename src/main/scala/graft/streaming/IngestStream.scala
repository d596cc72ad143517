package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import graft.io.Generations
import graft.llm.Dedup

/** The rolling-ingestion NEAR-dup loop: a document stream probes a
  * persisted banded-signature index ([[Dedup.nearDupIndex]]) batch by
  * batch via `foreachBatch`, emits the verified near-dup pairs each
  * batch touches, and rolls the index forward with the batch's own
  * banded rows — the maintenance cycle a daily-ingest training-data
  * pipeline runs (the streaming twin of query d12, composed with the
  * st9 ingest-merge scaffolding).
  *
  * Why this is oracle-checkable: a pair is emitted exactly once, by the
  * batch its LATER member arrives in (earlier member is in the index by
  * then; same-batch pairs come from the batch's internal self-join), so
  * the union of per-batch emissions equals the FULL-corpus LSH pair set
  * regardless of batch count or arrival order — stream ≡ batch ≡ the
  * exhaustive exact-Jaccard oracle (d3's total-recall argument). The
  * probe and the full run share [[Dedup.bucketPairs]], so this holds
  * while every (band, band_hash) bucket stays within
  * [[Dedup.DefaultMaxBucket]]; a bucket that grows past it mid-stream is
  * star-capped on both sides, and the stream keeps the pairs it emitted
  * while the bucket was small (a superset of the full run's).
  *
  * State lives in [[graft.io.Generations]] commits like
  * [[EventStream.runMergeOnce]]; at scale the index is a bucketed table
  * on (band, band_hash) appended per batch (never rewritten), and the
  * emitted pairs feed the cluster-resolution job (d6/mm8 shape). */
object IngestStream {

  /** Schema of a slim [[Dedup.nearDupIndex]] frame — the empty gen-0
    * index (three longs per (doc, band) row; signatures never persist). */
  private[graft] val IndexSchema = new StructType()
    .add("id", LongType).add("band", IntegerType).add("band_hash", LongType)

  def runNearDupIngestOnce(spark: SparkSession, docsPath: String, nChunks: Int = 3,
      w: Int = 5, k: Int = 64, bands: Int = 32, minJaccard: Double = 0.5): DataFrame =
    EventStream.withTempDir("graft_neardup_ingest")(
      runNearDupIngestAt(spark, _, docsPath, nChunks, w, k, bands, minJaccard))

  /** [[runNearDupIngestOnce]] against a CALLER-OWNED work dir, left on
    * disk afterwards — the crash-recovery spec plants a garbage
    * index generation there before the replay and inspects the rolled
    * index after it (StreamingSpec's planted-crash pattern). */
  private[graft] def runNearDupIngestAt(spark: SparkSession,
      work: java.nio.file.Path, docsPath: String, nChunks: Int = 3,
      w: Int = 5, k: Int = 64, bands: Int = 32, minJaccard: Double = 0.5): DataFrame =
    ingestAt(spark, work, docsPath, "doc_id", "text", nChunks,
        Seq(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))) {
      (corpus, index, batch) => Dedup.incrementalNearDupRoll(
        corpus, index, batch, "doc_id", "text", w, k, bands, minJaccard)
    }

  /** The rolling-ingestion loop for the EMBEDDING near-dup index — the
    * vector twin of [[runNearDupIngestOnce]]: an embedding stream probes
    * a persisted [[Dedup.cosineIndex]] batch by batch, emits the
    * exact-cosine-verified pairs each batch touches, and rolls the index
    * forward with the batch's sign-band rows (one signature pass per
    * batch serves both, [[Dedup.incrementalCosineNearDupRoll]]).
    *
    * Seeded hyperplanes make the banding batch-invariant, so the union
    * of per-batch emissions equals the full-corpus
    * [[Dedup.cosinePairsLsh]] pair set regardless of chunking (same cap
    * rule as the text loop) — the stream ≡ batch equality query st11
    * pins in-query (DuckDB cannot replay the seeded planes; the SQL
    * oracle contributes the brute all-pairs truth). Same batchId-keyed
    * idempotent state layout as the text loop. */
  def runEmbedIngestOnce(spark: SparkSession, embPath: String, nChunks: Int = 3,
      minCos: Double = 0.45, dim: Int = 64,
      nPlanes: Int = 16, nBands: Int = 8): DataFrame =
    EventStream.withTempDir("graft_embed_ingest")(
      runEmbedIngestAt(spark, _, embPath, nChunks, minCos, dim, nPlanes, nBands))

  /** [[runEmbedIngestOnce]] against a caller-owned work dir (see
    * [[runNearDupIngestAt]]). */
  private[graft] def runEmbedIngestAt(spark: SparkSession,
      work: java.nio.file.Path, embPath: String, nChunks: Int = 3,
      minCos: Double = 0.45, dim: Int = 64,
      nPlanes: Int = 16, nBands: Int = 8): DataFrame =
    ingestAt(spark, work, embPath, "vec_id", "embedding", nChunks,
        Seq(col("id_a"), col("id_b"), col("cos"))) {
      (corpus, index, batch) => Dedup.incrementalCosineNearDupRoll(
        corpus, index, batch, "vec_id", "embedding", minCos, dim, nPlanes, nBands)
    }

  /** The rolling-ingest loop both indexes share: `(idCol, payloadCol)` of
    * the table at `path` streams in `nChunks` micro-batches; per batch,
    * `roll(corpus, index, batch)` returns the batch's verified pairs and
    * its own index rows, where `corpus` is the table minus the batch
    * (ids not yet indexed can never be candidates, so the anti join is
    * the only exclusion needed) and `index` the rolled index so far.
    * Returns the emitted pairs as `pairCols`, ordered and
    * `localCheckpoint`ed so they outlive `work`. */
  private def ingestAt(spark: SparkSession, work: java.nio.file.Path, path: String,
      idCol: String, payloadCol: String, nChunks: Int, pairCols: Seq[Column])(
      roll: (DataFrame, DataFrame, DataFrame) => (DataFrame, DataFrame)): DataFrame = {
    val pairsDir = work.resolve("pairs").toString
    val input = spark.read.parquet(path).select(col(idCol), col(payloadCol))
    val stream = EventStream.chunkedSource(work, input, idCol, nChunks)
    // Every per-batch write is a Generations commit KEYED BY batchId, so
    // a redelivered micro-batch skips what it committed: pairs land in
    // pairs/batch=<id> (partition-discovered on read), and index
    // generation b+1 derives from the immutable generation b. `maxGen`
    // only records the last generation for the final read.
    @volatile var maxGen = 0L
    def indexGen(b: Long) = work.resolve(s"index_$b").toString
    // same bounded-replay scoping as the MV folds (EventStream): the
    // per-batch probe is a fixed plan over a capped partition count
    // every trigger, so AQE re-planning and rate-sized shuffle fan-out
    // only add per-batch jobs (censused: st10 78 single-task jobs).
    // A deployment raises ReplayPartitionsKey with its rate.
    EventStream.withReplayPartitions(spark) {
      stream.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val index = Generations.read(spark, indexGen(batchId), Some(IndexSchema))
          // one signature pass per batch serves both the probe and the roll
          lazy val (pairs, batchIdx) =
            roll(input.join(batch.select(idCol), Seq(idCol), "left_anti"), index, batch)
          Generations.commit(spark,
              java.nio.file.Paths.get(pairsDir, s"batch=$batchId").toString) {
            EventStream.probeBatchPlan(pairs)
            pairs
          }
          // roll the index forward (at scale: append to the bucketed
          // index table; the generation rewrite is fixture-scale only)
          Generations.commit(spark, indexGen(batchId + 1))(index.unionByName(batchIdx))
          maxGen = math.max(maxGen, batchId + 1)
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    require(maxGen >= 2, s"ingest replay of $path must run multiple micro-batches, ran $maxGen")
    spark.read.parquet(pairsDir)
      .select(pairCols: _*)
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint(true)
  }
}
