package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Generations
import graft.llm.Dedup
import graft.streaming.IngestStream

/** CLI: ONE step of the rolling near-dup ingest loop, with state that
  * persists ACROSS invocations — run it once per arriving batch (the
  * daily-ingest shape the d12/st10 queries verify):
  *
  *   <stateDir>/index  — slim banded-signature index (id, band, band_hash)
  *   <stateDir>/docs   — accepted documents (text kept for exact verify)
  *   <stateDir>/pairs  — verified near-dup pairs emitted so far
  *
  * Each invocation probes the index with the batch, adds the verified
  * pairs (exactly the pairs a full-corpus re-run would add — see
  * [[Dedup.incrementalNearDup]]), and adds the batch's banded rows + docs
  * to the state. Invariant after N batches: `pairs` equals the
  * full-corpus [[Dedup.minHashNearDup]] pair set over everything ingested
  * (IngestSpec replays this via the CLI) while no (band, band_hash)
  * bucket grows past [[Dedup.DefaultMaxBucket]]. Both paths run the one
  * bucket-pair kernel, so past the cap both star-cap around the bucket's
  * min id; `pairs` then also keeps what it emitted while the bucket was
  * still small, a superset of the full run's pairs.
  *
  * Retry contract: each call is one [[Generations.TableSet]] commit
  * keyed by the batch's file listing (paths, lengths, mtimes). A batch
  * already committed writes nothing and returns the summary it returned
  * the first time; a call that died mid-commit leaves files the next call
  * deletes first. A state written by plain parquet appends is adopted as
  * committed. Between calls, each table dir holds exactly its committed
  * rows.
  *
  * Usage: runMain graft.RunIngest <batch.parquet> <stateDir>
  *        [minJaccard] [w] [k] [bands]
  *        runMain graft.RunIngest --compact <stateDir> <deleted.parquet>
  */
object RunIngest {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunIngest <batch.parquet> <stateDir> [minJaccard] [w] [k] [bands] | " +
        "RunIngest --embed <batch.parquet> <stateDir> [minCos] [dim] [planes] [bands] | " +
        "RunIngest --compact <stateDir> <deleted.parquet>")
    if (args(0) == "--embed")
      require(args.length >= 3, "usage: RunIngest --embed <batch.parquet> <stateDir> ...")
    if (args(0) == "--compact")
      require(args.length >= 3, "usage: RunIngest --compact <stateDir> <deleted.parquet>")
    val spark = Session.build()
    args(0) match {
      case "--embed" =>
        println(ingestEmbedOnce(spark, args(1), args(2),
          minCos = if (args.length > 3) args(3).toDouble else 0.45,
          dim = if (args.length > 4) args(4).toInt else 64,
          nPlanes = if (args.length > 5) args(5).toInt else 16,
          nBands = if (args.length > 6) args(6).toInt else 8))
      case "--compact" =>
        println(compactOnce(spark, args(1), spark.read.parquet(args(2))))
      case in =>
        val state = args(1)
        val minJ = if (args.length > 2) args(2).toDouble else 0.5
        val w = if (args.length > 3) args(3).toInt else 5
        val k = if (args.length > 4) args(4).toInt else 64
        val bands = if (args.length > 5) args(5).toInt else 32
        println(ingestOnce(spark, in, state, minJ, w, k, bands))
    }
  }

  /** The ingest step, spark-session-injected for specs. Returns the
    * one-line JSON summary it also prints. */
  def ingestOnce(spark: SparkSession, in: String, state: String,
      minJ: Double = 0.5, w: Int = 5, k: Int = 64, bands: Int = 32): String =
    ingestStep(spark, in, state, "doc_id", "text", "docs") { (corpus, index, batch) =>
      Dedup.incrementalNearDupRoll(corpus, index, batch, "doc_id", "text", w, k, bands, minJ)
    }

  /** Embedding twin of [[ingestOnce]]: one rolling step of the COSINE
    * near-dup index ([[Dedup.incrementalCosineNearDupRoll]] — the st11 /
    * d13 operator family) with the same persisted state layout:
    *
    *   <stateDir>/index — sign-band rows (id, band, band_hash)
    *   <stateDir>/vecs  — accepted vectors (kept for exact-cosine verify)
    *   <stateDir>/pairs — verified cosine pairs emitted so far
    *
    * Seeded hyperplanes make banding batch-invariant, so after N
    * invocations `pairs` equals the full-corpus [[Dedup.cosinePairsLsh]]
    * run over everything ingested, with the same cap rule as
    * [[ingestOnce]]: equal while every bucket stays within
    * [[Dedup.DefaultMaxBucket]], a superset of the full run's pairs once
    * one grows past it mid-history.
    *
    * SIZE THE BANDS TO THE CORPUS: a sign-LSH band of `nPlanes/nBands`
    * bits has `2^(nPlanes/nBands)` buckets, so expected bucket size is
    * about `N / 2^(nPlanes/nBands)` — once that approaches the
    * [[Dedup.DefaultMaxBucket]] star-cap (1024), probes and full runs
    * alike silently lose candidates to the cap (measured: 2-bit bands
    * collapse recall at a 20k-vector corpus, DevScale ingest12). Rule:
    * choose `nPlanes/nBands ≥ log2(N / 256)`; re-banding is a one-pass
    * rebuild of the index from the at-rest vectors.
    *
    * KEEP BATCHES BOUNDED: a batch also pair-joins against ITSELF, and
    * that term's candidate mass is ~ buckets·(M/buckets)²/2 for batch
    * size M — ingesting a whole corpus as one "seed batch" is quadratic
    * (measured OOM at 200k vectors; DevScale ingest12 builds the at-rest
    * state via [[Dedup.cosineIndex]] instead and ingests deltas). */
  def ingestEmbedOnce(spark: SparkSession, in: String, state: String,
      minCos: Double = 0.45, dim: Int = 64, nPlanes: Int = 16, nBands: Int = 8): String =
    ingestStep(spark, in, state, "vec_id", "embedding", "vecs") { (corpus, index, batch) =>
      Dedup.incrementalCosineNearDupRoll(
        corpus, index, batch, "vec_id", "embedding", minCos, dim, nPlanes, nBands)
    }

  /** The rolling step both indexes share: `(idCol, payloadCol)` of the
    * batch at `in` probes the state's `index` and `docs` (the at-rest
    * payload table) through `roll(corpus, index, batch)`, which returns
    * the verified pairs and the batch's own index rows. Pairs, index rows
    * and batch commit together; the summary's counts come from the
    * commit, never from a table scan. */
  private def ingestStep(spark: SparkSession, in: String, state: String,
      idCol: String, payloadCol: String, docs: String)(
      roll: (DataFrame, DataFrame, DataFrame) => (DataFrame, DataFrame)): String = {
    val set = Generations.tableSet(spark, state, Seq("index", docs, "pairs"))
    val key = Generations.batchKey(spark, in)
    set.summary(key).getOrElse {
      val batch = spark.read.parquet(in).select(col(idCol), col(payloadCol))
      val (pairs, batchIdx) = roll(set.read(docs, batch.schema),
        set.read("index", IngestStream.IndexSchema), batch)
      set.commit(key, Seq("pairs" -> pairs, "index" -> batchIdx, docs -> batch)) {
        (rows, totals) =>
          s"""{"batch_$docs":${rows(docs)},"new_pairs":${rows("pairs")},""" +
            s""""total_pairs":${totals("pairs")},"index_rows":${totals("index")}}"""
      }
    }
  }

  /** Maintenance step: compact the rolling state after deletions
    * (VERDICT r10 #6 — the append-only index otherwise grows forever).
    * Drops every index row, doc, and pair that references a deleted
    * doc_id, rewrites each state table as ONE fresh generation with
    * files sized by `targetRowsPerFile` (the append pattern otherwise
    * accretes a small file per batch — the classic small-files problem),
    * and returns a JSON stats report including the band-bucket census
    * ([[Dedup.bandBucketStats]]), so degenerate boilerplate buckets
    * surface during maintenance instead of silently star-capping probes.
    *
    * Contract (IngestSpec): after compaction the state is
    * indistinguishable from a fresh ingest of the surviving corpus —
    * signatures are per-doc, so dropping a doc's rows is exact removal.
    * The rewritten tables publish as one base commit of the state's
    * [[Generations.TableSet]], so the next call on the state discards an
    * interrupted compaction or finishes it. */
  def compactOnce(spark: SparkSession, state: String, deleted: DataFrame,
      targetRowsPerFile: Long = 4000000L): String = {
    val set = Generations.tableSet(spark, state, Seq("index", "docs", "pairs"))
    val del = broadcast(deleted.select(col("doc_id")).distinct()).cache()
    def anti(df: DataFrame, c: String) =
      df.join(del.withColumnRenamed("doc_id", c), Seq(c), "left_anti")
    val drops = Seq[(String, DataFrame => DataFrame)](
      "index" -> (anti(_, "id")),
      "docs" -> (anti(_, "doc_id")),
      "pairs" -> (df => anti(anti(df, "id_a"), "id_b")))
    try {
      val (before, filesBefore) = (set.totals, set.files("index"))
      val kept = drops.filter(d => set.files(d._1) > 0).map { case (t, drop) =>
        val df = drop(spark.read.parquet(s"$state/$t"))
        val parts = math.max(1L, (df.count() + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        t -> df.coalesce(parts)
      }
      set.commit(f"${scala.util.Random.nextLong()}%016x", kept, base = true)((_, _) => "")
      val after = set.totals
      def span(t: String) = s"[${before(t)},${after(t)}]"
      val census = Dedup.bandBucketStats(spark.read.parquet(s"$state/index")).collect()(0)
      s"""{"index_rows":${span("index")},"index_files":[$filesBefore,${set.files("index")}],""" +
        s""""docs":${span("docs")},"pairs":${span("pairs")},""" +
        s""""n_buckets":${census.getAs[Long]("n_buckets")},""" +
        s""""max_bucket":${census.getAs[Long]("max_bucket")},""" +
        s""""n_oversize":${census.getAs[Long]("n_oversize")}}"""
    } finally del.unpersist(blocking = false)
  }
}
