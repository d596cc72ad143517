package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * Each invocation probes the index with the batch, appends the verified
  * pairs (exactly the pairs a full-corpus re-run would add — see
  * [[Dedup.incrementalNearDup]]), and appends the batch's banded rows +
  * docs to the state. Invariant after N batches: `pairs` equals the
  * full-corpus LSH pair set over everything ingested (IngestSpec replays
  * this via the CLI). Batch ids must be new (dedup ingest runs exact d7
  * first in a real pipeline).
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
      minJ: Double = 0.5, w: Int = 5, k: Int = 64, bands: Int = 32): String = {
    val indexPath = s"$state/index"
    val docsPath = s"$state/docs"
    val pairsPath = s"$state/pairs"
    val batch = spark.read.parquet(in).select(col("doc_id"), col("text"))
    // Hadoop FS probe, not java.io.File: the state dir may be HDFS/S3 —
    // a local-only exists() would silently treat a remote index as empty
    // and drop every corpus-vs-batch pair while still appending to it
    val hIndex = new org.apache.hadoop.fs.Path(indexPath)
    val hasState = hIndex.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hIndex)
    val index =
      if (hasState) spark.read.parquet(indexPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], IngestStream.IndexSchema)
    val corpus =
      if (hasState) spark.read.parquet(docsPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val (pairs, batchIdx) = Dedup.incrementalNearDupRoll(
      corpus, index, batch, "doc_id", "text", w, k, bands, minJ)
    pairs.write.mode("append").parquet(pairsPath)
    // at scale these appends are bucketed-table commits; the state dir
    // here is the same layout minus the manifest
    batchIdx.write.mode("append").parquet(indexPath)
    batch.write.mode("append").parquet(docsPath)
    val nBatch = batch.count()
    val nNew = pairs.count()
    val nTotal = spark.read.parquet(pairsPath).count()
    val nIndex = spark.read.parquet(indexPath).count()
    s"""{"batch_docs":$nBatch,"new_pairs":$nNew,"total_pairs":$nTotal,"index_rows":$nIndex}"""
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
    * run over everything ingested.
    *
    * SIZE THE BANDS TO THE CORPUS: a sign-LSH band of `nPlanes/nBands`
    * bits has `2^(nPlanes/nBands)` buckets, so expected bucket size is
    * about `N / 2^(nPlanes/nBands)` — once that approaches the
    * [[Dedup.DefaultMaxBucket]] star-cap (1024), probes silently lose
    * candidates to the cap (measured: 2-bit bands collapse recall at a
    * 20k-vector corpus, DevScale ingest12). Rule: choose
    * `nPlanes/nBands ≥ log2(N / 256)`; re-banding is a one-pass rebuild
    * of the index from the at-rest vectors.
    *
    * KEEP BATCHES BOUNDED: a batch also pair-joins against ITSELF, and
    * that term's candidate mass is ~ buckets·(M/buckets)²/2 for batch
    * size M — ingesting a whole corpus as one "seed batch" is quadratic
    * (measured OOM at 200k vectors; DevScale ingest12 builds the at-rest
    * state via [[Dedup.cosineIndex]] instead and ingests deltas). */
  def ingestEmbedOnce(spark: SparkSession, in: String, state: String,
      minCos: Double = 0.45, dim: Int = 64, nPlanes: Int = 16, nBands: Int = 8): String = {
    val indexPath = s"$state/index"
    val vecsPath = s"$state/vecs"
    val pairsPath = s"$state/pairs"
    val batch = spark.read.parquet(in).select(col("vec_id"), col("embedding"))
    val hIndex = new org.apache.hadoop.fs.Path(indexPath)
    val hasState = hIndex.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hIndex)
    val index =
      if (hasState) spark.read.parquet(indexPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], IngestStream.IndexSchema)
    val corpus =
      if (hasState) spark.read.parquet(vecsPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val (pairs, batchIdx) = Dedup.incrementalCosineNearDupRoll(
      corpus, index, batch, "vec_id", "embedding", minCos, dim, nPlanes, nBands)
    pairs.write.mode("append").parquet(pairsPath)
    batchIdx.write.mode("append").parquet(indexPath)
    batch.write.mode("append").parquet(vecsPath)
    val nBatch = batch.count()
    val nNew = pairs.count()
    val nTotal = spark.read.parquet(pairsPath).count()
    val nIndex = spark.read.parquet(indexPath).count()
    s"""{"batch_vecs":$nBatch,"new_pairs":$nNew,"total_pairs":$nTotal,"index_rows":$nIndex}"""
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
    * The swap (write tmp → delete old → rename) is NOT atomic between
    * the last two steps; at scale this is a table format's
    * rewrite-and-commit, which is. */
  def compactOnce(spark: SparkSession, state: String,
      deleted: org.apache.spark.sql.DataFrame,
      targetRowsPerFile: Long = 4000000L): String = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val del = broadcast(deleted.select(col("doc_id")).distinct()).cache()

    def rewrite(path: String, drop: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return (0L, 0L, 0L, 0L)
      def nFiles = fs.listStatus(p).count(s => s.isFile && s.getPath.getName.startsWith("part-"))
      val before = spark.read.parquet(path)
      val (rowsBefore, filesBefore) = (before.count(), nFiles.toLong)
      val kept = drop(before)
      val rowsAfter = kept.count()
      val parts = math.max(1L, (rowsAfter + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val tmp = new Path(s"${path}__compact_tmp")
      kept.coalesce(parts).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(p, true)
      fs.rename(tmp, p)
      (rowsBefore, rowsAfter, filesBefore, nFiles.toLong)
    }

    try {
      val (ib, ia, ifb, ifa) = rewrite(s"$state/index",
        df => df.join(del.withColumnRenamed("doc_id", "id"), Seq("id"), "left_anti"))
      val (db, da, _, _) = rewrite(s"$state/docs",
        df => df.join(del, Seq("doc_id"), "left_anti"))
      val (pb, pa, _, _) = rewrite(s"$state/pairs",
        df => df
          .join(del.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti")
          .join(del.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_anti"))
      val census = Dedup.bandBucketStats(spark.read.parquet(s"$state/index")).collect()(0)
      s"""{"index_rows":[$ib,$ia],"index_files":[$ifb,$ifa],""" +
        s""""docs":[$db,$da],"pairs":[$pb,$pa],""" +
        s""""n_buckets":${census.getAs[Long]("n_buckets")},""" +
        s""""max_bucket":${census.getAs[Long]("max_bucket")},""" +
        s""""n_oversize":${census.getAs[Long]("n_oversize")}}"""
    } finally del.unpersist(blocking = false)
  }
}
