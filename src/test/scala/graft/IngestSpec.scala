package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** The CROSS-INVOCATION contract of the RunIngest CLI: state persists on
  * disk between runs, and after ingesting N batches the accumulated
  * pairs equal the full-corpus LSH pair set — the property that makes
  * incremental daily ingest a safe substitute for periodic full re-runs. */
class IngestSpec extends SparkSpec {

  test("RunIngest accumulates state across invocations; pairs equal the full run") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val work = tempDir("graft_run_ingest")
    val state = work.resolve("state").toString
    // three daily drops
    (0 until 3).foreach { i =>
      val bp = work.resolve(s"batch_$i").toString
      docs.where(pmod(col("doc_id"), lit(3)) === i).write.parquet(bp)
      val summary = RunIngest.ingestOnce(spark, bp, state)
      assert(summary.contains("\"batch_docs\""), summary)
    }
    val accumulated = spark.read.parquet(s"$state/pairs")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val full = Dedup.minHashNearDup(docs, "doc_id", "text",
        w = 5, k = 64, bands = 32, minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(accumulated.nonEmpty && accumulated.keySet === full.keySet,
      s"missing=${(full.keySet diff accumulated.keySet).take(3)} " +
        s"extra=${(accumulated.keySet diff full.keySet).take(3)}")
    accumulated.foreach { case (p, j) => assert(math.abs(j - full(p)) < 1e-12) }
    // the persisted index covers every ingested doc × band
    assert(spark.read.parquet(s"$state/index").count() === docs.count() * 32)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(work).iterator().asScala.toSeq.reverseIterator
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("ingest → delete → compact equals a fresh index over the surviving corpus") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val work = tempDir("graft_compact")
    val state = work.resolve("state").toString
    // two drops into state; hold the third back as the post-compact probe
    (0 until 2).foreach { i =>
      val bp = work.resolve(s"batch_$i").toString
      docs.where(pmod(col("doc_id"), lit(3)) === i).write.parquet(bp)
      RunIngest.ingestOnce(spark, bp, state)
    }
    // delete every 5th ingested doc — including members of emitted pairs
    val deleted = docs.where(pmod(col("doc_id"), lit(3)) < 2 &&
      pmod(col("doc_id"), lit(5)) === 0).select("doc_id")
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    assert(deletedIds.nonEmpty)
    val report = RunIngest.compactOnce(spark, state, deleted, targetRowsPerFile = 1000000L)
    assert(report.contains("\"index_rows\""), report)
    // compacted state: no deleted id anywhere, files coalesced to 1 gen
    val idx = spark.read.parquet(s"$state/index")
    assert(idx.where(col("id").isin(deletedIds.toSeq: _*)).count() === 0L)
    val survivors = docs.where(pmod(col("doc_id"), lit(3)) < 2)
      .join(deleted, Seq("doc_id"), "left_anti")
    assert(spark.read.parquet(s"$state/docs").count() === survivors.count())
    // the compacted index IS the fresh index over the surviving corpus
    val fresh = graft.llm.Dedup.nearDupIndex(survivors, "doc_id", "text",
      w = 5, k = 64, bands = 32)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("id"), r.getAs[Int]("band"), r.getAs[Long]("band_hash"))
    assert(idx.collect().map(key).toSet === fresh.collect().map(key).toSet)
    // probing the compacted state with the held-back third drop equals
    // probing a freshly-built state over the survivors
    val bp = work.resolve("batch_probe").toString
    docs.where(pmod(col("doc_id"), lit(3)) === 2).write.parquet(bp)
    RunIngest.ingestOnce(spark, bp, state)
    val freshState = work.resolve("fresh_state").toString
    val sp = work.resolve("survivors_batch").toString
    survivors.write.parquet(sp)
    RunIngest.ingestOnce(spark, sp, freshState)
    RunIngest.ingestOnce(spark, bp, freshState)
    def pairsTouching(dir: String, probeIds: Set[Long]) =
      spark.read.parquet(s"$dir/pairs")
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
        .filter(p => probeIds.contains(p._1) || probeIds.contains(p._2)).toSet
    val probeIds = docs.where(pmod(col("doc_id"), lit(3)) === 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairsTouching(state, probeIds) === pairsTouching(freshState, probeIds))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(work).iterator().asScala.toSeq.reverseIterator
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** Writes the three daily drops of `docs` (doc_id mod 3) under `work`. */
  private def drops(work: Path): Seq[String] = (0 until 3).map { i =>
    val bp = work.resolve(s"batch_$i").toString
    docs.where(pmod(col("doc_id"), lit(3)) === i).write.parquet(bp)
    bp
  }

  private def pairMap(df: DataFrame, sim: String = "jaccard"): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double](sim))
      .toMap

  /** The state's pairs hold each full-run pair exactly once, with its
    * Jaccard, and its index covers every doc × band. */
  private def assertExact(state: String): Unit = {
    val full = pairMap(Dedup.minHashNearDup(docs, "doc_id", "text",
      w = 5, k = 64, bands = 32, minJaccard = 0.5))
    val got = spark.read.parquet(s"$state/pairs")
    assert(full.nonEmpty && pairMap(got).keySet === full.keySet)
    assert(got.count() === full.size.toLong, "a pair is stored more than once")
    pairMap(got).foreach { case (p, j) => assert(math.abs(j - full(p)) < 1e-12) }
    assert(spark.read.parquet(s"$state/index").count() === docs.count() * 32)
  }

  private def field(summary: String, key: String): Long =
    s""""$key":(\\d+)""".r.findFirstMatchIn(summary).map(_.group(1).toLong)
      .getOrElse(fail(s"no $key in $summary"))

  test("RunIngest retried on a committed batch writes nothing and repeats its summary") {
    val work = tempDir("graft_ingest_retry")
    val state = work.resolve("state").toString
    val Seq(b0, b1, b2) = drops(work)
    RunIngest.ingestOnce(spark, b0, state)
    RunIngest.ingestOnce(spark, b1, state)
    val once = RunIngest.ingestOnce(spark, b2, state)
    def rows = Seq("index", "docs", "pairs").map(t => spark.read.parquet(s"$state/$t").count())
    val before = rows
    val again = RunIngest.ingestOnce(spark, b2, state)
    assert(again === once)
    assert(rows === before)
    assertExact(state)
    assert(field(again, "total_pairs") === before(2))
    assert(field(again, "index_rows") === before(0))
  }

  test("RunIngest deletes the files of a batch that died mid-commit, then ingests it") {
    import scala.jdk.CollectionConverters._
    val work = tempDir("graft_ingest_remnant")
    val state = work.resolve("state")
    val Seq(b0, b1, b2) = drops(work)
    // a commit that died after moving its files into the tables and
    // before writing its manifest entry: the same commit into a copy of
    // the state yields the files to plant
    def plantRemnant(bp: String, twin: Path): Unit = {
      if (Files.exists(state)) Files.walk(state).iterator().asScala.toSeq
        .foreach(p => Files.copy(p, twin.resolve(state.relativize(p).toString)))
      RunIngest.ingestOnce(spark, bp, twin.toString)
      val planted = for (t <- Seq("index", "docs", "pairs");
          p <- Files.list(twin.resolve(t)).iterator().asScala.toSeq
          if !Files.exists(state.resolve(t).resolve(p.getFileName))) yield (t, p)
      assert(planted.exists(_._2.getFileName.toString.startsWith("part-")))
      planted.foreach { case (t, p) =>
        Files.createDirectories(state.resolve(t))
        Files.copy(p, state.resolve(t).resolve(p.getFileName))
      }
    }
    plantRemnant(b0, work.resolve("twin_0")) // into a state with no manifest yet
    RunIngest.ingestOnce(spark, b0, state.toString)
    plantRemnant(b1, work.resolve("twin_1")) // beside a committed batch
    RunIngest.ingestOnce(spark, b1, state.toString)
    val last = RunIngest.ingestOnce(spark, b2, state.toString)
    assertExact(state.toString)
    assert(field(last, "total_pairs") === spark.read.parquet(s"$state/pairs").count())
    assert(field(last, "index_rows") === docs.count() * 32)
  }

  test("RunIngest adopts a state written by plain parquet appends") {
    val work = tempDir("graft_ingest_adopt")
    val state = work.resolve("state").toString
    val Seq(b0, b1, b2) = drops(work)
    // the manifest-less layout: each batch's pairs, index rows and docs
    // appended to the three table dirs
    Seq(b0, b1).zipWithIndex.foreach { case (bp, i) =>
      val batch = spark.read.parquet(bp)
      val (corpus, index) =
        if (i == 0) (batch.limit(0), graft.io.Generations.empty(spark,
          graft.streaming.IngestStream.IndexSchema))
        else (spark.read.parquet(s"$state/docs"), spark.read.parquet(s"$state/index"))
      val (pairs, batchIdx) = Dedup.incrementalNearDupRoll(
        corpus, index, batch, "doc_id", "text", 5, 64, 32, 0.5)
      pairs.write.mode("append").parquet(s"$state/pairs")
      batchIdx.write.mode("append").parquet(s"$state/index")
      batch.write.mode("append").parquet(s"$state/docs")
    }
    val summary = RunIngest.ingestOnce(spark, b2, state)
    assertExact(state)
    assert(field(summary, "total_pairs") === spark.read.parquet(s"$state/pairs").count())
    assert(field(summary, "index_rows") === docs.count() * 32)
  }

  test("RunIngest --embed accumulates state; pairs equal the full cosine LSH run") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val work = tempDir("graft_ingest_embed")
    val state = work.resolve("state").toString
    (0 until 3).foreach { i =>
      val bp = work.resolve(s"batch_$i").toString
      vecs.where(pmod(col("vec_id"), lit(3)) === i).write.parquet(bp)
      RunIngest.ingestEmbedOnce(spark, bp, state)
    }
    val full = pairMap(Dedup.cosinePairsLsh(vecs, "vec_id", "embedding",
      minCos = 0.45, dim = 64, nPlanes = 16, nBands = 8), "cos")
    val got = spark.read.parquet(s"$state/pairs")
    assert(full.nonEmpty && pairMap(got, "cos").keySet === full.keySet)
    assert(got.count() === full.size.toLong)
    pairMap(got, "cos").foreach { case (p, c) => assert(math.abs(c - full(p)) < 1e-12) }
    assert(spark.read.parquet(s"$state/index").count() === vecs.count() * 8)
  }
}
