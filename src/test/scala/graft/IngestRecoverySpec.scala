package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.IngestStream

/** Plant-a-crash coverage for IngestStream's index-generation roll
  * (StreamingSpec's foldMvReplay recovery test, mirrored onto the
  * st10/st11 runners): the per-batch writes address state by the
  * engine-supplied immutable batchId and `mode("overwrite")`, so a
  * generation directory left half-written by a crash — parquet
  * part-files present, no `_SUCCESS` — must be cleared and rewritten
  * when the uncommitted batch is redelivered, never trusted or
  * appended to. Until this spec, that recovery branch had never
  * actually executed with planted garbage. */
class IngestRecoverySpec extends SparkSpec {

  test("embed ingest roll recovers from a half-written index generation (planted crash)") {
    val embPath = "/root/testdata/sf0.001/embeddings.parquet"

    // clean reference run — pairs and the final rolled index
    val cleanWork = tempDir("graft_spec_ingest_clean")
    val cleanPairs = IngestStream.runEmbedIngestAt(spark, cleanWork, embPath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cleanIndex = spark.read.parquet(cleanWork.resolve("index_3").toString)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // crashed run: index_1 (the roll target of batch 0) exists with a
    // syntactically invalid part-file and NO _SUCCESS — exactly what a
    // crash mid-write leaves. Batch 0 is uncommitted in the (empty)
    // checkpoint, so the replay redelivers it; the roll's
    // mode("overwrite") must clear the remnant, and every downstream
    // generation and pair emission must come out exact.
    val crashWork = tempDir("graft_spec_ingest_crash")
    val gen1 = crashWork.resolve("index_1")
    Files.createDirectories(gen1)
    Files.write(gen1.resolve("part-00000-crash-remnant.snappy.parquet"),
      "NOT A PARQUET FILE".getBytes("UTF-8"))
    assert(!Files.exists(gen1.resolve("_SUCCESS")))
    val recoveredPairs = IngestStream.runEmbedIngestAt(spark, crashWork, embPath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recoveredIndex = spark.read.parquet(crashWork.resolve("index_3").toString)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    assert(recoveredPairs === cleanPairs,
      "pair emissions diverged after recovering a half-written index generation")
    assert(recoveredIndex === cleanIndex,
      "rolled index diverged after recovering a half-written index generation")
    assert(cleanPairs.nonEmpty && cleanIndex.nonEmpty,
      "fixture produced no pairs/index rows — the recovery case is vacuous")

    for (w <- Seq(cleanWork, crashWork)) {
      import scala.jdk.CollectionConverters._
      Files.walk(w).iterator().asScala.toSeq.reverseIterator
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("MinHash ingest roll recovers from a half-written index generation (planted crash)") {
    // the st10 twin of the embed case above: same batchId-keyed state
    // layout, but the recovery branch of the TEXT loop (shingle MinHash
    // band index) had never executed with planted garbage — and
    // runNearDupIngestAt existed for exactly this spec.
    val docsPath = "/root/testdata/sf0.001/documents.parquet"

    val cleanWork = tempDir("graft_spec_neardup_clean")
    val cleanPairs = IngestStream.runNearDupIngestAt(spark, cleanWork, docsPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val cleanIndex = spark.read.parquet(cleanWork.resolve("index_3").toString)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val crashWork = tempDir("graft_spec_neardup_crash")
    val gen1 = crashWork.resolve("index_1")
    Files.createDirectories(gen1)
    Files.write(gen1.resolve("part-00000-crash-remnant.snappy.parquet"),
      "NOT A PARQUET FILE".getBytes("UTF-8"))
    assert(!Files.exists(gen1.resolve("_SUCCESS")))
    val recoveredPairs = IngestStream.runNearDupIngestAt(spark, crashWork, docsPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val recoveredIndex = spark.read.parquet(crashWork.resolve("index_3").toString)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    assert(recoveredPairs === cleanPairs,
      "near-dup pair emissions diverged after recovering a half-written index generation")
    assert(recoveredIndex === cleanIndex,
      "rolled MinHash band index diverged after recovering a half-written index generation")
    assert(cleanPairs.nonEmpty && cleanIndex.nonEmpty,
      "fixture produced no pairs/index rows — the recovery case is vacuous")

    for (w <- Seq(cleanWork, crashWork)) {
      import scala.jdk.CollectionConverters._
      Files.walk(w).iterator().asScala.toSeq.reverseIterator
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
