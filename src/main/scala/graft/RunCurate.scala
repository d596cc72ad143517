package graft

import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.llm.Curation

/** CLI: end-to-end training-data curation over a documents parquet — the
  * full modern pipeline shape:
  *
  *   within-doc line dedup → span-level quality trim → quality/language
  *   gate → exact + near-dup dedup → per-source token-budget cap
  *   (optional) → deterministic shuffle/shard → sequence packing
  *
  * writing curated docs (with shard assignments), packed sequences, and
  * a stats summary. Every stage is the same operator the declared
  * queries verify (x21/x24/x6/x22/x16/x7).
  *
  * Usage: runMain graft.RunCurate <documents.parquet> <outDir>
  *        [minQuality] [packBudget] [tokensPerSource]
  *
  * `tokensPerSource` ≤ 0 (default) disables the per-source cap.
  */
object RunCurate {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunCurate <documents.parquet> <outDir> [minQuality] [packBudget] [tokensPerSource]")
    val (in, out) = (args(0), args(1))
    val minQ = if (args.length > 2) args(2).toDouble else 0.4
    val budget = if (args.length > 3) args(3).toInt else 512
    val tokensPerSource = if (args.length > 4) args(4).toLong else 0L
    val spark = Session.build()
    val t0 = System.nanoTime()

    val raw = spark.read.parquet(in)
    val nInput = raw.count()

    // 1-2. within-document cleanup: drop repeated lines, then drop
    // low-quality spans (no-ops on single-line docs; a conservative span
    // threshold so only junk lines fall)
    val meta = raw.drop("text")
    val lineDeduped = Curation.dedupLines(raw, "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_dedup").as("text"))
    val trimmed = Curation.qualityTrim(lineDeduped, "doc_id", "text", minScore = 0.2)
      .select(col("id").as("doc_id"), col("text_trimmed").as("text"))
    val docs = meta.join(trimmed, "doc_id")

    // 3-4. document gate, then Pareto quality smoothing (GPT-3 App. A:
    // a derandomized Pareto(9) draw lets borderline docs through in
    // proportion to quality instead of a second hard cut), then
    // exact/near-dup dedup
    val gated = Curation.qualityFilter(docs, "text", Seq("en"), minQ, 8, 1 << 20)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sampled = gated.join(
      Curation.paretoQualityKeep(gated, "doc_id", "text")
        .where(col("kept")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val deduped = Curation.curateGated(sampled, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 5. optional per-source token budget (mixture control)
    val capped =
      if (tokensPerSource > 0L)
        Curation.tokenBudgetCap(deduped, "doc_id", "source", "n_tokens",
          tokensPerSource, seed = "curate")
      else deduped

    // 6. deterministic shuffle + shard assignment for the data loader
    val sharded = Curation.shuffleShard(capped, "doc_id", nShards = 8, seed = "curate")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sharded.write.mode("overwrite").parquet(s"$out/curated.parquet")

    // 7. sequence packing inside the shard order
    val packs = Curation.packSequences(sharded, "doc_id", "n_tokens", budget)
    packs.write.mode("overwrite").parquet(s"$out/packs.parquet")

    val nGated = gated.count()
    val nSampled = sampled.count()
    val nKept = deduped.count()
    val nFinal = sharded.count()
    val packStats = packs.agg(
      count(lit(1)).as("n_packs"),
      sum(col("total_tokens")).as("total_tokens"),
      avg(col("total_tokens")).as("avg_fill")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    Sinks.writeJson(Seq(
      "input_docs" -> nInput, "gated_docs" -> nGated,
      "pareto_sampled_docs" -> nSampled, "deduped_docs" -> nKept,
      "final_docs" -> nFinal,
      "drop_rate" -> (1.0 - nFinal.toDouble / math.max(1, nInput)),
      "n_packs" -> packStats.getLong(0),
      "total_tokens" -> packStats.getLong(1),
      "avg_pack_fill" -> packStats.getDouble(2) / budget,
      "token_budget" -> budget,
      "tokens_per_source" -> tokensPerSource,
      "seconds" -> secs), s"$out/curation_stats.json")
    println(f"[curate] $nInput%d -> $nGated%d gated -> $nSampled%d sampled -> $nKept%d deduped -> " +
      f"$nFinal%d final; ${packStats.getLong(0)}%d packs, " +
      f"fill ${packStats.getDouble(2) / budget}%.2f, $secs%.1f s")
    gated.unpersist(blocking = false)
    deduped.unpersist(blocking = false)
    sharded.unpersist(blocking = false)
    spark.stop()
  }
}
