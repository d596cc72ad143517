package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the properties that matter at 100 TB —
  * pushdown reaching the scan, broadcast for small dims, partial
  * aggregation, no single-partition stages on data paths. Asserted
  * against Spark 4.1.2 plan strings (pinned by build.sbt). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    df.queryExecution.executedPlan.toString
  }

  test("s1: filter and projection reach the parquet scan") {
    val p = plan("s1_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,3.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("j5: small dimension tables broadcast, never shuffled") {
    val p = plan("j5_left_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j2: the hash-sample filter sits below the join, not above it") {
    val df = SparkEntry.queries("j2_join_two")(spark, "/root/testdata/sf0.001")
    val optimized = df.queryExecution.optimizedPlan.toString
    // the pmod sample predicate must appear in a Filter directly over the
    // relation (pushed through both joins), not post-join
    val lines = optimized.linesIterator.toSeq
    val filterIdx = lines.indexWhere(l => l.contains("pmod") && l.contains("Filter"))
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(filterIdx > joinIdx, s"sample filter should be below the join:\n$optimized")
  }

  test("a6: aggregation is map-side partial then final") {
    val p = plan("a6_groupby_stats")
    assert(p.contains("partial_count"), p)
    assert(p.split("HashAggregate").length >= 3, p) // partial + final
  }

  test("w4/a19: decile and whale rank have no single-partition stage on the data path") {
    for (name <- Seq("w4_decile", "a19_whale_contingency")) {
      val p = plan(name)
      // the data path ranks via one range shuffle (explicit count). Since
      // the round-12 branch-consistency fix, that shuffle executes EAGERLY
      // inside withGlobalRank's localCheckpoint, so the declared plan shows
      // the checkpointed RDD scan instead of the exchange — accept either
      // signature (both prove the distributed-rank shape; the single-
      // partition assertions below still police the rest of the plan).
      assert(p.contains("REPARTITION_BY_NUM") || p.contains("Scan ExistingRDD"),
        s"$name missing range shuffle / checkpointed rank scan:\n$p")
      // ...and the old global ntile/row_number windows are gone: any
      // remaining SinglePartition exchange must sit directly above a
      // HashAggregate (the ≤ nPart-row offset partials / final agg), never
      // above a scan or sort of the data
      val lines = p.linesIterator.toSeq
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
        case (_, i) =>
          val child = lines.drop(i + 1).headOption.getOrElse("")
          assert(child.contains("HashAggregate"),
            s"$name single-partition exchange over non-aggregate data:\n$p")
      }
      // no unpartitioned window over anything but the tiny offset frame
      assert(!p.contains("ntile"), s"$name still uses a global ntile:\n$p")
    }
  }

  test("x12: the mixture-sampling predicate reaches the parquet scan") {
    val p = plan("x12_domain_mix")
    // the when-chain over strata compiles to a single pushable filter —
    // at 100 TB this is scan-time row pruning, not a post-scan filter stage
    val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(p.contains("PushedFilters:"), p)
    assert(p.linesIterator.exists(l => l.contains("Filter") && l.contains("CASE")), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(scanLine.nonEmpty)
  }

  test("x11: decontamination joins by shingle, eval dictionary broadcast") {
    val p = plan("x11_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("x26: bm25 broadcasts the query dictionary; top-k is WindowGroupLimit") {
    val p = plan("x26_bm25")
    // the term-dictionary prune and the df/stats/query reattach joins
    // are all broadcast; nothing plans a nested-loop or cartesian join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the broadcast of the 1-row
    // (n_docs, avgdl) scalar frame — never a data×data loop
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
    // rk<=k over the window compiles to per-partition k-heaps, so the
    // candidate set is never fully sorted
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("x28: heavy-hitter recount joins the broadcast candidate set, partial-aggregated") {
    val p = plan("x28_heavy_hitters")
    // pass-2 recount: candidates broadcast (the shuffle carries only
    // candidate tokens), counts map-side partial before the exchange
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p9: merge keeps one key-partitioned window, no unpartitioned stage") {
    val df = SparkEntry.queries("p9_merge_upsert")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // latest-wins resolves via a window PARTITIONED BY the merge key
    assert(p.contains("windowspecdefinition(o_orderkey"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x35: weighted sample is TakeOrdered, never a global sort exchange") {
    val p = plan("x35_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("a17: AUC has no unpartitioned window over the data path") {
    val df = SparkEntry.queries("a17_auc")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // windows exist only over pid-partitioned or tiny offset frames
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(l => l.contains("pid") || l.contains("windowspecdefinition(pid")
      || !l.contains("windowspecdefinition()")), p)
  }

  test("d12: incremental candidates are (band, band_hash) equi joins, never all-pairs") {
    import graft.llm.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val index = Dedup.nearDupIndex(corpus, "doc_id", "text", w = 5, k = 64, bands = 32)
    val batchIdx = Dedup.nearDupIndex(batch, "doc_id", "text", w = 5, k = 64, bands = 32)
    // the lazy twin of incrementalCandidates: same plan, minus the eager
    // checkpoint whose executed plan is an opaque RDD scan
    val p = Dedup.incrementalCandidatesLazy(index, batchIdx)
      .queryExecution.executedPlan.toString
    // both the probe and the internal join must hash/sort-merge on the
    // band keys; a nested-loop or cartesian here is the quadratic
    // blow-up this whole design exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("band_hash"), p)
  }

  test("n7: at-rest IVF probe prunes cell partitions at the scan") {
    import graft.llm.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.where(col("vec_id") < 3)
    val (assigned, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_plan")
    try {
      assigned.write.mode("overwrite").partitionBy("cell").parquet(dir.toString)
      val probe = Similarity.ivfTopKFromIndex(
        spark.read.parquet(dir.toString), cents, qs, "vec_id", "embedding", k = 3)
      val p = probe.queryExecution.executedPlan.toString
      // the probed-cell union must land in PartitionFilters (scan-level
      // pruning over the cell-partitioned layout), not a post-scan Filter
      val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(scanLine.contains("cell") && scanLine.contains("IN ("), p)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverseIterator
        .foreach(q => java.nio.file.Files.deleteIfExists(q))
    }
  }

  test("j16: star chain never degenerates to a nested loop; dimensions broadcast") {
    val p = plan("j16_star_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the three dimension hops broadcast (the fact join may also
    // broadcast at fixture scale — both are hash joins either way)
    assert(p.split("BroadcastHashJoin").length >= 4, p)
  }

  test("w17: sliding distinct is the explode rewrite — never a BETWEEN-join nested loop") {
    val p = plan("w17_sliding_distinct")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("t25: RFM quartiles ride the distributed rank — no global ntile window") {
    val p = plan("t25_rfm_segments")
    assert(!p.contains("ntile"), p)
    // the recency pass orders on last_day DESC directly — the global-max
    // attach (1-row crossJoin(broadcast), a BroadcastNestedLoopJoin) is
    // gone entirely, so the banned operator must never reappear here
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // single-partition exchanges may only sit above aggregates (the
    // tiny offset/total frames), never over the data path — w4's rule
    val lines = p.linesIterator.toSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val child = lines.drop(i + 1).headOption.getOrElse("")
        assert(child.contains("HashAggregate"),
          s"t25 single-partition exchange over non-aggregate data:\n$p")
    }
  }

  test("topKFold: the keep-k filter compiles to WindowGroupLimit (map-side top-k heap)") {
    val s = spark; import s.implicits._
    val a = Seq(("a", 1L, 5), ("a", 2L, 7)).toDF("g", "id", "v")
    val b = Seq(("a", 3L, 6)).toDF("g", "id", "v")
    val p = graft.core.Merge.topKFold(a, b, Seq("g"),
        Seq(col("v").desc, col("id").asc), 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }
}
