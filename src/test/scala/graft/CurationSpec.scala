package graft

import org.apache.spark.sql.functions._
import graft.llm.Curation

class CurationSpec extends SparkSpec {

  test("qualityFilter gates on language, quality, and token count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog is here and the day is good"), // en, decent
      (2L, "der hund und die katze ist da und so weiter gut"), // de
      (3L, "a b")                                               // too short
    ).toDF("doc_id", "text")
    val kept = Curation.qualityFilter(docs, "text", Seq("en"), 0.3, 5, 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
  }

  test("curate drops exact and near duplicates, keeps first") {
    import spark.implicits._
    val base = "the cat and the dog is here and the day is good for a walk today"
    val docs = Seq(
      (1L, base),
      (2L, base),                      // exact dup of 1
      (3L, base + " indeed"),          // near dup of 1
      (4L, "the fish and the bird is there and the night is cold for a swim now")
    ).toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text", minQuality = 0.2, minTokens = 5,
      shingleW = 3, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L))
  }

  test("chunkDocuments: overlap windows cover the doc; short docs get one chunk") {
    import spark.implicits._
    // 10 tokens, chunk 4, overlap 1 → stride 3 → chunks at 1,4,7: sizes 4,4,4
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b")).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("n_tokens"), r.getAs[String]("chunk_text")))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._4).toSeq === Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // consecutive chunks share exactly `overlap` tokens
    assert(d1.map(_._3).forall(_ === 4))
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length === 1 && d2(0)._4 === "a b" && d2(0)._3 === 2)
  }

  test("contamination counts shared shingles; clean docs report zero overlap") {
    import spark.implicits._
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words then the quick brown fox jumps over the lazy dog indeed"), // contains eval 5-grams
      (2L, "completely different content with no shared phrases at all here"),     // clean
      (3L, "tiny")                                                                 // < w tokens → whole text
    ).toDF("doc_id", "text")
    val out = Curation.contamination(corpus, evalSet, "doc_id", "text", w = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_overlap"))).toMap
    // doc 1: 13 tokens → 9 distinct 5-gram shingles; eval has 5 shingles,
    // all of which appear contiguously inside doc 1 → overlap 5
    assert(out(1L) === ((9L, 5L)), out)
    assert(out(2L)._2 === 0L)
    assert(out(3L) === ((1L, 0L))) // whole-text shingle, no overlap
  }

  test("contaminationBloom equals exact contamination (verify step kills Bloom FPs)") {
    import spark.implicits._
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words then the quick brown fox jumps over the lazy dog indeed"),
      (2L, "completely different content with no shared phrases at all here"),
      (3L, "tiny")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_overlap"))).toMap
    val exact = rows(Curation.contamination(corpus, evalSet, "doc_id", "text", w = 5))
    // tiny expectedShingles + high fpp forces a dense, FP-prone filter —
    // the exact verify must still reproduce the exact answer
    val bloom = rows(Curation.contaminationBloom(corpus, evalSet, "doc_id", "text",
      w = 5, expectedShingles = 8L, fpp = 0.5))
    assert(bloom === exact, s"bloom=$bloom exact=$exact")
  }

  test("dedupLines keeps first occurrence in original order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha\ngamma\nbeta"), // dups out of order
      (2L, "solo"),                            // single line
      (3L, "x\nx\nx")                          // all same
    ).toDF("doc_id", "text")
    val out = Curation.dedupLines(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("text_dedup")))).toMap
    assert(out(1L) === ((5L, 3L, "alpha\nbeta\ngamma")))
    assert(out(2L) === ((1L, 1L, "solo")))
    assert(out(3L) === ((3L, 1L, "x")))
  }

  test("removeBoilerplate strips corpus-wide lines, keeps doc-specific ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\nFOOTER\nmore one"),
      (2L, "unique two\nFOOTER"),
      (3L, "unique three\nFOOTER\nshared tail"),
      (4L, "shared tail\nFOOTER"), // "shared tail" in only 2 docs → kept
      (5L, "FOOTER")               // all-boilerplate doc → empty text
    ).toDF("doc_id", "text")
    val out = Curation.removeBoilerplate(docs, "doc_id", "text", minDocs = 3).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("text_clean")))).toMap
    assert(out(1L) === ((3L, 2L, "unique one\nmore one")))
    assert(out(2L) === ((2L, 1L, "unique two")))
    assert(out(3L) === ((3L, 2L, "unique three\nshared tail")))
    assert(out(4L) === ((2L, 1L, "shared tail")))
    assert(out(5L) === ((1L, 0L, "")))
  }

  test("qualityTrim drops low-quality lines, keeps order; all-dropped gives empty text") {
    import spark.implicits._
    val good = "the cat and the dog is here and the day is good for a walk"
    val docs = Seq(
      (1L, s"$good\nzz\n$good"),  // junk line between two good ones
      (2L, "x\n!")                // nothing survives
    ).toDF("doc_id", "text")
    val out = Curation.qualityTrim(docs, "doc_id", "text", minScore = 0.5).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("text_trimmed")))).toMap
    assert(out(1L) === ((3L, 2L, s"$good\n$good")))
    assert(out(2L) === ((2L, 0L, "")))
  }

  test("tokenBudgetCap keeps the maximal fitting prefix per stratum, deterministic by seed") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"src${i % 2}", 10L + (i % 5)))
      .toDF("doc_id", "source", "n_tokens")
    val kept = Curation.tokenBudgetCap(docs, "doc_id", "source", "n_tokens",
      budget = 120L, seed = "t")
    // per stratum: total tokens within budget, and adding the next doc in
    // walk order would overflow (maximality)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("__skey"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val walk = docs.withColumn("__skey",
        md5(concat(lit("t#"), col("doc_id").cast("string"))))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("cum"))).groupBy(_._1)
    val keptIds = kept.collect().map(r => r.getAs[Long]("doc_id")).toSet
    walk.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      val expect = sorted.takeWhile(_._3 <= 120L).map(_._2).toSet
      assert(sorted.filter(r => keptIds.contains(r._2)).map(_._2).toSet === expect)
    }
    // deterministic across invocations
    val again = Curation.tokenBudgetCap(docs, "doc_id", "source", "n_tokens", 120L, "t")
    assert(again.collect().map(_.getAs[Long]("doc_id")).toSet === keptIds)
    // maximal skew: ONE stratum spanning every range partition — the
    // two-level offsets must stitch the slice-local running sums into
    // the same prefix a sequential walk produces
    val one = (1L to 500L).map(i => (i, "only", 7L)).toDF("doc_id", "source", "n_tokens")
    val oneKept = Curation.tokenBudgetCap(one, "doc_id", "source", "n_tokens",
      budget = 700L, seed = "t").collect().map(_.getAs[Long]("doc_id")).toSet
    val oneWalk = one.withColumn("__skey",
        md5(concat(lit("t#"), col("doc_id").cast("string"))))
      .orderBy(col("__skey"), col("doc_id"))
      .collect().map(_.getAs[Long]("doc_id"))
    assert(oneKept === oneWalk.take(100).toSet) // 700 / 7 = first 100 of the walk
    // plan lock: no DATA-PATH window partitioned by the stratum alone.
    // A stratum-only window is legal only on the tiny offsets side,
    // which sits above the per-(slice, stratum) aggregate — so any
    // WindowExec keyed solely by the stratum must have an aggregate
    // below it; the raw-row window must carry the slice id too.
    val root = Curation.tokenBudgetCap(one, "doc_id", "source", "n_tokens", 700L, "t")
      .queryExecution.executedPlan
    val plan = root match { // AQE wraps the real tree; unwrap for typed collect
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val stratumOnly = w.partitionSpec.length == 1 &&
        w.partitionSpec.head.references.exists(_.name == "source")
      if (stratumOnly) {
        val hasAggBelow = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        }.nonEmpty
        assert(hasAggBelow, s"whole-stratum window on the data path: ${w.partitionSpec}")
      }
    }
  }

  test("tokenBudgetCap stays exact with a PAYLOAD column over real-sized data") {
    // Regression for the branch-divergence bug the rank helpers had in
    // round 12: with the text payload riding along, the offsets branch
    // pruned to a narrower exchange, reuse never fired, each branch
    // sampled its own range bounds, and a budget that fits every
    // document kept 4,867–4,992 of 5,000. Checked against the driver walk.
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val walk = docs.select(col("source"), col("doc_id"), col("n_tokens"),
        md5(concat(lit("p#"), col("doc_id").cast("string"))).as("skey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).values.toSeq
      .map(_.sortBy(r => (r._4, r._2)).scanLeft((0L, 0L)) { case ((_, cum), r) =>
        (r._2, cum + r._3) }.tail)
    val all = walk.map(_.last._2).max
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    for (parts <- Seq(4, 16); trial <- 1 to 3; budget <- Seq(all, 20000L)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        // collect whole rows: selecting doc_id alone would let pruning
        // drop the payload from both branches and hide the bug
        val kept = Curation.tokenBudgetCap(docs, "doc_id", "source", "n_tokens", budget, "p")
          .collect().map(_.getAs[Long]("doc_id")).toSet
        val expect = walk.flatMap(_.takeWhile(_._2 <= budget).map(_._1)).toSet
        val wrong = (kept diff expect) ++ (expect diff kept)
        assert(wrong.size === 0, s"budget $budget at $parts parts (trial $trial): " +
          s"kept ${kept.size}, expected ${expect.size}, ${wrong.size} docs differ")
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
  }

  test("exactKPerStratum: exact counts, determinism, seed sensitivity, group-limit plan") {
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val out = graft.core.Sampling.exactKPerStratum(df, "doc_id", "source", k = 10, seed = "s1")
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.forall(_ === 10L) && bySrc.size === 4)
    // deterministic: same seed reproduces the identical set
    val again = graft.core.Sampling.exactKPerStratum(df, "doc_id", "source", k = 10, seed = "s1")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ===
      again.collect().map(_.getLong(0)).sorted.toSeq)
    // different seed draws a different set (overwhelming probability)
    val other = graft.core.Sampling.exactKPerStratum(df, "doc_id", "source", k = 10, seed = "s2")
    assert(out.collect().map(_.getLong(0)).toSet !==
      other.collect().map(_.getLong(0)).toSet)
    // small stratum: keeps all rows when size < k
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    assert(graft.core.Sampling.exactKPerStratum(tiny, "doc_id", "source", 10, "s").count() === 3L)
    // rank limit is pushed into the sort (WindowGroupLimit), no full-stratum window
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("leakageSafeSplit: no near-dup pair straddles a split; singletons covered") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = graft.llm.Dedup.jaccardPairs(docs, "doc_id", "text", w = 5, minJaccard = 0.12)
    assert(pairs.count() > 0, "fixture must contain near-dup pairs")
    val clusters = graft.llm.Dedup.dupClusters(pairs)
    val split = Curation.leakageSafeSplit(docs, "doc_id", clusters)
      .select(col("doc_id"), col("split"))
    // every doc assigned exactly once
    assert(split.count() === docs.count())
    assert(split.groupBy("split").count().count() === 3L, "all three splits realized")
    // THE invariant: both ends of every near-dup pair share a split
    val sa = split.select(col("doc_id").as("id_a"), col("split").as("split_a"))
    val sb = split.select(col("doc_id").as("id_b"), col("split").as("split_b"))
    val straddling = pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .where(col("split_a") =!= col("split_b")).count()
    assert(straddling === 0L, s"$straddling near-dup pairs cross split boundaries")
    // a per-DOC mod hash (what leakageSafeSplit exists to replace) DOES
    // straddle on this corpus — the invariant above is not vacuous
    val naive = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(100L)) < 90, "train")
        .when(pmod(col("doc_id"), lit(100L)) < 95, "val").otherwise("test").as("split"))
    val na = naive.select(col("doc_id").as("id_a"), col("split").as("split_a"))
    val nb = naive.select(col("doc_id").as("id_b"), col("split").as("split_b"))
    val naiveStraddle = pairs.join(na, Seq("id_a")).join(nb, Seq("id_b"))
      .where(col("split_a") =!= col("split_b")).count()
    assert(naiveStraddle > 0L, "fixture too easy: per-doc hashing never straddles")
  }

  test("leakageSafeSplit rejects malformed cuts") {
    import spark.implicits._
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val none = spark.emptyDataFrame.select(lit(0L).as("id"), lit(0L).as("cluster")).limit(0)
    intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(docs, "doc_id", none, cuts = Seq("train" -> 90))
    }
    intercept[IllegalArgumentException] {
      Curation.leakageSafeSplit(docs, "doc_id", none,
        cuts = Seq("train" -> 95, "val" -> 90, "test" -> 100))
    }
  }

  test("packSequencesByStratum: strata independent, oversize own pack, empty input") {
    import spark.implicits._
    val docs = Seq(("a", 1L, 200), ("a", 2L, 200), ("a", 3L, 200),
      ("b", 4L, 600), ("b", 5L, 100)).toDF("src", "id", "ntok")
    val out = Curation.packSequencesByStratum(docs, "id", "ntok", "src", budget = 512)
      .collect().map(r => (r.getAs[String]("stratum"), r.getAs[Long]("pack_id"),
        r.getAs[scala.collection.Seq[Long]]("doc_ids").toSeq, r.getAs[Int]("total_tokens")))
      .sortBy(t => (t._1, t._2))
    // a: [1,2]=400 then [3]; b: 600-token doc 4 gets its own pack, then [5]
    assert(out.map(t => (t._1, t._2, t._3, t._4)) === Seq(
      ("a", 0L, Seq(1L, 2L), 400), ("a", 1L, Seq(3L), 200),
      ("b", 0L, Seq(4L), 600), ("b", 1L, Seq(5L), 100)))
    // every doc exactly once, never across strata
    assert(out.flatMap(_._3).sorted === Seq(1L, 2L, 3L, 4L, 5L))
    assert(Curation.packSequencesByStratum(
      docs.limit(0), "id", "ntok", "src", budget = 512).count() === 0L)
  }

  test("packSequences respects the budget and covers every doc exactly once") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, 100 + (i % 7).toInt * 50)).toDF("doc_id", "n_tokens")
      .repartition(4)
    val packs = Curation.packSequences(docs, "doc_id", "n_tokens", budget = 1000).collect()
    // budget respected (oversized docs would get their own pack; none here)
    assert(packs.forall(_.getAs[Int]("total_tokens") <= 1000))
    // every doc in exactly one pack
    val all = packs.flatMap((r => r.getSeq[Long](r.fieldIndex("doc_ids"))))
    assert(all.length === 100 && all.toSet.size === 100)
    // pack ids unique
    assert(packs.map(_.getAs[Long]("pack_id")).distinct.length === packs.length)
    // packing is reasonably tight: average fill ≥ 60%
    val fill = packs.map(_.getAs[Int]("total_tokens")).sum.toDouble / (packs.length * 1000)
    assert(fill > 0.6, s"fill=$fill")
  }

  test("packSequences gives oversized docs their own pack") {
    import spark.implicits._
    val docs = Seq((1L, 5000), (2L, 10), (3L, 20)).toDF("doc_id", "n_tokens").repartition(1)
    val packs = Curation.packSequences(docs, "doc_id", "n_tokens", budget = 100).collect()
    val big = packs.find(r => r.getSeq[Long](r.fieldIndex("doc_ids")).contains(1L)).get
    assert(big.getAs[Int]("n_docs") === 1)
  }

  test("shuffleShard: balanced shards, exact permutation, seed-deterministic") {
    import spark.implicits._
    val docs = (0L until 100L).toDF("doc_id")
    val a = Curation.shuffleShard(docs, "doc_id", nShards = 8, seed = "s1").collect()
    // every row keeps its identity; pos is a permutation of 0..N-1
    assert(a.map(_.getAs[Long]("pos")).sorted.toSeq === (0L until 100L))
    // round-robin shards: sizes differ by at most 1
    val sizes = a.groupBy(_.getAs[Int]("shard")).map(_._2.length)
    assert(sizes.max - sizes.min <= 1 && sizes.sum === 100)
    // same seed → identical permutation; different seed → different one
    val a2 = Curation.shuffleShard(docs, "doc_id", nShards = 8, seed = "s1").collect()
    def perm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    assert(perm(a) === perm(a2))
    val b = Curation.shuffleShard(docs, "doc_id", nShards = 8, seed = "s2").collect()
    assert(perm(b) !== perm(a))
    // and the order is actually shuffled, not identity
    assert(perm(a) !== (0L until 100L).map(i => i -> i).toMap)
  }

  test("temperatureMix: τ=1 is proportional; lower τ shifts share to rare domains") {
    import spark.implicits._
    // 900 'big' docs vs 100 'small' docs
    val docs = ((0L until 900L).map(i => (i, "big")) ++
      (900L until 1000L).map(i => (i, "small"))).toDF("doc_id", "source")
    def bp(tau: Double): Map[String, Long] =
      Curation.temperatureMix(docs, "doc_id", "source", tau, budget = 500L)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("keep_bp")).toMap
    val t1 = bp(1.0)
    // τ=1: keep rate = budget/N for every domain (share cancels)
    assert(t1.values.toSet == Set(5000L), t1.toString)
    val t03 = bp(0.3)
    // low τ: the rare domain's keep rate rises, the dominant one falls
    assert(t03("small") > t1("small") && t03("big") < t1("big"), t03.toString)
    // rates are valid basis points
    assert(t03.values.forall(v => v >= 0 && v <= 10000))
  }

  test("mix normalizer survives web-scale domain cardinality (z9 past Long.MaxValue)") {
    import spark.implicits._
    // 1100 domains at the per-domain share ceiling (n_docs^τ = 9e6 →
    // share9 = 9e15): the normalizer sum is 9.9e18, PAST Long.MaxValue
    // (~9.22e18). A BIGINT sum throws under ANSI (this spec goes red)
    // and wraps silently with ANSI off (keep_bp diverges from the
    // expectation below); the DECIMAL(38,0) sum is exact. 1100 count
    // rows stand in for the ~1e10 raw docs a groupBy would need — the
    // reason mixRatesFromCounts is factored out of temperatureMixRates.
    val nDomains = 1100
    val nDocs = 9000000L
    val share9 = 9000000000000000L // floor(9e6^1.0 · 1e9 + 0.5)
    assert(BigInt(nDomains) * BigInt(share9) > BigInt(Long.MaxValue),
      "fixture no longer exercises the overflow class")
    val counts = (0 until nDomains).map(i => (s"d$i", nDocs)).toDF("domain", "n_docs")
    // budget chosen so keep_bp sits ~0.05 away from its floor boundary:
    // ulp dust in the (identical) double chains cannot flip the bucket
    val budget = 1234567890L
    val got = Curation.mixRatesFromCounts(counts, tau = 1.0, budget)
      .collect().map(r => (r.getString(0), r.getAs[Long]("keep_bp"))).toMap
    // reference: the SAME left-associated IEEE sequence the operator
    // documents, with the decimal→double cast as BigDecimal.doubleValue
    val z9d = (BigDecimal(nDomains) * BigDecimal(share9)).doubleValue
    val expected = math.min(10000L,
      math.floor(10000.0 * budget.toDouble * share9.toDouble / z9d / nDocs).toLong)
    assert(got.size === nDomains)
    assert(got.values.toSet === Set(expected), s"got ${got.values.toSet}, want $expected")
    assert(expected === 1247L) // budget/total = 0.12470…, in basis points
  }

  test("paretoQualityKeep: perfect quality always survives; keep rate grows with quality") {
    import spark.implicits._
    val hi = "the of and is in to it for on as" // stopword-dense, alnum, good length band
    val lo = "%%% ### !!!"                      // punctuation soup
    val docs = (0L until 400L).map { i =>
      (i, if (i < 200) (hi + " ") * 6 + hi else lo)
    }.toDF("doc_id", "text")
    val res = Curation.paretoQualityKeep(docs, "doc_id", "text").collect()
    val byKept = res.groupBy(_.getLong(0) < 200)
    val hiRate = byKept(true).count(_.getBoolean(2)).toDouble / 200
    val loRate = byKept(false).count(_.getBoolean(2)).toDouble / 200
    assert(hiRate > loRate, s"hi=$hiRate lo=$loRate")
    assert(loRate > 0.0, "Pareto smoothing must keep SOME low-quality docs")
    // quality == 1 implies kept (1 - q = 0 < x for every draw)
    res.filter(_.getDouble(1) == 1.0).foreach(r => assert(r.getBoolean(2)))
  }

  test("weightedSampleK equals the local Efraimidis–Spirakis reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 300L).map(i => (i, math.round(rnd.nextDouble() * 1e6) / 1e6))
    val df = rows.toDF("doc_id", "w").repartition(8)
    val got = Curation.weightedSampleK(df, "doc_id", "w", k = 40, seed = "t")
      .select("doc_id", "skey").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // local reference: identical bucket/uniform/key formula, top-40
    def bucket6(s: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Integer.parseInt(md.digest(s.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString, 16)
    }
    val us = rows.map { case (id, _) => bucket6(s"t#$id") }
    // the fine (16^6-level) uniform gives every row a distinct draw at
    // this scale — no equal-u bands for the id tiebreak to bias
    assert(us.distinct.size === rows.size,
      "16^6-bucket draws must be collision-free at fixture scale")
    val exp = rows.map { case (id, w) =>
      val u = (bucket6(s"t#$id") + 0.5) / 16777216.0
      val key = BigDecimal(math.pow(u, 1.0 / math.max(w, 0.001)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, key)
    }.sortBy { case (id, key) => (-key, id) }.take(40)
    assert(got.toSeq === exp)
    // k larger than the input: everything comes back
    assert(Curation.weightedSampleK(df, "doc_id", "w", 1000, "t").count() === 300)
    // weight monotonicity: doubling one row's weight never drops it from
    // the sample (same u, larger w ⇒ larger key u^(1/w) for u<1)
    val heavy = df.withColumn("w",
      when(col("doc_id") === exp.head._1, col("w") * 2).otherwise(col("w")))
    val still = Curation.weightedSampleK(heavy, "doc_id", "w", 40, "t")
      .select("doc_id").collect().map(_.getLong(0))
    assert(still.contains(exp.head._1))
  }

  test("spanCorrupt: hand-checked masks, mid-run doc start, no-mask passthrough") {
    import spark.implicits._
    // period=4, span=2: doc 0 masks i%4 in {0,1}; doc 3 masks (3+i)%4 in
    // {0,1} i.e. i in {1,2}, {5,6}...; doc 2 with 2 tokens masks i=2? no —
    // (2+i)%4<2 → i ∈ {2,3} — out of range, so nothing masked.
    val docs = Seq(
      (0L, "t0 t1 t2 t3 t4 t5"),
      (3L, "t0 t1 t2 t3 t4 t5"),
      (2L, "t0 t1"),
      (1L, "t0 t1")  // (1+i)%4<2 → i=3 (absent) or i=0? (1)%4=1<2 yes → i=0; i=3 masked too? (4)%4=0<2 but absent
    ).toDF("doc_id", "text")
    val got = Curation.spanCorrupt(docs, "doc_id", "text", period = 4, span = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    // doc 0: mask {0,1},{4,5} → input "<e0> t2 t3 <e1>", target "<e0> t0 t1 <e1> t4 t5 <e2>"
    assert(got(0L) === ("<extra_id_0> t2 t3 <extra_id_1>",
      "<extra_id_0> t0 t1 <extra_id_1> t4 t5 <extra_id_2>"))
    // doc 3: mask {1,2},{5} → trailing run truncated by doc end
    assert(got(3L) === ("t0 <extra_id_0> t3 t4 <extra_id_1>",
      "<extra_id_0> t1 t2 <extra_id_1> t5 <extra_id_2>"))
    // doc 2: nothing masked → passthrough input, empty target
    assert(got(2L) === ("t0 t1", ""))
    // doc 1: i=0 starts MID-run (phase 1 of a span begun "before" the doc)
    assert(got(1L) === ("<extra_id_0> t1", "<extra_id_0> t0 <extra_id_1>"))
    // default T5 rate: corrupted fraction of a long doc ≈ span/period
    val many = Seq((0L, (0 until 400).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val t = Curation.spanCorrupt(many, "doc_id", "text").collect()(0).getString(2)
    val maskedTokens = t.split(" ").count(!_.startsWith("<extra_id_"))
    assert(maskedTokens === 60) // 400 * 3/20
  }

  test("spanCorrupt: 50k-token doc is linear-time (no quadratic accumulator)") {
    import spark.implicits._
    // One long document: the closed-form construction pays O(tokens);
    // the old fold paid O(tokens^2) char copies (~10^9 at this size) and
    // would blow well past this bound.
    val n = 50000
    val long = Seq((7L, (0 until n).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val row = Curation.spanCorrupt(long, "doc_id", "text").collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, s"50k-token doc took $secs s — accumulator regressed?")
    // structural checks: 15% masked, runs phased by d=7, counts exact
    val inp = row.getString(1).split(" ")
    val tgt = row.getString(2).split(" ")
    assert(tgt.count(!_.startsWith("<extra_id_")) === n * 3 / 20)
    assert(inp.count(!_.startsWith("<extra_id_")) === n - n * 3 / 20)
    // sentinels are consecutive and shared between input and target
    val runs = inp.count(_.startsWith("<extra_id_"))
    assert(tgt.count(_.startsWith("<extra_id_")) === runs + 1)
    assert(inp.filter(_.startsWith("<extra_id_")).toSeq ===
      (0 until runs).map(k => s"<extra_id_$k>"))
  }

  test("ngramNovelty: first doc owns its shingles, a copy scores zero, overlap is fractional") {
    import spark.implicits._
    // w=3 shingles; doc 1 first, doc 2 an exact copy (novelty 0), doc 3
    // shares a prefix with doc 1 but adds new tail content
    val docs = Seq(
      (1L, "a b c d e"),          // shingles: abc bcd cde (3, all novel)
      (2L, "a b c d e"),          // same 3 shingles, owned by doc 1 -> 0
      (3L, "a b c x y z"),        // abc (owned by 1) + bcx cxy xyz (novel) -> 3/4
      (4L, "p q"))                // short doc: one whole-text shingle, novel
      .toDF("doc_id", "text")
    val out = Curation.ngramNovelty(docs, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty")))).toMap
    assert(out(1L) === ((3L, 3L, 1.0)))
    assert(out(2L) === ((3L, 0L, 0.0)))
    assert(out(3L) === ((4L, 3L, 0.75)))
    assert(out(4L) === ((1L, 1L, 1.0)))
  }

  test("sourceOverlap: hand-computed Jaccard/containment; disjoint pair absent") {
    import spark.implicits._
    val docs = Seq(
      // srcA shingles (w=3): {a b c, b c d}  srcB: {a b c, b c d} ∪ {x y z}
      (1L, "a b c d", "srcA"),
      (2L, "a b c d", "srcB"),
      (3L, "x y z", "srcB"),
      // srcC disjoint from everything
      (4L, "p q r s", "srcC"))
      .toDF("doc_id", "text", "source")
    val out = Curation.sourceOverlap(docs, "text", "source", w = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_common"),
          r.getAs[Double]("jaccard"), r.getAs[Double]("containment")))).toMap
    // srcA={abc,bcd} (2), srcB={abc,bcd,xyz} (3): common 2, J=2/3, cont=2/2
    assert(out.keySet === Set(("srcA", "srcB")))
    assert(out(("srcA", "srcB")) === ((2L, 3L, 2L, 0.666667, 1.0)))
  }
}
