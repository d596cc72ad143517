package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Relational.SingletonAttachOps

/** Corpus-curation operators: the filter → dedup → pack flow a
  * pretraining data pipeline runs over raw documents.
  *
  * Scale stance: filtering is a pushdown-friendly projection; dedup
  * reuses the bucket-join operators from [[Dedup]]; packing is
  * per-partition greedy (each partition packs its own documents — no
  * global coordination, which is exactly how production packers work:
  * pack boundaries are partition-local by design).
  */
object Curation {

  /** Quality/language gate: keep docs in `langs` with quality ≥ minQ and
    * token count within [minTokens, maxTokens]. Pure projection+filter —
    * pushes to the scan. */
  def qualityFilter(
      df: DataFrame, textCol: String,
      langs: Seq[String], minQuality: Double,
      minTokens: Int, maxTokens: Int): DataFrame = {
    val t = col(textCol)
    df.withColumn("__lang", TextStats.langId(t))
      .withColumn("__q", TextStats.qualityScore(t))
      .withColumn("__ntok", size(TextStats.tokens(t)))
      .where(col("__lang").isin(langs: _*) && col("__q") >= minQuality &&
        col("__ntok").between(minTokens, maxTokens))
      .drop("__lang", "__q")
      .withColumnRenamed("__ntok", "n_tokens")
  }

  /** Full curation: quality gate → exact dedup (md5 keep-first) →
    * near-dup resolution via Jaccard pairs + connected components. */
  def curate(
      df: DataFrame, idCol: String, textCol: String,
      langs: Seq[String] = Seq("en"), minQuality: Double = 0.5,
      minTokens: Int = 8, maxTokens: Int = 1 << 20,
      shingleW: Int = 5, minJaccard: Double = 0.8): DataFrame =
    curateGated(
      // materialize the gate output: it feeds both the md5 rep-pick and
      // the keep-first join probe, and the gate itself is regex-heavy —
      // without reuse the full language/quality scoring runs per
      // consumer. localCheckpoint (not persist) so no session-lifetime
      // CacheManager entry leaks — blocks are ContextCleaner-freed when
      // the frame is no longer referenced.
      qualityFilter(df, textCol, langs, minQuality, minTokens, maxTokens)
        .localCheckpoint(false),
      idCol, textCol, shingleW, minJaccard)

  /** Dedup stages over an already-gated frame (pass a persisted frame to
    * avoid recomputing the gate through the dedup lineage). */
  def curateGated(
      gated: DataFrame, idCol: String, textCol: String,
      shingleW: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    // exact dedup: keep the min id per distinct text. Reused by the
    // near-dup pair generation AND the final keep-first probe — shared
    // via localCheckpoint so no CacheManager entry outlives the call
    // (blocks are GC/ContextCleaner-scoped; a long-lived service would
    // persist and own the lifecycle explicitly).
    val exactKept = {
      val reps = gated.groupBy(md5(col(textCol)).as("__h")).agg(min(col(idCol)).as(idCol))
      gated.join(reps.select(idCol), Seq(idCol), "left_semi").localCheckpoint(false)
    }
    // near-dup resolution on the survivors
    val pairs = Dedup.jaccardPairs(exactKept, idCol, textCol, shingleW, minJaccard)
    Dedup.dedupByClusters(exactKept, idCol, pairs)
  }

  /** Context-window chunking: split each document's token stream into
    * chunks of ≤ `chunkTokens` tokens with `overlap` tokens shared
    * between consecutive chunks (stride = chunk − overlap) — the
    * standard pre-training / RAG windowing shape. Map-only (one
    * projection + posexplode), no shuffle; documents shorter than one
    * chunk yield exactly one chunk. Returns
    * (id, chunk_idx, n_tokens, chunk_text). */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0)
    val stride = chunkTokens - overlap
    val toks = split(col(textCol), " ")
    val n = size(toks)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - chunkTokens).cast("double") / stride) + 1)
    df.select(
      col(idCol).as("id"),
      posexplode(transform(
        sequence(lit(0), (nChunks - 1).cast("int")),
        i => slice(toks, i * stride + 1, lit(chunkTokens)))).as(Seq("chunk_idx", "chunk_toks")))
      .select(col("id"), col("chunk_idx"),
        size(col("chunk_toks")).as("n_tokens"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"))
  }

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct `w`-token shingles also occur in an eval/benchmark set —
    * the n-gram-overlap method used to scrub pretraining corpora of test
    * leakage. Returns (id, n_shingles, n_overlap, overlap_rate); gate on
    * overlap_rate (or n_overlap > 0) to drop contaminated docs.
    *
    * Scale shape: the eval shingle dictionary is distinct'ed (benchmarks
    * are small → broadcast semi join; Spark falls back to a shuffled semi
    * join when not) and the corpus side is one explode + two grouped
    * aggregations — never all-pairs, same inverted-index stance as
    * [[Dedup.jaccardPairs]]. */
  def contamination(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, w: Int = 5): DataFrame = {
    val corpusSh = Dedup.shingles(corpus, idCol, textCol, w)
    val evalSh = Dedup.shingles(evalSet, idCol, textCol, w)
      .select(col("shingle")).distinct()
    val totals = corpusSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val overlaps = corpusSh.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    totals.join(overlaps, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_rate", col("n_overlap") / col("n_shingles"))
  }

  /** [[contamination]] with a Bloom-filter pre-prune — the 100-TB path.
    *
    * The exact version semi-joins EVERY corpus shingle against the eval
    * dictionary: at corpus scale that is a shuffle (or a broadcast probe)
    * of the full exploded shingle stream. Benchmarks are small and fixed,
    * so instead build one Bloom filter over the eval shingles on the
    * driver (~1.2 MB per million shingles at 1% fpp), broadcast it, and
    * drop non-candidate shingles BEFORE the semi join — the join then
    * only sees true overlaps plus the fpp leak. The surviving candidates
    * are EXACTLY verified against the eval dictionary, so Bloom false
    * positives cannot reach the output: the result equals
    * [[contamination]] row-for-row (same DuckDB oracle), only the
    * pre-shuffle volume changes. Bloom filters admit no false negatives,
    * so no overlap is ever lost. */
  def contaminationBloom(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, w: Int = 5,
      expectedShingles: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val corpusSh = Dedup.shingles(corpus, idCol, textCol, w)
    val evalSh = Dedup.shingles(evalSet, idCol, textCol, w)
      .select(col("shingle")).distinct()
    val totalsOnly = corpusSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    // stat.bloomFilter NPEs on a zero-row frame (bloom_filter_agg yields
    // null); an empty eval set means no contamination by definition
    if (evalSh.isEmpty) {
      return totalsOnly
        .select(col("id"), col("n_shingles"), lit(0L).as("n_overlap"))
        .withColumn("overlap_rate", col("n_overlap") / col("n_shingles"))
    }
    val bloom = evalSh.stat.bloomFilter("shingle", expectedShingles, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain =
      udf((s: String) => s != null && bc.value.mightContainString(s))
    val overlaps = corpusSh.where(mightContain(col("shingle")))
      .join(evalSh, Seq("shingle"), "left_semi") // exact verify: kills Bloom FPs
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    totalsOnly.join(overlaps, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_rate", col("n_overlap") / col("n_shingles"))
  }

  /** Within-document line dedup (C4/FineWeb-style "remove duplicated
    * lines, keep first occurrence"): split on `sep`, drop every repeat of
    * an already-seen line, reassemble in original order. Returns
    * (id, n_lines, n_kept, text_dedup).
    *
    * Scale shape: ONE data shuffle. The window partitions by id and
    * orders by (line, pos), so "first occurrence" is just "line differs
    * from the previous row's" (lag) — and the downstream groupBy(id)
    * reuses the id hash partitioning instead of paying a second
    * Exchange (the (id, line)-keyed row_number formulation costs two).
    * No cross-document state. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("line"), col("pos"))
    lines
      .withColumn("__keep",
        lag(col("line"), 1).over(w).isNull || col("line") =!= lag(col("line"), 1).over(w))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("pos"), col("line"))))),
          e => e.getField("line"))).as("text_dedup"))
  }

  /** Cross-document boilerplate removal (the C4 rule: any line occurring
    * in at least `minDocs` distinct documents is template boilerplate —
    * navigation, headers, license footers — and is stripped from every
    * document). Returns (id, n_lines, n_kept, text_clean).
    *
    * Scale shape: one (line)-keyed distinct-count aggregation over the
    * exploded lines (map-side combined), one equi join of the lines back
    * to the (small — only lines crossing the threshold) boilerplate set
    * as a left anti, one groupBy(id) reassembly. Hot lines ARE the
    * boilerplate here, so the skew is in the aggregation (combiner
    * handles it), never a row explosion. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val boilerplate = lines.groupBy("line")
      .agg(countDistinct(col("id")).as("__df"))
      .where(col("__df") >= minDocs)
      .select("line")
    lines
      .join(boilerplate, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(
        sum(lit(1L)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          e => e.getField("line"))).as("text_clean"))
      // docs whose EVERY line was boilerplate vanish from the anti join —
      // restore them with empty text (they were all template)
      .join(lines.groupBy("id").agg(count(lit(1)).as("n_lines")), Seq("id"), "right")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Span-level quality trim (FineWeb-style "filter inside the
    * document"): split on `sep`, score every line with
    * [[TextStats.qualityScore]], drop lines under `minScore`, reassemble
    * the survivors in original order. Whole-document gates throw away
    * salvageable text; this keeps the good spans. Returns
    * (id, n_lines, n_kept, text_trimmed).
    *
    * Scale shape: one posexplode + per-line scoring (pure expressions,
    * map-side) + one groupBy(id) reassembly — a single shuffle, no
    * cross-document state. */
  def qualityTrim(df: DataFrame, idCol: String, textCol: String,
      minScore: Double, sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    lines
      .withColumn("__keep", TextStats.qualityScore(col("line")) >= minScore)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("pos"), col("line"))))),
          e => e.getField("line"))).as("text_trimmed"))
  }

  /** Per-stratum token-budget cap: walk each stratum's documents in
    * deterministic pseudo-random order (md5(seed#key)) and keep documents
    * while the running token total stays ≤ `budget` — the "sample this
    * domain down to N tokens" primitive of a pretraining mixture.
    * Prefix semantics: the kept set is the longest prefix of the walk
    * whose cumulative token total fits the budget (the running sum is
    * monotone, so everything after the first overflow is out) — a plain
    * cumulative-sum window filter, and therefore fully SQL-oracle-able.
    *
    * Scale shape: a grouped running sum from the distributed prefix scan
    * ([[graft.core.Relational.withGroupCumSum]]) — a hot stratum spreads
    * over many range partitions, so NO reducer ever sorts a whole
    * stratum. The scan (and its checkpoint) sees only (key, stratum,
    * tokens); the kept keys then semi-join back onto `df`, so payload
    * columns such as the text never enter the checkpoint. `keyCol` must
    * be unique within a stratum. */
  def tokenBudgetCap(df: DataFrame, keyCol: String, strataCol: String,
      nTokensCol: String, budget: Long, seed: String): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val keyed = df.select(col(keyCol).as("__key"), col(strataCol).as("__strata"),
      col(nTokensCol).as("__ntok"),
      md5(concat(lit(seed + "#"), col(keyCol).cast("string"))).as("__skey"))
    val kept = graft.core.Relational.withGroupCumSum(keyed, Seq("__strata"),
        Seq(col("__skey"), col("__key")), col("__ntok"), "__cum")
      .where(col("__cum") <= budget)
    df.join(kept, col(strataCol) <=> col("__strata") && col(keyCol) <=> col("__key"),
      "left_semi")
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * w-shingles whose FIRST corpus occurrence (min id over the corpus)
    * is this doc — the marginal-new-content score a curation pipeline
    * ranks candidate docs by (a doc of entirely boilerplate shingles
    * scores 0; the corpus's first doc scores 1 by construction). The
    * attribution direction generalizes [[Dedup]]'s pairwise containment
    * to corpus-wide: one shingle-keyed aggregate picks each shingle's
    * owner, and the owner join REUSES the shingle partitioning (no extra
    * exchange), then one id-keyed aggregate — two shuffles total, both
    * map-side combined, no pairs materialized.
    *
    * Output: (id, n_shingles, n_novel, novelty). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val sh = Dedup.shingles(df, idCol, textCol, w)
    val owner = sh.groupBy(col("shingle")).agg(min(col("id")).as("owner"))
    sh.join(owner, Seq("shingle"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
  }

  /** Deterministic distributed corpus shuffle + round-robin sharding —
    * the step between curation and the training data loader: every epoch
    * reads the corpus in a pseudo-random but REPRODUCIBLE order, split
    * into `nShards` equal shards for parallel loaders. The shuffle key is
    * md5(seed # id) (engine-portable, seed-controlled); the global
    * position comes from the distributed prefix-sum rank (one range
    * shuffle — no single-partition window, same machinery as the decile
    * ranks), and shard = pos % nShards gives perfectly balanced shards
    * (sizes differ by at most 1). Returns the input columns plus
    * (shuffle_key, pos [0-based], shard). */
  def shuffleShard(df: DataFrame, idCol: String, nShards: Int, seed: String): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val keyed = df.withColumn("shuffle_key",
      md5(concat(lit(seed + "#"), col(idCol).cast("string"))))
    graft.core.Relational.withGlobalRank(
      keyed, Seq(col("shuffle_key").asc, col(idCol).asc), "pos", "__total")
      .withColumn("pos", col("pos") - 1)
      .withColumn("shard", pmod(col("pos"), lit(nShards.toLong)).cast("int"))
      .drop("__total")
  }

  /** Greedy per-partition sequence packing: assign documents to packs so
    * each pack's token total stays ≤ `budget` (docs larger than the
    * budget get their own pack). Returns (pack_id, doc ids, n_docs,
    * total_tokens). pack_id is globally unique (partition id × 2^40 +
    * local counter); packing is partition-local — repartition upstream
    * to control pack mix. */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String, budget: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(tokenCol).cast("int"))
      .as[(Long, Int)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var packLocal = 0L
        var used = 0
        var docs = List.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Int, Int)]
        def flush(): Unit = if (docs.nonEmpty) {
          out += (((pid << 40) | packLocal, docs.reverse, docs.size, used))
          packLocal += 1; used = 0; docs = Nil
        }
        it.foreach { case (id, ntok) =>
          if (docs.nonEmpty && used + ntok > budget) flush()
          docs ::= id
          used += ntok
          if (used >= budget) flush()
        }
        flush()
        out.iterator
      }.toDF("pack_id", "doc_ids", "n_docs", "total_tokens")
  }

  /** Per-stratum greedy sequence packing: each stratum (e.g. `source`)
    * is packed independently by the same greedy state machine as
    * [[packSequences]], in id order WITHIN the stratum. Unlike the
    * partition-local packer, the result is fully deterministic — pack
    * boundaries depend only on (stratum, sorted ids), never on Spark's
    * physical partitioning — while still running strata in parallel.
    *
    * Plan shape: ONE hash repartition on the stratum column +
    * sort-within-partitions, then a single sequential pass per
    * partition with the greedy state reset at every stratum boundary
    * (strata are contiguous after the sort, so co-hashed strata can't
    * contaminate each other). At 100 TB this is one shuffle whose
    * parallelism is the stratum count — the right contract when packs
    * must not cross domain boundaries; use [[packSequences]] when any
    * partition-local packing is acceptable. A skewed mega-stratum
    * serializes its own packing by definition (the sequential-greedy
    * contract); sub-split the stratum key upstream if that matters. */
  def packSequencesByStratum(df: DataFrame, idCol: String, tokenCol: String,
      stratumCol: String, budget: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(stratumCol).cast("string").as("__stratum"),
        col(idCol).cast("long").as("__id"), col(tokenCol).cast("int").as("__ntok"))
      .repartition(col("__stratum"))
      .sortWithinPartitions(col("__stratum"), col("__id"))
      .as[(String, Long, Int)]
      .mapPartitions { it =>
        var cur: String = null
        var packLocal = 0L
        var used = 0
        var docs = List.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Seq[Long], Int, Int)]
        def flush(): Unit = if (docs.nonEmpty) {
          out += ((cur, packLocal, docs.reverse, docs.size, used))
          packLocal += 1; used = 0; docs = Nil
        }
        it.foreach { case (stratum, id, ntok) =>
          if (cur != stratum) { flush(); cur = stratum; packLocal = 0L }
          if (docs.nonEmpty && used + ntok > budget) flush()
          docs ::= id
          used += ntok
          if (used >= budget) flush()
        }
        flush()
        out.iterator
      }.toDF("stratum", "pack_id", "doc_ids", "n_docs", "total_tokens")
  }

  /** Leakage-safe corpus split: near-dup CLUSTERS, not documents, are
    * the unit of train/val/test assignment, so no near-duplicate pair
    * can straddle a split boundary — the eval-set contamination that
    * plain per-doc hashing causes (a test doc whose near-dup sits in
    * train is a leaked answer). `clusters` is the (id, cluster) frame
    * from [[Dedup.dupClusters]]; docs absent from it are their own
    * singleton cluster. Assignment is `cluster_key mod 100` against
    * cumulative percentage cuts — deterministic, engine-portable, and
    * stable under corpus growth for existing clusters.
    *
    * Scale shape: one left join of the corpus against the (small,
    * pairs-only) cluster frame, then a pure projection — the split
    * label never shuffles the data itself. */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
      cuts: Seq[(String, Int)] = Seq("train" -> 90, "val" -> 95, "test" -> 100)): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 && cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cuts must be cumulative percentages ending at 100: $cuts")
    val keyed = df
      .join(clusters.select(col("id").as("__cid"), col("cluster")),
        df(idCol) === col("__cid"), "left")
      .withColumn("split_key", coalesce(col("cluster"), col(idCol).cast("long")))
      .drop("__cid", "cluster")
    val bucket = pmod(col("split_key"), lit(100L))
    val label = cuts.init.foldRight(lit(cuts.last._1)) { case ((name, hi), acc) =>
      when(bucket < hi, lit(name)).otherwise(acc)
    }
    keyed.withColumn("split", label)
  }

  /** Temperature-reweighted domain mixing (the multinomial mixture
    * reweighting of multilingual/multi-domain pretraining — raising
    * rare domains, damping dominant ones): target share q_i ∝ p_i^τ
    * over observed domain shares p_i, per-domain keep rate
    * r_i = min(1, budget·q_i / n_i), applied as the deterministic
    * basis-point mod-sample `id % 10000 < floor(10000·r_i)`.
    * τ = 1 reproduces the observed mix; τ → 0 approaches uniform.
    *
    * No re-normalization after the min(1,·) clip — a clipped domain
    * simply yields fewer rows than its target (documented contract;
    * iterate with a larger budget if exact totals matter).
    *
    * Scale shape: ONE map-side-combined count per domain (the domain
    * table is tiny), keep rates broadcast back onto the scan as a
    * map-side filter — the data path is a pure projection+filter, no
    * data shuffle at all. Output is the per-domain summary
    * (domain, n_docs, keep_bp, n_kept).
    */
  def temperatureMix(docs: DataFrame, idCol: String, domainCol: String,
      tau: Double, budget: Long): DataFrame = {
    val rates = temperatureMixRates(docs, idCol, domainCol, tau, budget)
    applyMixRates(docs, idCol, domainCol, rates)
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_kept"))
      .join(broadcast(rates), Seq("domain"))
      .select(col("domain"), col("n_docs"), col("keep_bp"), col("n_kept"))
  }

  /** The rate table half of [[temperatureMix]]: (domain, n_docs,
    * keep_bp). Tiny (one row per domain) — always broadcast. */
  def temperatureMixRates(docs: DataFrame, idCol: String, domainCol: String,
      tau: Double, budget: Long): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    require(budget >= 1, s"budget must be >= 1, got $budget")
    // share is QUANTIZED to an INTEGER count of ninths — floor(x·1e9 +
    // 0.5) as BIGINT — before any use: pow is not correctly-rounded
    // across libm implementations, and z = Σ share as a plain double
    // sum is accumulation-order dependent — both feed FLOOR below,
    // where a last-ulp difference flips a whole basis point (observed
    // live: keep_bp 599 vs 600 at sf0.1, flaky run-to-run). An earlier
    // fix quantized via CAST(… AS DECIMAL(38,9)), but double→decimal
    // CAST itself diverges on shortest-repr ties (Spark HALF_UP on the
    // repr vs DuckDB rounding the binary value — the Det.round6Bin
    // class, relocated to the 9th decimal); the explicit binary rule
    // has no repr step at all. Integer shares make the sum exact and
    // order-free, and the downstream chain is one identical IEEE
    // double sequence on both engines. Residual contract (documented,
    // same as the decimal version's): n_docs^τ must stay below ~9e6 so
    // x·1e9 is exact in a double — a DOMAIN count, not a row count, so
    // safe at any corpus size for τ ≤ 1 and sane domain cardinality.
    mixRatesFromCounts(
      docs.groupBy(col(domainCol).as("domain"))
        .agg(count(lit(1)).as("n_docs")),
      tau, budget)
  }

  /** Rate computation of [[temperatureMixRates]] from a pre-aggregated
    * (domain, n_docs) frame — factored so the overflow contract on the
    * normalizer is testable at web-scale domain cardinalities (a spec
    * cannot materialize 1e10 raw docs, but 1100 count rows is free;
    * CurationSpec pins the z9 > Long.MaxValue case red-verified against
    * a plain long sum: ARITHMETIC_OVERFLOW under ANSI). */
  private[graft] def mixRatesFromCounts(domCounts: DataFrame,
      tau: Double, budget: Long): DataFrame = {
    val counts = domCounts
      .withColumn("share9",
        floor(pow(col("n_docs"), tau) * lit(1.0e9) + lit(0.5)).cast("long"))
    // z9 sums as DECIMAL(38,0), not BIGINT: each share9 can reach ~9e15
    // under the per-domain bound above, so ~1000+ max-share domains
    // would overflow a long sum — web-scale curation has millions of
    // domains. Under ANSI that's a loud throw, but in the ANSI-off
    // sweep a long sum wraps SILENTLY while DuckDB's SUM(BIGINT) →
    // HUGEINT stays exact (cross-engine divergence). A decimal sum is
    // exact (1e23 headroom over the worst case) and order-free, and the
    // downstream double cast is the same correctly-rounded
    // integer→double on both engines.
    val norm = counts.agg(
      sum(col("share9").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("z9"))
    // p_i^τ / Σ p_j^τ == n_i^τ / Σ n_j^τ (the 1/N^τ factor cancels);
    // share9/z9 is the same ratio — the 1e-9 grid factor cancels too
    counts.attachSingleton(norm)
      .withColumn("keep_bp", least(lit(10000L),
        floor(lit(10000.0) * lit(budget.toDouble) * col("share9").cast("double")
          / col("z9").cast("double") / col("n_docs"))).cast("long"))
      .select(col("domain"), col("n_docs"), col("keep_bp"))
  }

  /** Row-level application of a mix-rate table: keep the rows whose id
    * mod-sample falls under their domain's basis-point rate. Broadcast
    * join + filter on the scan — no data shuffle. */
  def applyMixRates(docs: DataFrame, idCol: String, domainCol: String,
      rates: DataFrame): DataFrame =
    docs.join(broadcast(rates.select(col("domain").as(domainCol), col("keep_bp"))),
        Seq(domainCol))
      .where(pmod(col(idCol), lit(10000L)) < col("keep_bp"))
      .drop("keep_bp")

  /** GPT-3-style Pareto quality sampling (Brown et al. 2020, App. A):
    * keep a document iff  1 − quality < x  where x is a Pareto(α)
    * draw — low-quality docs survive occasionally (distributional
    * smoothing instead of a hard threshold). The draw is derandomized
    * through the fine md5-bucket uniform (u = (bucket6(id)+0.5)/16^6,
    * x = (1−u)^(−1/α) − 1), so the kept set is deterministic and
    * engine-portable — the same md5 trick as the DSIR features, at
    * 16.7M levels so per-row draws are effectively unique (no
    * equal-u bands).
    * Both comparison sides are round(·,6) so the boundary is stable
    * cross-engine. Map-only projection+filter; pushes to the scan.
    *
    * Output: (doc_id, quality, kept), ordered by doc_id.
    */
  def paretoQualityKeep(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 9.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val u = (Importance.bucket6(col(idCol).cast("string")) + lit(0.5)) /
      lit(Importance.FineBuckets.toDouble)
    val x = pow(lit(1.0) - u, lit(-1.0 / alpha)) - lit(1.0)
    docs.select(col(idCol).as("doc_id"),
        round(TextStats.qualityScore(col(textCol)), 6).as("quality"),
        round(x, 6).as("__x"))
      .withColumn("kept", round(lit(1.0) - col("quality"), 6) < col("__x"))
      .select(col("doc_id"), col("quality"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement
    * (Inf. Proc. Letters 2006): draw `k` rows with inclusion odds
    * proportional to a weight column by giving every row the key
    * u^(1/w) (u uniform in (0,1)) and keeping the k largest keys —
    * the one-pass, merge-friendly way to sample documents ∝ quality
    * at corpus scale (sampling proportional-to-quality is the
    * selection step between scoring and mixing in a pretraining
    * pipeline). The draw is derandomized through the fine md5-bucket
    * uniform u = (bucket6(seed#id)+0.5)/16^6 (the same trick as the
    * DSIR features and Pareto sampling, at 16.7M levels so per-row
    * keys are effectively unique — no equal-key bands whose id
    * tiebreak would bias inclusion toward low ids), weights are
    * clamped at 0.001 so zero-weight rows get a valid (tiny) key,
    * and the key is round(·,6) with an id tiebreak so the kept set
    * is deterministic and engine-portable.
    *
    * Scale shape: the key is a map-side projection, and the top-k
    * compiles to `TakeOrderedAndProject` — every partition keeps its
    * local k, the driver merges ≤ partitions×k rows, and NO global
    * sort exchange ever materializes (PlanSpec locks this). At 100 TB
    * the cost is one scan plus a k-row merge, independent of corpus
    * size.
    *
    * Output: the input columns plus `skey`, the k kept rows ordered by
    * (skey desc, id). */
  def weightedSampleK(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (Importance.bucket6(concat(lit(seed + "#"), col(idCol).cast("string")))
      + lit(0.5)) / lit(Importance.FineBuckets.toDouble)
    val w = greatest(col(weightCol).cast("double"), lit(0.001))
    df.withColumn("skey", round(pow(u, lit(1.0) / w), 6))
      .orderBy(col("skey").desc, col(idCol).asc)
      .limit(k)
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): replace
    * deterministic token spans with `<extra_id_K>` sentinels in the
    * input and emit the masked spans behind their sentinels as the
    * target — the pretraining-example constructor for encoder-decoder
    * denoising.
    *
    * Mask rule (derandomized so the oracle can replay it): token i of
    * doc d is masked iff (d + i) % `period` < `span` — mean span
    * length `span`, corruption rate span/period (defaults 3/20 = 15%,
    * the T5 recipe), runs phased by doc id. The periodicity makes the
    * run structure CLOSED-FORM per position — with phase r(i) =
    * (d+i) % period, a run starts at i>0 iff r(i) == 0 (span >= 1
    * masks it and r(i-1) = period-1 >= span unmasks its predecessor),
    * plus a mid-run doc opening at i=0 when 1 <= r(0) < span — so each
    * token's sentinel index is O(1) arithmetic and the whole transform
    * is two `transform` + `filter` + one `concat_ws` per row: map-only,
    * no explode, no shuffle, no fold accumulator (the previous
    * `aggregate` fold re-copied the growing output string per token —
    * O(len²) char copies on long docs), stays in WholeStageCodegen; a
    * 100-TB corpus pays exactly one scan, O(tokens) per doc, and the
    * output is written partition-local.
    *
    * Output: (doc_id, input_text, target_text); target ends with a
    * closing sentinel iff at least one span was masked (docs too short
    * to hit a mask window pass through with an empty target). */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      period: Int = 20, span: Int = 3): DataFrame = {
    require(span >= 1 && span < period,
      s"need 1 <= span < period, got span=$span period=$period")
    val d = col(idCol).cast("long")
    val toks = split(col(textCol), " ")
    val p = lit(period.toLong)
    val sp = lit(span.toLong)
    val r0 = pmod(d, p)
    val off = pmod(p - r0, p) // first in-doc position with phase 0
    val midStart = r0 >= lit(1L) && r0 < sp // doc opens inside a run
    // runs started at positions <= i: multiples of `period` hit by the
    // phase in [0..i], plus the mid-run opening. `i` is a within-doc
    // position (small int), so the double division under floor is exact.
    def runsUpTo(i: Column): Column =
      when(off <= i, floor((i - off) / p) + lit(1L)).otherwise(lit(0L)) +
        when(midStart, lit(1L)).otherwise(lit(0L))
    def sentinelAt(i: Column): Column =
      concat(lit("<extra_id_"), (runsUpTo(i) - lit(1L)).cast("string"), lit(">"))
    def maskedRunStart(i: Column): (Column, Column) = {
      val ph = pmod(d + i, p)
      (ph < sp, (ph === lit(0L)) || (i === lit(0) && ph < sp))
    }
    val inpToks = transform(toks, (tok, i) => {
      val (masked, runStart) = maskedRunStart(i)
      when(runStart, sentinelAt(i))
        .when(masked, lit(null).cast("string"))
        .otherwise(tok)
    })
    val tgtToks = transform(toks, (tok, i) => {
      val (masked, runStart) = maskedRunStart(i)
      when(runStart, concat(sentinelAt(i), lit(" "), tok))
        .when(masked, tok)
        .otherwise(lit(null).cast("string"))
    })
    val k = when(size(toks) > 0, runsUpTo(size(toks) - 1)).otherwise(lit(0L))
    val inp = concat_ws(" ", filter(inpToks, t => t.isNotNull))
    val tgt = when(k > lit(0L),
        concat(concat_ws(" ", filter(tgtToks, t => t.isNotNull)),
          lit(" <extra_id_"), k.cast("string"), lit(">")))
      .otherwise(lit(""))
    docs.select(d.as("doc_id"), inp.as("input_text"), tgt.as("target_text"))
      .orderBy("doc_id")
  }

  /** Pairwise inter-source shingle overlap — the corpus-forensics
    * matrix behind mixture design: how much does each pair of sources
    * share verbatim n-gram content (mirror detection, scrape-of-a-
    * scrape, benchmark bleed between domains)? Per-source DISTINCT
    * w-token shingle sets, then per-pair |∩|, Jaccard and containment
    * (|∩| / min(|A|,|B|) — the asymmetric-size-robust score).
    *
    * Output is SPARSE: one row per source pair with n_common ≥ 1
    * (zero-overlap pairs are absent — at corpus scale the dense S²
    * matrix is the caller's trivial completion of a sparse result).
    *
    * Scale shape: the distinct is shingle-keyed and map-side combined;
    * the pair join moves slim (source, shingle) rows and a shingle
    * present in all S sources fans out to at most S² rows — S is the
    * mixture's domain count (dozens), never corpus-sized. The per-pair
    * aggregate is map-side combined onto ≤ S² keys, and the size
    * attach is a broadcast of the S-row size table. */
  def sourceOverlap(df: DataFrame, textCol: String, srcCol: String,
      w: Int): DataFrame = {
    val sets = Dedup.shingles(df, srcCol, textCol, w)
      .select(col("id").as("source"), col("shingle")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = sets.groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = sets.select(col("source").as("src_a"), col("shingle"))
        .join(sets.select(col("source").as("src_b"), col("shingle")), Seq("shingle"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
      pairs
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))),
          Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
          Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
          round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"),
          round(col("n_common").cast("double") /
            least(col("n_a"), col("n_b")), 6).as("containment"))
        .localCheckpoint(true) // eager: ≤ S² rows, valid after unpersist
    } finally sets.unpersist(blocking = false)
  }
}
