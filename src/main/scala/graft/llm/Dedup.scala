package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), exact n-gram Jaccard (inverted shingle index),
  * MinHash+LSH (shingle → minhash → band → bucket join), SimHash
  * (band-blocked Hamming), and embedding-cosine near-dup (brute
  * baseline + random-hyperplane LSH scale path).
  *
  * Scale stance (100 TB): every candidate-generation step is a
  * bucket/band JOIN on a key — never an all-pairs cross join. The only
  * quadratic work is within-bucket, which the band width controls. Hot
  * shingles (appearing in > maxDf docs) are droppable stopword shingles —
  * the standard skew guard for the inverted-index join.
  */
object Dedup {

  // ---- shingling ----------------------------------------------------------

  /** Distinct `w`-token shingles per row: (id, shingle). Documents with
    * fewer than `w` tokens contribute their whole text as one shingle.
    * The gram builder is the native zero-copy
    * [[graft.functions.DistinctShingles]] kernel (bit-identical to the
    * previous `array_distinct(transform(...))` lambda chain, which
    * Catalyst evaluated interpreted — `DistinctShinglesSpec` locks the
    * parity). */
  def shingles(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.DistinctShingles.distinct_shingles(col(textCol), w))
        .as("shingle"))

  // ---- exact dedup --------------------------------------------------------

  /** Exact dedup via md5-groupBy: one row per distinct text with the
    * smallest id as representative and the duplicate count. One shuffle
    * on the 128-bit key; fully map-side combined. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_docs"))

  /** Corpus-level exact-dup summary: total docs, unique texts, dup groups,
    * rows that would be dropped by keep-first dedup. */
  def exactStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactGroups(df, idCol, textCol).agg(
      sum(col("n_docs")).as("n_docs"),
      count(lit(1)).as("n_unique"),
      sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(col("n_docs") - 1).as("n_dropped"))

  /** Incremental exact dedup: dedupe a new drop WITHIN itself (keep the
    * smallest id per text hash) and AGAINST an already-accepted corpus
    * (anti-join on the hash index) — the shape a rolling ingestion
    * pipeline runs per batch, where re-deduping the full corpus would be
    * O(corpus) per drop. The corpus side reduces to a distinct 128-bit
    * hash column before the join (ids/payloads never shuffle); at scale
    * that index is a bucketed table on `text_hash`, making every
    * subsequent drop's anti-join co-located. */
  def incrementalDedup(
      incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val batch = incoming
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_in_batch"))
    val index = corpus.select(md5(col(textCol)).as("text_hash")).distinct()
    batch.join(index, Seq("text_hash"), "left_anti")
  }

  /** Sub-document (chunk-level) exact dedup: split each doc into
    * fixed-width word chunks, keep the globally FIRST occurrence of each
    * distinct chunk (order: doc id, then position), reassemble every doc
    * from its surviving chunks. This is the pipeline step that strips
    * boilerplate repeated across a crawl (headers, footers, license
    * blocks) without dropping whole documents.
    *
    * One wide shuffle: the exploded chunk frame hash-partitions on the
    * chunk's md5 for a `row_number` window — no self-join, no driver
    * state. A chunk repeated millions of times lands on one reducer
    * (key skew is the count's nature); the window only counts within the
    * key, so the reducer does a sort of that key's rows, not a quadratic
    * pass. Reassembly is a per-doc groupBy (second shuffle, keyed by doc
    * id) with an in-memory sort of that doc's own chunks only. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be >= 1")
    val w = chunkWords
    val toks = df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
    val nCh = ceil(size(col("t")) / lit(w.toDouble)).cast("int")
    val chunks = toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nCh - 1),
          i => array_join(slice(col("t"), i * w + 1, lit(w)), " "))))
      .toDF("doc_id", "idx", "chunk")
    val marked = chunks.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("idx"))))
    marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("idx"), col("chunk"))))),
          s => s.getField("chunk")),
        " ").as("kept_text"))
  }

  // ---- exact duplicated-span detection ------------------------------------

  /** Exact duplicated-span detection (the character-window analog of
    * suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): slide a fixed
    * `width`-char window with `stride` over each text, hash every
    * window, and mark windows whose exact bytes occur anywhere else in
    * the corpus (cross-doc or repeated within one doc). Returns one row
    * per doc: (doc_id, n_windows, n_dup_windows, dup_frac).
    *
    * Scale stance: the only shuffle is the groupBy on the window hash
    * (128-bit md5, map-side combined); texts never ride the shuffle —
    * each window row carries (hash, doc_id) only. Window count is
    * len/stride per doc, so the exploded frame is a constant factor of
    * the corpus, not quadratic. Docs shorter than `width` contribute
    * zero windows (counted with n_windows = 0). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int = 32, stride: Int = 8): DataFrame = {
    require(width >= 1 && stride >= 1, "width and stride must be >= 1")
    val nWin = when(length(col(textCol)) >= width,
      floor((length(col(textCol)) - width) / stride).cast("long") + 1L)
      .otherwise(0L)
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("t"),
      nWin.as("n_windows"))
    val grams = base.where(col("n_windows") > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("n_windows") - 1L),
          k => substring(col("t"), (k * stride + 1).cast("int"), lit(width))))
          .as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("gh"))
    // global occurrence count per window hash, joined back per doc
    val counts = grams.groupBy(col("gh")).agg(count(lit(1)).as("occ"))
    val perDoc = grams.join(counts, "gh")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    base.select(col("doc_id"), col("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") > 0,
          round(col("n_dup_windows") / col("n_windows"), 6)).otherwise(0.0))
  }

  // ---- exact n-gram Jaccard (inverted index) ------------------------------

  /** Exact Jaccard-similar pairs via the inverted shingle index:
    * candidate pairs share ≥1 shingle (bucket join on the shingle),
    * intersection counted per pair, sizes joined back. `maxDf` drops
    * shingles occurring in more than that many docs (skew guard; pairs
    * similar ONLY through dropped stopword-shingles are missed — at
    * maxDf=∞ the result is exact). */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, minJaccard: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    // the shingle table feeds three consumers (sizes, both join sides) —
    // persist so the explode runs once, not three times. The RESULT (a
    // thresholded pair list — tiny relative to the shingle explosion) is
    // materialized eagerly so the shingle cache can be released HERE,
    // deterministically, instead of leaking for the session (a long-
    // running service would fill executor storage otherwise). Callers
    // that consume the pairs more than once (cluster resolution + dedup)
    // also get the inverted-index join computed once, not per consumer.
    // localCheckpoint blocks are ContextCleaner-managed (freed on GC); a
    // cluster deployment with a checkpoint dir would use checkpoint().
    cached(shingles(df, idCol, textCol, w)) { sh =>
      pairIntersections(sh, maxDf)
        .withColumn("jaccard", jaccardOf)
        .where(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_inter"), col("jaccard"))
        .localCheckpoint(true)
    }
  }

  /** Asymmetric CONTAINMENT pairs — the quote/subset detector Jaccard
    * misses: containment(A→B) = |A∩B| / |A| is high when a small doc's
    * shingles sit inside a big doc (a quoted paragraph, a boilerplate-
    * wrapped copy) even though Jaccard ≈ |A|/|B| is tiny. Same inverted
    * shingle index and skew guard as [[jaccardPairs]]; a pair is kept
    * when EITHER direction reaches `minContainment` (both directions are
    * reported — max(c_a, c_b) ≥ τ ⊇ the Jaccard-τ set, since
    * jaccard ≤ both containments). */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, minContainment: Double, maxDf: Long = Long.MaxValue): DataFrame =
    cached(shingles(df, idCol, textCol, w)) { sh =>
      pairIntersections(sh, maxDf)
        .withColumn("containment_a", col("n_inter").cast("double") / col("n_a"))
        .withColumn("containment_b", col("n_inter").cast("double") / col("n_b"))
        .where(greatest(col("containment_a"), col("containment_b")) >= minContainment)
        .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_inter"),
          col("containment_a"), col("containment_b"))
        .localCheckpoint(true)
    }

  /** Inverted-index pair intersection kernel shared by [[jaccardPairs]] /
    * [[containmentPairs]]: candidate pairs share ≥1 (non-hot) shingle,
    * intersections counted per pair, set sizes joined back. `sh` must be
    * persisted by the caller (it feeds the sizes aggregate and both join
    * sides). Returns (id_a, id_b, n_a, n_b, n_inter) with id_a < id_b. */
  private def pairIntersections(sh: DataFrame, maxDf: Long): DataFrame = {
    val filtered =
      if (maxDf == Long.MaxValue) sh
      else {
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select("shingle")
        sh.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = filtered.as("a")
      .join(filtered.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
  }

  // ---- banded LSH: one banding per signature kind, one bucket-pair -------
  // ---- kernel, one exact verify per metric --------------------------------

  /** MinHash band keys of the `sig` array column: `bands` bands of
    * k/bands contiguous minhashes, each hashed with its band index to
    * one 64-bit bucket key (array<long>[bands]). The one MinHash banding:
    * [[bandedSignatures]] explodes it, d18 compares the arrays of two
    * docs across band counts. */
  private[graft] def minHashBands(k: Int, bands: Int): Column = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, concat_ws(",", slice(col("sig"), b * lit(r) + 1, lit(r)))))
  }

  /** Sign-band keys of the `sig` long column: `nBands` bands of
    * nBits/nBands contiguous sign bits (array<struct<band, band_hash>>).
    * The one sign-bit banding: the cosine index, SimHash and
    * [[Similarity.lshTopK]]. */
  private[graft] def signBands(nBits: Int, nBands: Int): Column = {
    val r = nBits / nBands
    array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1)).as("band_hash"))
    }: _*)
  }

  /** Within-bucket pair blowup guard (VERDICT r10 #4): a degenerate
    * (band, band_hash) bucket of M members — M near-identical docs that
    * survived upstream exact dedup, e.g. templated boilerplate — makes
    * the band self-join emit M²/2 candidates inside ONE bucket. Buckets
    * larger than this are "star-capped": instead of all pairs, each
    * member pairs with the bucket's min-id representative (M−1 pairs).
    * The dup CLUSTER stays connected (downstream union-find /
    * [[dupClusters]] recovers the same component through the rep) and
    * every emitted pair still passes exact verification; only
    * pair-level completeness WITHIN the degenerate bucket is traded —
    * the d2 `maxDf` trade, at the band level. Normal corpora (bucket
    * sizes ≪ cap) produce byte-identical output. One cap for every
    * path: [[bucketPairs]] applies it. */
  val DefaultMaxBucket = 1024L

  /** Members of a full-corpus run: every banded row is new — a full run
    * is the probe of an empty index. */
  private def allNew(banded: DataFrame): DataFrame = banded.withColumn("is_batch", lit(true))

  /** Members of an incremental probe: index rows in buckets the batch
    * touches — exactly the probe join's read set (bucket-pruned at
    * rest), so the census adds no O(corpus) pass; per-batch work stays
    * O(batch + matched rows) — unioned with the batch's own rows, each
    * side flagged. */
  private[graft] def probeMembers(index: DataFrame, batchIndex: DataFrame): DataFrame = {
    val key = Seq("band", "band_hash")
    index.join(batchIndex.select(key.map(col): _*).distinct(), key, "left_semi")
      .select(col("id"), col("band"), col("band_hash"), lit(false).as("is_batch"))
      .union(batchIndex
        .select(col("id"), col("band"), col("band_hash"), lit(true).as("is_batch")))
  }

  /** THE bucket-pair kernel: candidate pairs (id_a < id_b) of members
    * (id, band, band_hash, is_batch, payload…) that share a bucket, at
    * least one of them new. Any payload column `c` rides along as
    * `c_a`/`c_b` (SimHash carries its 64-bit hash so the verify needs no
    * join back). A bucket census — ONE window pass over the bucket key
    * (m, rep), not groupBy + join-back — feeds the self-join of buckets
    * up to `maxBucket` and the star pairs (rep, member) of larger ones
    * ([[DefaultMaxBucket]]). Stars INCLUDE a bucket's old index members,
    * so a component stays connected through the rep even when the
    * bucket crossed the cap mid-history (re-emitted (rep, old) links are
    * idempotent for clustering). Both joins are (band, band_hash) EQUI
    * joins, never all-pairs (PlanSpec locks this).
    *
    * Lazy by default. `eager` persists the census for its three pair
    * branches and returns the pair set localCheckpointed, so it stays
    * valid after the census is released — what a loop calling this per
    * batch needs (GC-freed checkpoint blocks of a larger frame would
    * accumulate). */
  private[graft] def bucketPairs(members: DataFrame, maxBucket: Long = DefaultMaxBucket,
      eager: Boolean = false): DataFrame = {
    val payload = members.columns.toSeq.diff(Seq("id", "band", "band_hash", "is_batch"))
    val byBucket = Window.partitionBy(col("band"), col("band_hash"))
    val sized = payload.foldLeft(members
        .withColumn("m", count(lit(1)).over(byBucket))
        .withColumn("rep", min(col("id")).over(byBucket))) { (df, c) =>
      df.withColumn(s"rep_$c", min_by(col(c), col("id")).over(byBucket))
    }
    def pairs(census: DataFrame): DataFrame = {
      val small = census.where(col("m") <= maxBucket)
      val smallPairs = small.as("a")
        .join(small.as("b"),
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
            col("a.id") < col("b.id") && (col("a.is_batch") || col("b.is_batch")))
        .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
          payload.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
      // rep < id by construction (rep is the bucket min)
      val starPairs = census.where(col("m") > maxBucket && col("id") =!= col("rep"))
        .select(col("rep").as("id_a") +: col("id").as("id_b") +:
          payload.flatMap(c => Seq(col(s"rep_$c").as(s"${c}_a"), col(c).as(s"${c}_b"))): _*)
      smallPairs.union(starPairs).dropDuplicates("id_a", "id_b")
    }
    if (eager) cached(sized)(pairs(_).localCheckpoint(true)) else pairs(sized)
  }

  /** Persist `df` for the scope of `f` and release it deterministically
    * after — NOT localCheckpoint, whose blocks only free on driver GC. A
    * result `f` materializes eagerly stays valid after the release. */
  private def cached[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(c) finally c.unpersist(blocking = false)
  }

  /** Jaccard of a pair from (n_inter, n_a, n_b) set sizes. */
  private def jaccardOf: Column =
    col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))

  /** THE exact Jaccard verify: candidate pairs (id_a, id_b, extra…)
    * checked against exact shingle-set Jaccard ≥ `minJaccard` over `sh`
    * (id, shingle), which must hold every candidate's shingles and be
    * persisted (it feeds the sizes and both intersection sides). Keeps
    * the candidate columns, adds `jaccard`; eagerly materialized so the
    * caller can release `sh`. */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame, minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("sa")
      .join(cands.select("id_a", "id_b"), col("sa.id") === col("id_a"))
      .join(sh.as("sb"), col("sb.id") === col("id_b") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    cands.join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard", jaccardOf)
      .where(col("jaccard") >= minJaccard)
      .select(cands.columns.map(col) :+ col("jaccard"): _*)
      .localCheckpoint(true)
  }

  // ---- MinHash + LSH ------------------------------------------------------

  /** MinHash signatures: k seeded-xxhash64 minima over the doc's shingle
    * set → (id, sig: array<long>[k]). One explode + one groupBy(id) with
    * k map-side-combined min aggregates. */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String, w: Int, k: Int): DataFrame =
    minHashSignaturesFrom(shingles(df, idCol, textCol, w), k)

  /** Signature aggregation over an existing (id, shingle) frame — lets a
    * caller that also needs the shingles for verification (the near-dup
    * pipeline) run the explode once. */
  private[llm] def minHashSignaturesFrom(sh: DataFrame, k: Int): DataFrame = {
    // hash the shingle STRING once, derive the k family members from the
    // resulting long (xxhash64 over (long, seed) — 8 fixed bytes) instead
    // of re-hashing the variable-length string k times: same minhash
    // guarantees (the family only needs pairwise-independent-ish hashes
    // of distinct shingles), measured ~2× on the signature stage at
    // sf0.1 with k=64, and the win grows with shingle length
    val hashed = sh.select(col("id"), xxhash64(col("shingle")).as("sh64"))
    val mins = (0 until k).map(i => min(xxhash64(col("sh64"), lit(i))).as(s"h$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Slim banded rows (id, band, band_hash) of a signature frame: each
    * doc's LSH bucket memberships under [[minHashBands]]. The at-rest
    * form is [[nearDupIndex]]; the signature array never rides a band
    * row. */
  private[llm] def bandedSignatures(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"), posexplode(minHashBands(k, bands)).as(Seq("band", "band_hash")))

  /** MinHash candidate PAIR SET of a full-corpus run: the banded rows
    * through [[bucketPairs]] (eager — the pair set is materialized).
    * d18's band sweep consumes just the pairs; [[minHashCandidatesFromSigs]]
    * wraps this with the signature attach. */
  private[graft] def minHashCandidatePairs(
      sigs: DataFrame, k: Int, bands: Int,
      maxBucket: Long = DefaultMaxBucket): DataFrame =
    bucketPairs(allNew(bandedSignatures(sigs, k, bands)), maxBucket, eager = true)

  /** MinHash LSH candidate pairs with the signature-estimated Jaccard
    * (fraction of equal minhashes): signatures split into `bands` bands
    * of k/bands rows; docs sharing any band hash become candidates. Any
    * pair with true Jaccard ≥ (1/bands)^(bands/k) is found with high
    * probability. */
  private[graft] def minHashCandidatesFromSigs(
      sigs: DataFrame, k: Int, bands: Int,
      maxBucket: Long = DefaultMaxBucket): DataFrame =
    // the band self-join moves SLIM (id, band, band_hash) rows — the
    // k-long signature arrays attach to the (far smaller) deduped pair
    // set afterwards. The signature frame feeds the banding and both
    // attach sides (the 64-min signature aggregate is the expensive
    // stage; re-executing it per consumer was most of d3's bench time).
    cached(sigs) { sigsM =>
      minHashCandidatePairs(sigsM, k, bands, maxBucket)
        .join(sigsM.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigsM.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("est_jaccard",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast("double") / k)
        .select("id_a", "id_b", "est_jaccard")
        .localCheckpoint(true)
    }

  /** Full MinHash near-dup pipeline: LSH candidates verified with exact
    * shingle-set Jaccard. The shingles are persisted once and SHARED
    * between the signature aggregation and the verify. */
  def minHashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 64, bands: Int = 16, minJaccard: Double = 0.5): DataFrame =
    cached(shingles(df, idCol, textCol, w)) { sh =>
      verifyJaccard(minHashCandidatesFromSigs(minHashSignaturesFrom(sh, k), k, bands),
        sh, minJaccard)
    }

  /** The persistable near-dup index: SLIM banded rows (id, band,
    * band_hash) — three longs per (doc, band). The signature array (k
    * longs) would otherwise ride every index row ×bands at rest and
    * through every probe-join exchange; the incremental path never needs
    * it (candidates are verified with exact shingle Jaccard, not
    * est_jaccard). Stored bucketed on (band, band_hash) this is what a
    * rolling ingestion pipeline keeps at rest; [[incrementalNearDup]]
    * probes it per batch, and appending the batch's own banded rows
    * (same function over the batch) rolls the index forward. */
  def nearDupIndex(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 64, bands: Int = 16): DataFrame =
    bandedSignatures(minHashSignatures(df, idCol, textCol, w, k), k, bands)

  /** Candidate pairs of an incremental probe: `index` and `batchIndex`
    * are slim (id, band, band_hash) frames of one banding; the pairs
    * touch the batch (old-old pairs were emitted when THEIR batch
    * arrived) and come eagerly materialized from [[bucketPairs]]. A
    * caller wanting signature-estimated Jaccard joins a persisted
    * (id, sig) table onto the (small) pair set afterwards instead of
    * shipping sigs through the band join. */
  def incrementalCandidates(index: DataFrame, batchIndex: DataFrame,
      maxBucket: Long = DefaultMaxBucket): DataFrame =
    bucketPairs(probeMembers(index, batchIndex), maxBucket, eager = true)

  /** Bucket-size census of a [[nearDupIndex]]: buckets, max/avg size, and
    * how many exceed the [[DefaultMaxBucket]] star-cap — the loud metric
    * an ingest loop reports so degenerate boilerplate buckets are visible
    * instead of silently star-capped. */
  def bandBucketStats(index: DataFrame, maxBucket: Long = DefaultMaxBucket): DataFrame =
    index.groupBy("band", "band_hash").agg(count(lit(1)).as("m"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("m")).as("max_bucket"),
        avg(col("m")).as("avg_bucket"),
        sum(when(col("m") > maxBucket, 1L).otherwise(0L)).as("n_oversize"),
        sum(when(col("m") > maxBucket, col("m")).otherwise(0L)).as("rows_in_oversize"))

  /** Incremental MinHash-LSH near-dup: probe a persisted [[nearDupIndex]]
    * with a new batch instead of re-running LSH over the whole corpus.
    * Candidates = (index ⋈ batch on (band, band_hash)) ∪ (batch ⋈ batch)
    * through the same [[bucketPairs]] kernel a full run uses, verified
    * with the same exact Jaccard as [[minHashNearDup]]. Returns exactly
    * the pairs touching the batch that a full-corpus run over
    * corpus∪batch would return — cap included (signatures are per-doc,
    * so banding is batch-invariant, and a full run is the probe of an
    * empty index); old-old pairs were already emitted when THEIR batch
    * arrived.
    *
    * `corpus` supplies text only for verification and only candidate ids
    * are shingled (semi-join pushdown): per batch, work is
    * O(batch + matched index rows), not O(corpus) — at 100 TB the index
    * probe is a bucket-pruned join against the at-rest (band, band_hash)
    * layout and the corpus re-read touches only candidate docs. Ids must
    * be unique across corpus∪batch. */
  def incrementalNearDup(corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, w: Int = 3, k: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5): DataFrame =
    nearDupProbe(corpus, index, batch, idCol, textCol, w, k, bands, minJaccard)((p, _) => p)

  /** One rolling-ingest step: the verified pairs AND the batch's banded
    * index rows, off a SINGLE batch signature pass — the ingest loop
    * appends the second frame to the at-rest index after emitting the
    * first ([[graft.streaming.IngestStream]]). Both returned frames are
    * eagerly materialized (localCheckpoint), so they stay valid after
    * the internal caches release. */
  def incrementalNearDupRoll(corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, w: Int = 3, k: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5): (DataFrame, DataFrame) =
    nearDupProbe(corpus, index, batch, idCol, textCol, w, k, bands, minJaccard)(
      (p, bandedB) => (p, bandedB.localCheckpoint(true)))

  /** The body of [[incrementalNearDup]] and [[incrementalNearDupRoll]]:
    * the batch's shingles and banded rows are persisted once, and
    * `out(pairs, bandedB)` runs while both are still cached. */
  private def nearDupProbe[T](corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, w: Int, k: Int, bands: Int, minJaccard: Double)(
      out: (DataFrame, DataFrame) => T): T =
    cached(shingles(batch, idCol, textCol, w)) { shB =>
      cached(bandedSignatures(minHashSignaturesFrom(shB, k), k, bands)) { bandedB =>
        val cands = incrementalCandidates(index, bandedB)
        // verify over ONLY the docs in a candidate pair: semi-join the
        // corpus down before shingling (the only stage that touches
        // corpus text, so its shingles are persisted inside the verify)
        val candIds = cands.select(col("id_a").as(idCol))
          .union(cands.select(col("id_b").as(idCol))).distinct()
        val shAll = shingles(corpus.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, w)
          .union(shB)
        out(cached(shAll)(verifyJaccard(cands, _, minJaccard)), bandedB)
      }
    }

  // ---- duplicate-cluster resolution ---------------------------------------

  /** Connected components over near-dup pairs → (id, cluster) with
    * cluster = the minimum id reachable from the node.
    *
    * Adaptive: near-dup EDGE lists are tiny relative to the corpus (the
    * whole point of near-dup thresholds), so up to `maxDriverPairs` the
    * edges are collected and resolved with union-find on the driver
    * (microseconds, zero extra jobs) — the shape production dedup uses.
    * Larger edge lists fall back to distributed min-label propagation. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      maxDriverPairs: Long = 1000000L): DataFrame = {
    // the +1 probe below is an Int limit: a maxDriverPairs near/over
    // Int.MaxValue would silently wrap and disable the guard entirely
    require(maxDriverPairs >= 0 && maxDriverPairs < Int.MaxValue,
      s"dupClusters: maxDriverPairs=$maxDriverPairs must be in [0, ${Int.MaxValue})" +
        " — larger edge lists belong in dupClustersDistributed")
    val spark = pairs.sparkSession
    val edgeRows = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .limit((maxDriverPairs + 1).toInt).collect()
    if (edgeRows.length <= maxDriverPairs) {
      // driver union-find with path compression
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
        r
      }
      edgeRows.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val ids = edgeRows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      import spark.implicits._
      return ids.map(id => (id, find(id))).toSeq.toDF("id", "cluster")
    }
    dupClustersDistributed(pairs, maxIter)
  }

  /** Distributed CC (for edge lists too large for the driver): min-label
    * propagation PLUS pointer doubling — each round a node takes the min
    * of its own and its neighbors' labels, then jumps to its label's label
    * (label ← label(label)). The jump halves the distance to the cluster
    * minimum, so convergence is O(log diameter) rounds, not O(diameter) —
    * chain-shaped dup clusters (the pathological shape for plain
    * propagation) converge in ~log₂ rounds. Throws if `maxIter` rounds
    * were insufficient rather than silently returning partial clusters
    * (which would KEEP duplicates downstream). */
  def dupClustersDistributed(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("cluster", "dst_cluster"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_cluster")).as("nbr_cluster"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_cluster"), col("cluster"))).as("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pointer doubling: follow the label's own label (labels are node
      // ids, so a self-join resolves one extra hop per round). The self-
      // reference doubles the logical plan, so truncate lineage each round
      // (localCheckpoint — the standard iterative-algorithm fix; a cluster
      // deployment with a checkpoint dir would use checkpoint()).
      val hop = stepped.select(col("id").as("cluster"), col("cluster").as("hop_cluster"))
      val updated = stepped.join(hop, Seq("cluster"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("hop_cluster"), col("cluster"))).as("cluster"))
        .localCheckpoint(true) // eager — stepped can be released right after
      stepped.unpersist()
      val changed = updated.join(labels.withColumnRenamed("cluster", "old"), "id")
        .where(col("cluster") =!= col("old")).limit(1).count()
      labels.unpersist()
      labels = updated
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(
        s"dupClustersDistributed: labels still changing after $maxIter rounds " +
          "(cluster diameter too large) — raise maxIter")
    }
    labels
  }

  /** Keep-first dedup of a corpus given near-dup pairs: every member of
    * a dup cluster except its minimum id is dropped; singletons stay. */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = dupClusters(pairs)
      .where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ---- fuzzy (edit-distance) record linkage -------------------------------

  /** Per-source-length segment spec for [[fuzzyPairs]]: k+1 contiguous
    * segments with near-equal lengths (short segments first). */
  private[llm] def fuzzySegments(len: Int, k: Int): Seq[(Int, Int)] = {
    val parts = k + 1
    val base = len / parts
    val rem = len % parts
    val lens = Seq.fill(parts - rem)(base) ++ Seq.fill(rem)(base + 1)
    lens.scanLeft(0)(_ + _).zip(lens)
  }

  /** Fuzzy (edit-distance ≤ `maxDist`) self-join over a string column —
    * record linkage / typo dedup. Candidate generation is PassJoin-style
    * segment blocking: each string of length L is split into k+1
    * contiguous segments; by pigeonhole, k edits can corrupt at most k
    * segments, so any pair within distance k shares one segment VERBATIM,
    * with its position shifted by at most k (the net indel balance) and
    * lengths differing by at most k. The index side emits k+1 keys
    * (L, j, segment) per row; the probe side emits the substrings at the
    * ±k allowed positions for every candidate source length — O(k³)
    * short keys per row, an EQUI join, never an all-pairs cross. Strings
    * shorter than k+1 chars fall back to a per-length-window bucket
    * (their segment spec degenerates). Exact `levenshtein` verifies the
    * candidates; only (key, id) pairs ride the shuffles, strings
    * re-attach by id join before the verify (the d5b plumbing rule).
    * Completeness is exact — the blocking never loses a true pair —
    * which is what lets a DuckDB brute-force twin oracle it. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"), col(strCol)).as[(Long, String)]
      .filter(_._2 != null)
    val idx = rows.flatMap { case (id, s) =>
      val L = s.length
      if (L < k + 1) Seq((L, -1, "", id))
      else fuzzySegments(L, k).zipWithIndex.map { case ((st, ln), j) =>
        (L, j, s.substring(st, st + ln), id)
      }
    }.toDF("L", "j", "seg", "id_a")
    val probe = rows.flatMap { case (id, t) =>
      val M = t.length
      (math.max(0, M - k) to (M + k)).flatMap { srcL =>
        if (srcL < k + 1) Seq((srcL, -1, "", id))
        else fuzzySegments(srcL, k).zipWithIndex.flatMap { case ((st, ln), j) =>
          (-k to k).iterator.map(st + _)
            .filter(p => p >= 0 && p + ln <= M)
            .map(p => (srcL, j, t.substring(p, p + ln), id))
        }
      }.distinct
    }.toDF("L", "j", "seg", "id_b")
    val cands = idx.join(probe, Seq("L", "j", "seg"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val strs = df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
    cands
      .join(strs.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
      .join(strs.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
      // thresholded form: banded DP, early-exit above k (O(k·min-len)
      // per pair instead of O(|a|·|b|)); returns -1 when above, so the
      // kept rows carry the true distance
      .withColumn("dist", levenshtein(col("sa"), col("sb"), k))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: per bit, sum ±1 weighted by
    * the bit of each token's xxhash64; sign → bit. One explode + one
    * groupBy(id) with 64 conditional-sum aggregates. */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val perDoc = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    perDoc.select(col("id"), hash.as("simhash"))
  }

  /** SimHash near-dup pairs: block on four 16-bit bands ([[signBands]];
    * any equal band → candidate, so below the bucket cap every pair with
    * Hamming ≤ 3 is caught by pigeonhole and most with ≤ maxHamming)
    * through [[bucketPairs]], verify with bit_count(xor) on the hashes
    * the kernel carries. */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    bucketPairs(allNew(simHash64(df, idCol, textCol).withColumnRenamed("simhash", "sig")
        .select(col("id"), col("sig"), inline(signBands(64, 4)))))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")

  // ---- embedding cosine near-dup ------------------------------------------

  /** dot(a, b) over array<double> columns via the native codegen'd
    * [[graft.functions.DotProduct]] expression (same left-fold order as a
    * lambda/unrolled form → bit-identical results; `dim` retained for
    * source compatibility, unused). */
  def dot(a: Column, b: Column, dim: Int = 0): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  def cosine(a: Column, b: Column, dim: Int = 0): Column =
    dot(a, b, dim) / (sqrt(dot(a, a, dim)) * sqrt(dot(b, b, dim)))

  /** Primitive sequential dot — the same left-fold order as the SQL
    * expression/lambda versions, so results are bit-identical. */
  private[llm] def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Brute-force cosine near-dup pairs — the correctness baseline
    * (O(n²) pairs; fixture/oracle scale only — use [[cosinePairsLsh]] at
    * scale). */
  def cosinePairsBrute(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      dim: Int = 0, maxCorpus: Int = 200000): DataFrame = {
    // A non-equi pair join (id_a < id_b) plans as BroadcastNestedLoopJoin,
    // which excludes whole-stage codegen — the 64-wide dot would run
    // interpreted (~30× slower measured). The dense-kernel shape that IS
    // fast in Spark: broadcast the (small, guarded) corpus and stream
    // partitions through a primitive loop. Norms precomputed once per
    // row; identical op order → bit-identical to the expression version.
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    val corpus = vecs.collect()
    require(corpus.length <= maxCorpus,
      s"cosinePairsBrute: ${corpus.length} vectors > $maxCorpus — use cosinePairsLsh at scale")
    val withNorm = corpus.map { case (id, v) => (id, v, math.sqrt(dotArr(v, v))) }
    val bc = spark.sparkContext.broadcast(withNorm)
    val t = minCos
    vecs.mapPartitions { it =>
      it.flatMap { case (ida, va) =>
        val na = math.sqrt(dotArr(va, va))
        bc.value.iterator
          .filter(_._1 > ida)
          .map { case (idb, vb, nb) => (ida, idb, dotArr(va, vb) / (na * nb)) }
          .filter(_._3 >= t)
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Seeded random hyperplanes for sign-bit LSH signatures. */
  private[llm] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** (id, v, sig): sign-bit signature computed in a mapPartitions kernel
    * (an expression tree of nPlanes×dim literals costs seconds of
    * analysis/codegen per run — the primitive loop is free). */
  private[llm] def withSignature(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], idName: String = "id", vecName: String = "v"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(planes)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ps = bc.value
        it.map { case (id, v) =>
          var sig = 0L
          var i = 0
          while (i < ps.length) {
            if (dotArr(ps(i), v) > 0) sig |= (1L << i)
            i += 1
          }
          (id, v, sig)
        }
      }.toDF(idName, vecName, "sig")
  }

  /** Sign-band rows (id, band, band_hash) off a signature frame — the
    * slim three-longs-per-row shape of the MinHash [[nearDupIndex]]. */
  private def signBandRows(sigs: DataFrame, nPlanes: Int, nBands: Int): DataFrame =
    sigs.select(col("id"), inline(signBands(nPlanes, nBands)))

  /** THE exact cosine verify: candidate pairs (id_a, id_b) with their
    * vectors attached by id from `vecs` (id, v), kept at cosine ≥
    * `minCos`. Vectors never ride the band join or the pair dedup; they
    * re-attach to the surviving distinct pairs here (measured 42 s →
    * ~2 s at 2k×64-dim against shipping them through the band join).
    * Lazy. */
  private def verifyCosine(cands: DataFrame, vecs: DataFrame, minCos: Double): DataFrame =
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .where(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")

  /** The persistable EMBEDDING near-dup index: slim sign-band rows over
    * seeded random-hyperplane signatures — the vector analog of
    * [[nearDupIndex]] (vectors and signatures never persist in the index
    * or ride the probe exchange; [[incrementalCosineNearDup]] probes it
    * per batch and re-reads only candidate vectors for the exact-cosine
    * verify). Determinism: the hyperplanes are seeded, so index rows
    * built per batch always agree with a from-scratch rebuild. */
  def cosineIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 16, nBands: Int = 4, seed: Long = 42L): DataFrame = {
    require(nPlanes % nBands == 0)
    signBandRows(
      withSignature(df, idCol, vecCol, hyperplanes(nPlanes, dim, seed)),
      nPlanes, nBands)
  }

  /** Random-hyperplane LSH cosine near-dup: sign-bit signature over
    * `nPlanes` seeded hyperplanes, banded like SimHash, candidates from
    * [[bucketPairs]] (every row new), exact cosine on candidates. The
    * scale path: bucket join + within-bucket verify, only (id, band,
    * band_hash) through the band shuffle. */
  def cosinePairsLsh(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      dim: Int, nPlanes: Int = 16, nBands: Int = 4, seed: Long = 42L): DataFrame = {
    require(nPlanes % nBands == 0)
    val sigs = withSignature(df, idCol, vecCol, hyperplanes(nPlanes, dim, seed))
    verifyCosine(bucketPairs(allNew(signBandRows(sigs, nPlanes, nBands))),
      sigs.select(col("id"), col("v")), minCos)
  }

  /** Incremental EMBEDDING near-dup: probe a persisted [[cosineIndex]]
    * with a new batch — (band, band_hash) equi joins via
    * [[incrementalCandidates]], then exact cosine over ONLY candidate
    * vectors (corpus semi-joined down before the vector join). Because
    * the hyperplanes are seeded, signatures are per-row and both paths
    * share one kernel and one cap, the result is EXACTLY the
    * batch-touching subset of the full-corpus [[cosinePairsLsh]] run —
    * same recall, same pairs — without re-signaturing the corpus. Ids
    * must be unique across corpus∪batch. */
  def incrementalCosineNearDup(corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, minCos: Double, dim: Int,
      nPlanes: Int = 16, nBands: Int = 4, seed: Long = 42L): DataFrame =
    cosineProbe(corpus, index, batch, idCol, vecCol, minCos, dim, nPlanes, nBands, seed)(
      (p, _) => p)

  /** One rolling-ingest step for the EMBEDDING index: verified cosine
    * pairs AND the batch's sign-band index rows, off a SINGLE batch
    * signature pass — the vector twin of [[incrementalNearDupRoll]]
    * ([[graft.streaming.IngestStream.runEmbedIngestOnce]] appends the
    * second frame to the at-rest [[cosineIndex]] after emitting the
    * first). Both frames eagerly materialized. */
  def incrementalCosineNearDupRoll(corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, minCos: Double, dim: Int,
      nPlanes: Int = 16, nBands: Int = 4, seed: Long = 42L): (DataFrame, DataFrame) =
    cosineProbe(corpus, index, batch, idCol, vecCol, minCos, dim, nPlanes, nBands, seed)(
      (p, bandedB) => (p, bandedB.localCheckpoint(true)))

  /** The body of [[incrementalCosineNearDup]] and
    * [[incrementalCosineNearDupRoll]] — the vector analog of
    * [[nearDupProbe]]. */
  private def cosineProbe[T](corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, minCos: Double, dim: Int,
      nPlanes: Int, nBands: Int, seed: Long)(out: (DataFrame, DataFrame) => T): T = {
    require(nPlanes % nBands == 0)
    cached(withSignature(batch, idCol, vecCol, hyperplanes(nPlanes, dim, seed))) { sigsB =>
      cached(signBandRows(sigsB, nPlanes, nBands)) { bandedB =>
        val cands = incrementalCandidates(index, bandedB)
        val candIds = cands.select(col("id_a").as("id"))
          .union(cands.select(col("id_b").as("id"))).distinct()
        // candidate vectors feed both sides of the pair join — persisted
        // so the corpus semi-join runs once, not per side
        val vecs = corpus
          .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
          .join(candIds, Seq("id"), "left_semi")
          .union(sigsB.select(col("id"), col("v")))
        out(cached(vecs)(verifyCosine(cands, _, minCos).localCheckpoint(true)), bandedB)
      }
    }
  }

  /** [[semDedup]] with `nClusters` auto-sized from the corpus — the
    * paper's own recipe (k ∝ N; 11k clusters for LAION-440M ≈ 40k
    * vectors per cluster): nClusters = clamp(ceil(N / targetClusterSize),
    * 2, 65536). The enforcement cap is 64× the target, so natural
    * cluster-size skew passes but a degenerate clustering (everything
    * in one cell) still fails fast instead of melting one executor. */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
      targetClusterSize: Int = 4096, minCos: Double = 0.95,
      seed: Long = 42L): DataFrame = {
    require(targetClusterSize >= 1, s"targetClusterSize must be >= 1, got $targetClusterSize")
    val n = df.count()
    val k = math.max(2L, math.min(65536L,
      (n + targetClusterSize - 1) / targetClusterSize)).toInt
    semDedup(df, idCol, vecCol, nClusters = k, minCos = minCos, seed = seed,
      maxClusterSize = math.min(Int.MaxValue.toLong, targetClusterSize.toLong * 64).toInt)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    * k-means clustering of embeddings + within-cluster greedy cosine
    * pruning. Items are visited in ascending-id order inside each
    * cluster; an item is DROPPED when its cosine to an already-kept
    * item of the same cluster is ≥ `minCos` (the kept item is its
    * semantic representative). Returns (id, cluster, kept).
    *
    * Scale stance: the quadratic work is within-cluster against the
    * KEPT prefix only, and `nClusters` bounds cluster size (at corpus
    * scale pick nClusters ∝ N/target-cluster-size, exactly as the paper
    * does with k=11k clusters for LAION). The greedy fold is
    * sequential per cluster, so clusters must fit one executor's heap —
    * `maxClusterSize` ENFORCES that contract: a cluster that
    * materializes more than this many vectors fails fast with the
    * resize recipe instead of silently building a giant executor-heap
    * array (same discipline as [[dupClusters]]'s edge guard). The
    * output carries `cluster_size` so callers can histogram the
    * distribution and tune nClusters. Cross-cluster near-dups are
    * missed by design (that is SemDeDup's recall/cost trade).
    *
    * Determinism: the quantizer trains like [[Similarity.ivfIndex]]'s —
    * deterministic hash-bucket driver sample + seeded local Lloyd
    * (k-means++ init) + map-only broadcast-argmin assignment — so the
    * clustering is BIT-IDENTICAL under any scan split/partition layout,
    * and the greedy visit order is total (ascending id), so the kept
    * set is reproducible run-over-run. (An earlier version fit
    * distributed `ml.KMeans` here; its k-means|| init samples per
    * partition, which made cluster membership — and thereby kept/dropped
    * verdicts — depend on file layout, the exact class the r18
    * tiny-split sweep axis caught on ivfIndex.) */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, minCos: Double = 0.95, seed: Long = 42L,
      maxClusterSize: Int = 1 << 20, trainMax: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
    val sample = Similarity.trainingSample(
      c.select(col("id").as("_1"), col("v").as("_2")).as[(Long, Array[Double])],
      trainMax, seed)
    if (sample.isEmpty)
      return c.limit(0).select(col("id"), lit(0).as("cluster"),
        lit(true).as("kept"), lit(0).as("cluster_size"))
    val cents = Similarity.lloyd(sample, nClusters, iters = 10, seed)
    Similarity.assignToCentroids(c, cents, "id", "v")
      .select(col("corpus_id").as("id"), col("cv").as("v"), col("cell").as("cluster"))
      .as[(Long, Array[Double], Int)]
      .groupByKey(_._3)
      .flatMapGroups { (cl: Int, it: Iterator[(Long, Array[Double], Int)]) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        it.foreach { case (id, v, _) =>
          buf += ((id, v))
          if (buf.length > maxClusterSize) throw new IllegalArgumentException(
            s"semDedup cluster $cl exceeds maxClusterSize=$maxClusterSize vectors; " +
              s"the per-cluster greedy must fit one executor's heap — raise nClusters " +
              s"(pick nClusters ~ N / targetClusterSize, as SemDeDup does) or raise " +
              s"maxClusterSize if the executors have the memory")
        }
        val items = buf.toArray.sortBy(_._1)
        val size = items.length
        val kept = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val keptNorm = scala.collection.mutable.ArrayBuffer.empty[Double]
        items.iterator.map { case (id, v) =>
          val n = math.sqrt(dotArr(v, v))
          var dup = false
          var i = 0
          while (!dup && i < kept.length) {
            val denom = n * keptNorm(i)
            if (denom > 0 && dotArr(v, kept(i)) / denom >= minCos) dup = true
            i += 1
          }
          if (!dup) { kept += v; keptNorm += n }
          (id, cl, !dup, size)
        }
      }
      .toDF("id", "cluster", "kept", "cluster_size")
  }
}
