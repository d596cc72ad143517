package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the correctness baseline, and two scale
  * paths — random-hyperplane LSH buckets and an IVF (inverted-file)
  * index built from k-means coarse centroids.
  *
  * Scale stance: the query set is small relative to the corpus (that is
  * what makes it a *search*), so queries are always the broadcast side;
  * the corpus is never collected or crossed with itself. IVF prunes the
  * corpus scan to nprobe/nlist of the data per query; LSH prunes to
  * matching buckets. Both trade recall for scan fraction — measured by
  * the recall spec against brute force.
  */
object Similarity {

  import Dedup.{cosine, dot}

  /** Bounded top-k accumulator under the total order (score DESC,
    * id ASC) — the same order every ANN kernel's final `row_number`
    * window ranks by. Worst-first binary heap over parallel primitive
    * arrays (no boxing in the hot loop). Exact top-k under a total
    * order is merge-associative, so emitting each partition's local
    * top-k and merging in the window is bit-identical to ranking every
    * scored pair — but the window input drops from |corpus|×|queries|
    * rows to ≤ partitions×|queries|×k. */
  private[graft] final class TopKHeap(k: Int) {
    private val ids = new Array[Long](k)
    private val sc = new Array[Double](k)
    private var n = 0
    // true iff (sa, ia) ranks WORSE than (sb, ib) under (score desc, id asc)
    private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
      sa < sb || (sa == sb && ia > ib)
    def offer(id: Long, score: Double): Unit = {
      if (n < k) {
        ids(n) = id; sc(n) = score; n += 1
        var i = n - 1
        while (i > 0) { // sift up
          val p = (i - 1) >> 1
          if (worse(sc(i), ids(i), sc(p), ids(p))) { swap(i, p); i = p } else return
        }
      } else if (worse(sc(0), ids(0), score, id)) {
        ids(0) = id; sc(0) = score
        var i = 0
        while (true) { // sift down
          val l = 2 * i + 1; val r = l + 1
          var w = i
          if (l < n && worse(sc(l), ids(l), sc(w), ids(w))) w = l
          if (r < n && worse(sc(r), ids(r), sc(w), ids(w))) w = r
          if (w == i) return
          swap(i, w); i = w
        }
      }
    }
    private def swap(a: Int, b: Int): Unit = {
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
      val ts = sc(a); sc(a) = sc(b); sc(b) = ts
    }
    def drain: Iterator[(Long, Double)] = (0 until n).iterator.map(i => (ids(i), sc(i)))
  }

  /** Every ANN kernel broadcasts the query set and gives each executor
    * partition a size-k heap per query, so the per-partition footprint
    * is |Q|×k×16 B (two primitive arrays per heap) plus the broadcast
    * vectors themselves (|Q|×dim×8 B). The scaladoc contract "queries
    * small" is enforced: collecting more than this many query rows is a
    * loud `require` failure on the driver instead of a silent executor
    * OOM. The guard collects at most maxQueries+1 rows, so an oversized
    * query set never materializes on the driver either. */
  val DefaultMaxQueries = 10000

  private def collectQueriesBounded[T](ds: Dataset[T], maxQueries: Int, k: Int): Array[T] = {
    require(maxQueries >= 1, s"maxQueries must be >= 1, got $maxQueries")
    val arr = ds.limit(maxQueries + 1).collect()
    require(arr.length <= maxQueries,
      s"query set exceeds maxQueries=$maxQueries: each executor partition holds a " +
        s"size-$k heap per query (|Q|*k*16B plus |Q| broadcast vectors) — keep the " +
        "query side small (that is what makes it a search) or raise maxQueries")
    arr
  }

  /** Brute-force cosine top-k: broadcast the query set against the
    * corpus, rank per query. Exact; cost = |corpus| × |queries| dots,
    * fully parallel over the corpus (the right baseline even at scale
    * for ≤ a few hundred queries). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 0,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val scored = bruteScoredLocalTopK(corpus, queries, idCol, vecCol, k, maxQueries)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "cos", "rk")
  }

  /** Mutual k-NN graph over an embedding corpus — the standard input to
    * graph-based clustering, SemDeDup-style community pruning, and
    * diversity filters: every vector's exact cosine top-k (self
    * excluded, ranked under the (cos desc, id asc) total order), kept
    * only where the edge is reciprocal (a ∈ knn(b) ∧ b ∈ knn(a)) — the
    * mutual filter that strips hub-dominated asymmetric edges. Returns
    * one row per undirected edge: (id_a < id_b, cos).
    *
    * Scale shape: scoring is the [[bruteScoredLocalTopK]] kernel (the
    * corpus streams map-only against the broadcast node set with
    * per-partition heaps, so ≤ partitions×|V|×k rows reach the rank
    * window) — exact and right up to `maxNodes` vectors; beyond that,
    * generate candidates with the banded LSH ([[lshTopK]]) or IVF
    * cells and keep the same rank + reciprocity tail. The reciprocity
    * join itself is |V|·k vs |V|·k rows on (src, dst) — linear in
    * corpus size, never quadratic. Cosine is bitwise symmetric (same
    * sequential dot / commutative norm product), so reporting the
    * forward edge's score is exact. */
  def knnGraphEdges(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, maxNodes: Int = DefaultMaxQueries): DataFrame = {
    val knn = bruteForceTopK(corpus, corpus, idCol, vecCol, k, maxQueries = maxNodes)
      .select(col("query_id").as("src"), col("corpus_id").as("dst"), col("cos"))
    val rev = knn.select(col("dst").as("src"), col("src").as("dst"))
    knn.join(rev, Seq("src", "dst"))
      .where(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("cos"))
  }

  /** Brute-force MAXIMUM-INNER-PRODUCT top-k (MIPS — the retrieval
    * objective when embeddings carry meaningful norms, e.g. popularity-
    * weighted item vectors where cosine's normalization erases the
    * signal). Same broadcast + per-partition-heap kernel and two-level
    * reduction as [[bruteForceTopK]], scoring q·x instead of cosine. */
  def mipsBruteTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val scored = bruteScoredLocalTopK(corpus, queries, idCol, vecCol, k, maxQueries,
        dotScore = true)
      .withColumnRenamed("cos", "dot")
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "dot", "rk")
  }

  /** Approximate MIPS via the norm-augmentation reduction (Neyshabur &
    * Srebro 2015): with M = max corpus norm, append sqrt(M² − ‖x‖²) to
    * every corpus vector and 0 to every query — all augmented corpus
    * vectors then share norm M, so COSINE order under the augmentation
    * equals INNER-PRODUCT order on the originals. The scale path runs
    * the existing sign-band LSH over the augmented vectors (one tiny
    * max-norm aggregate, a map-only augmentation, then the [[lshTopK]]
    * bucket probe), and re-scores the surviving candidates with the
    * exact dot product — approximate recall, exact reported scores. */
  def mipsTopKLsh(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      nPlanes: Int = 16, nBands: Int = 8, seed: Long = 42L): DataFrame = {
    import graft.functions.GraftFunctions.dot_product
    val v = col(vecCol).cast("array<double>")
    val sqNorm = dot_product(v, v)
    val m2 = corpus.agg(max(sqNorm).cast("double")).head().getDouble(0)
    // augmented tail clamped at 0: the max row itself gets exactly 0.0
    val corpusAug = corpus.select(col(idCol),
      concat(v, array(sqrt(greatest(lit(m2) - sqNorm, lit(0d))))).as(vecCol))
    val queriesAug = queries.select(col(idCol), concat(v, array(lit(0d))).as(vecCol))
    val hits = lshTopK(corpusAug, queriesAug, idCol, vecCol, k, dim + 1,
      nPlanes, nBands, seed)
    // exact dot re-score on the (≤ |Q|×k) surviving pairs
    val cv = corpus.select(col(idCol).cast("long").as("corpus_id"), v.as("__cv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"), v.as("__qv"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("corpus_id"))
    hits.select("query_id", "corpus_id")
      .join(cv, Seq("corpus_id")).join(qv, Seq("query_id"))
      .withColumn("dot", dot_product(col("__qv"), col("__cv")))
      .withColumn("rk", row_number().over(w).cast("int"))
      .select("query_id", "corpus_id", "dot", "rk")
  }

  /** Max cosine similarity of every corpus vector against a SMALL
    * reference set (the semantic-decontamination primitive: benchmark /
    * eval-set embeddings are the reference; corpus docs above a
    * threshold are contaminated). The reference set collects to the
    * driver (`require`-capped — eval sets are thousands of rows, not
    * corpora), broadcasts sorted by id, and the corpus streams through a
    * map-only primitive kernel — the right shape at ANY corpus size
    * because the big side never shuffles and never holds more than one
    * row. Ties in cosine resolve to the smallest reference id (the scan
    * iterates ids ascending with a strict improve-only update).
    * cos = dot / √(dot(a,a)·dot(b,b)) with the same left-fold dot the
    * oracle's `list_dot_product` computes, so values are bit-identical
    * cross-engine. Returns (id, ref_id, max_cos). */
  def maxSimVsSet(corpus: DataFrame, idCol: String, vecCol: String,
      refSet: DataFrame, refIdCol: String, refVecCol: String,
      maxRefs: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val refs = refSet
      .select(col(refIdCol).cast("long"), col(refVecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .limit(maxRefs + 1).collect()
    require(refs.length <= maxRefs,
      s"maxSimVsSet: reference set exceeds $maxRefs rows — this kernel is " +
        "for small eval/benchmark sets; use the LSH/IVF paths for corpus-vs-corpus")
    // loud-failure stance (matching the other kernels): an empty
    // reference set or a zero-norm vector on either side would otherwise
    // silently emit ref_id=-1 / max_cos=-Inf or a 0/0 NaN cosine that
    // poisons every downstream sum and threshold flag
    require(refs.nonEmpty,
      "maxSimVsSet: empty reference set — nothing to decontaminate against")
    refs.foreach { case (rid, rv) =>
      require(Dedup.dotArr(rv, rv) > 0.0,
        s"maxSimVsSet: zero-norm reference vector id=$rid — cosine undefined")
    }
    val sorted = refs.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(sorted)
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val rs = bc.value
        it.map { case (id, v) =>
          val naa = Dedup.dotArr(v, v)
          require(naa > 0.0,
            s"maxSimVsSet: zero-norm corpus vector id=$id — cosine undefined")
          var best = Double.NegativeInfinity
          var bestId = -1L
          var i = 0
          while (i < rs.length) {
            val (rid, rv) = rs(i)
            val c = Dedup.dotArr(v, rv) / math.sqrt(naa * Dedup.dotArr(rv, rv))
            if (c > best) { best = c; bestId = rid }
            i += 1
          }
          (id, bestId, best)
        }
      }.toDF("id", "ref_id", "max_cos")
  }

  /** ANN through JL compression ([[jlProject]] composed into retrieval):
    * brute top-(k·overscan) in the `outDim` projected space — the scan
    * kernel and candidate shuffle carry outDim/dim of the bytes and
    * flops — then EXACT cosine re-rank of the shortlist in the original
    * space (approximate recall, exact reported scores: the same
    * contract as [[lshTopK]]/[[pqTopK]]). Recall comes from the JL
    * distance-preservation bound plus overscan headroom; the
    * compressed-then-rerank pattern is what PQ does with codebooks,
    * done here with a single dense matrix — no training step. */
  def jlTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      outDim: Int = 32, overscan: Int = 4, seed: Long = 97L,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(overscan >= 1, s"overscan must be >= 1, got $overscan")
    val pcorp = jlProject(corpus, idCol, vecCol, dim, outDim, seed)
    val pqs = jlProject(queries, idCol, vecCol, dim, outDim, seed)
    val short = bruteForceTopK(pcorp, pqs, "id", "pv", k * overscan, outDim, maxQueries)
    val v = col(vecCol).cast("array<double>")
    val cv2 = corpus.select(col(idCol).cast("long").as("corpus_id"), v.as("__cv"))
    val qv2 = queries.select(col(idCol).cast("long").as("query_id"), v.as("__qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    short.select("query_id", "corpus_id")
      .join(cv2, Seq("corpus_id")).join(qv2, Seq("query_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv"), dim))
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "cos", "rk")
  }

  /** Johnson–Lindenstrauss random projection: maps `vecCol` into
    * `outDim` dims through a seeded Gaussian matrix scaled by 1/√outDim,
    * preserving Euclidean distances in expectation (E[‖Px−Py‖²] =
    * ‖x−y‖²; per-pair relative variance ≈ 2/outDim) — the standard
    * embedding-compression step before ANN indexing (dim 64→32 halves
    * the bytes every downstream shuffle and index carries, with distance
    * RANKING approximately preserved). Map-only: the matrix broadcasts
    * (outDim×dim doubles), each vector projects in a tight primitive
    * loop (same kernel stance as [[graft.llm.Dedup.withSignature]] — an
    * expression tree of outDim×dim literals costs seconds of analysis
    * per run). Returns (idName: long, vecName: array<double>[outDim]). */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, seed: Long,
      idName: String = "id", vecName: String = "pv"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val planes = Dedup.hyperplanes(outDim, dim, seed)
    val bc = spark.sparkContext.broadcast(planes)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ps = bc.value
        it.map { case (id, v) =>
          require(v.length == dim, s"jl_project: dim mismatch (${v.length} vs $dim)")
          val out = new Array[Double](ps.length)
          var i = 0
          while (i < ps.length) {
            val p = ps(i)
            var s = 0.0
            var j = 0
            while (j < dim) { s += p(j) * v(j); j += 1 }
            out(i) = s * scale
            i += 1
          }
          (id, out)
        }
      }.toDF(idName, vecName)
  }

  /** The pre-window stage of [[bruteForceTopK]] and [[mipsBruteTopK]]:
    * the rows that actually enter the per-query window. Query set
    * broadcast as primitive arrays; the corpus streams through a
    * mapPartitions dense kernel (a query⨯corpus non-equi join would be
    * an interpreted BroadcastNestedLoopJoin — ~30× slower measured).
    * Two-level reduction: each partition keeps a size-k heap per query
    * and emits only its local top-k, so the per-query window merges
    * ≤ partitions×k rows instead of sorting the whole corpus's scores
    * in one reducer per query. */
  private def bruteScoredLocalTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxQueries: Int = DefaultMaxQueries, dotScore: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qArr = collectQueriesBounded(
        queries.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
          .as[(Long, Array[Double])], maxQueries, k)
      .map { case (id, v) => (id, v, math.sqrt(Dedup.dotArr(v, v))) }
    val bc = spark.sparkContext.broadcast(qArr)
    val useDot = dotScore // stable local: the closure must not capture `this`
    corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        val heaps = Array.fill(qs.length)(new TopKHeap(k))
        it.foreach { case (cid, cv) =>
          val nc = if (useDot) 1.0 else math.sqrt(Dedup.dotArr(cv, cv))
          var i = 0
          while (i < qs.length) {
            val (qid, qv, nq) = qs(i)
            if (qid != cid) {
              val d = Dedup.dotArr(qv, cv)
              heaps(i).offer(cid, if (useDot) d else d / (nq * nc))
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.drain.map { case (cid, s) => (qs(i)._1, cid, s) }
        }
      }.toDF("query_id", "corpus_id", "cos")
  }

  /** Random-hyperplane LSH top-k: corpus bucketed by sign-bit signature
    * bands; each query probes only its matching buckets. Recall rises
    * with nBands (more, narrower bands → more candidates). */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      dim: Int, nPlanes: Int = 16, nBands: Int = 8, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nPlanes % nBands == 0)
    val planes = Dedup.hyperplanes(nPlanes, dim, seed)
    val r = nPlanes / nBands
    val bandArr = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1)).as("key"))
    }: _*)
    def banded(df: DataFrame, id: String, vec: String): DataFrame =
      Dedup.withSignature(df, idCol, vecCol, planes, id, vec)
        .select(col(id), col(vec), explode(bandArr).as("bk"))
        .select(col(id), col(vec), col("bk.band").as("band"), col("bk.key").as("key"))
    val cb = banded(corpus, "corpus_id", "cv")
    val qb = banded(queries, "query_id", "qv")
    // cosine BEFORE the pair dedup: the band-bucket join is map-side
    // (broadcast), so scoring there means the dropDuplicates shuffle
    // carries only (query_id, corpus_id, cos) scalars — never the
    // vectors (duplicate pairs from different bands score identically,
    // so deduping after is equivalent)
    val cands = cb.join(broadcast(qb), Seq("band", "key"))
      .where(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", cosine(col("qv"), col("cv"), dim))
      .select(col("query_id").cast("long"), col("corpus_id").cast("long"), col("cos"))
      .dropDuplicates("query_id", "corpus_id")
    // local top-k per partition AFTER the dedup (before it, a pair seen
    // in two bands could occupy two heap slots and evict a true
    // neighbor) — the window merges ≤ partitions×|queries|×k rows even
    // when a hot bucket floods one query with candidates
    val spark = corpus.sparkSession
    import spark.implicits._
    val localTop = cands.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap.empty[Long, TopKHeap]
      it.foreach { case (qid, cid, cos) =>
        heaps.getOrElseUpdate(qid, new TopKHeap(k)).offer(cid, cos)
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.drain.map { case (cid, s) => (qid, cid, s) }
      }
    }.toDF("query_id", "corpus_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    localTop.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "cos", "rk")
  }

  /** IVF top-k: k-means coarse quantizer (nlist cells, fixed seed) over
    * the corpus; each query scans only its `nprobe` nearest cells. The
    * classic ANN shape: centroid table is tiny (broadcast), the corpus
    * is hash-partitioned by cell. Queries ride a broadcast with a
    * per-query probe-cell mask; the corpus streams through the same
    * per-partition [[TopKHeap]] kernel as [[bruteForceTopK]], so the
    * final per-query window merges ≤ partitions×|queries|×k rows — the
    * cell mask prunes the dot products, the heap prunes the shuffle. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L, dim: Int = 0,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val (assigned, cents) = ivfIndex(corpus, idCol, vecCol, nlist, seed)
    ivfTopKFromIndex(assigned, cents, queries, idCol, vecCol, k, nprobe, maxQueries)
  }

  /** IVF index build — the AT-REST half of [[ivfTopK]]: k-means cell
    * assignments (corpus_id, cv, cell) plus the centroid array. Written
    * `partitionBy("cell")` the assignments table is the persisted ANN
    * index a serving pipeline keeps: a probe reads ONLY the probed
    * cells' partitions (the scan prunes at the source — see
    * [[ivfTopKFromIndex]]'s cell filter), and new vectors append to
    * their cell partition without touching the rest. The centroid table
    * is nlist rows — driver/broadcast-sized by construction.
    *
    * The quantizer trains like [[ivfPqIndex]]'s: deterministic
    * hash-bucket driver sample ([[trainingSample]], value-keyed by
    * md5(seed#id) so the SAME rows are picked whatever the scan's
    * split/partition layout) + local Lloyd, then one map-only
    * [[assignToCentroids]] pass over the full corpus. An earlier
    * version fit distributed `ml.KMeans` on the corpus frame directly;
    * its k-means|| init samples PER PARTITION, so the centroids — and
    * with them every cell boundary and the probe's recall — depended
    * on `spark.sql.files.maxPartitionBytes` (caught by the r18
    * tiny-split sweep axis: n3/n7 recall_ok flipped at 256 KB splits).
    * An index whose content depends on scan-split layout re-shuffles
    * every cell on any file-layout change at 100 TB; the sample+Lloyd
    * build is bit-identical for any layout, and trains on a bounded
    * sample instead of iterating over the full corpus — the only
    * full-corpus work is the broadcast-argmin assignment. */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L,
      trainMax: Int = 10000): (DataFrame, Array[Array[Double]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).cast("array<double>").as("cv"))
    val sample = trainingSample(
      c.select(col("corpus_id").as("_1"), col("cv").as("_2"))
        .as[(Long, Array[Double])], trainMax, seed)
    if (sample.isEmpty)
      return (c.limit(0).withColumn("cell", lit(0)), Array.empty)
    val cents = lloyd(sample, nlist, iters = 10, seed)
    (assignToCentroids(c, cents, "corpus_id", "cv"), cents)
  }

  /** Assign vectors to EXISTING (frozen) centroids — the INCREMENTAL
    * half of [[ivfIndex]]: a serving pipeline retrains its coarse
    * quantizer rarely (retraining moves every cell boundary and forces
    * a full index rewrite); day-to-day, new vectors are assigned to the
    * frozen centroids and APPENDED to their cell partitions, touching
    * nothing else. Euclidean argmin (the metric the KMeans quantizer
    * trained with), lowest cell index on ties — deterministic, so an
    * incremental fold and a recompute against the same centroids agree
    * exactly (n24 pins fold ≡ recompute). Map-only over a broadcast
    * nlist-row centroid array; output schema matches [[ivfIndex]]'s
    * assignments, ready for `partitionBy("cell")` append. */
  def assignToCentroids(df: DataFrame, cents: Array[Array[Double]],
      idCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(cents.nonEmpty, "assignToCentroids: empty centroid table")
    val bc = spark.sparkContext.broadcast(cents)
    df.select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cs = bc.value
        // Dimension mismatch must fail fast with a clear message: a
        // longer vector would throw AIOOBE mid-kernel, a shorter one
        // would silently score a prefix distance and return a WRONG cell.
        require(v.length == cs(0).length,
          s"assignToCentroids: vector dim ${v.length} != centroid dim ${cs(0).length}")
        var best = 0
        var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          var dist = 0.0
          var j = 0
          while (j < v.length) { val t = v(j) - c(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = i }
          i += 1
        }
        (id, v, best)
      }.toDF("corpus_id", "cv", "cell")
  }

  /** Probe half of [[ivfTopK]] over an existing index — in-memory or
    * re-read from its at-rest partitioned layout. The scan is filtered
    * to the UNION of all queries' probed cells before scoring, so over
    * a cell-partitioned parquet index the filter becomes partition
    * pruning (only probed cells are read at all); the per-query probe
    * mask then applies inside the kernel as before. */
  def ivfTopKFromIndex(assigned: DataFrame, cents: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, maxQueries: Int = DefaultMaxQueries): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Driver-side probe selection (centroid table is tiny): each query
    // ranks cells by centroid cosine (desc, cell asc tiebreak) and
    // probes the top nprobe.
    val spark = assigned.sparkSession
    import spark.implicits._
    val nCells = cents.length
    val qArr = collectQueriesBounded(queries
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])], maxQueries, k)
      .map { case (qid, qv) =>
        val nq = math.sqrt(Dedup.dotArr(qv, qv))
        val cellCos = Array.tabulate(nCells) { i =>
          val ncent = math.sqrt(Dedup.dotArr(cents(i), cents(i)))
          Dedup.dotArr(qv, cents(i)) / (nq * ncent)
        }
        val probe = new Array[Boolean](nCells)
        (0 until nCells).sortBy(i => (-cellCos(i), i)).take(nprobe)
          .foreach(probe(_) = true)
        (qid, qv, nq, probe)
      }
    val bcQ = spark.sparkContext.broadcast(qArr)

    // union of all probed cells: rows outside it can't contribute to any
    // query, so filter BEFORE the kernel — over the at-rest
    // cell-partitioned layout this is partition pruning at the scan
    val probedCells = (0 until nCells).filter(c => qArr.exists(_._4(c)))
    val scored = assigned
      .select(col("corpus_id").cast("long"), col("cv").cast("array<double>"),
        col("cell").cast("int"))
      .where(col("cell").isin(probedCells: _*))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { it =>
        val qs = bcQ.value
        val heaps = Array.fill(qs.length)(new TopKHeap(k))
        it.foreach { case (cid, cv, cell) =>
          lazy val nc = math.sqrt(Dedup.dotArr(cv, cv))
          var i = 0
          while (i < qs.length) {
            val (qid, qv, nq, probe) = qs(i)
            if (qid != cid && probe(cell))
              heaps(i).offer(cid, Dedup.dotArr(qv, cv) / (nq * nc))
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.drain.map { case (cid, s) => (qs(i)._1, cid, s) }
        }
      }.toDF("query_id", "corpus_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "cos", "rk")
  }

  // ---- product quantization ------------------------------------------------

  private def l2normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(Dedup.dotArr(v, v))
    if (n == 0.0) v else v.map(_ / n)
  }

  private def subVec(v: Array[Double], s: Int, dsub: Int): Array[Double] =
    java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)

  /** Deterministic hash-bucket training sample for codebook fits:
    * orders the corpus by md5(seed#id) and keeps the first `trainMax`
    * rows — a uniform sample without replacement that is INDEPENDENT of
    * the corpus's physical row order. `limit(trainMax)` alone would take
    * the FIRST rows, and a corpus sorted or clustered by domain (the
    * normal case after curation) would train codebooks on one domain
    * and quantize the rest badly — recall silently degrades at scale
    * while staying green on shuffled fixtures (SimilaritySpec pins the
    * failure mode). Compiles to `TakeOrderedAndProject`: each partition
    * keeps its local trainMax rows by hash order and the driver merges
    * ≤ partitions×trainMax — no count pass, no global sort exchange. */
  private[graft] def trainingSample(
      corpusNorm: Dataset[(Long, Array[Double])], trainMax: Int,
      seed: Long): Array[Array[Double]] = {
    require(trainMax >= 1, s"trainMax must be >= 1, got $trainMax")
    corpusNorm
      .orderBy(md5(concat_ws("#", lit(seed), col("_1")).cast("binary")), col("_1"))
      .limit(trainMax)
      .collect()
      .map(_._2)
  }

  /** Plain deterministic Lloyd k-means on a driver-side sample (the
    * FAISS-style codebook fit: codebooks are trained in memory on a
    * sample, never distributed). Empty clusters keep their old center. */
  private[graft] def lloyd(data: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(data.nonEmpty)
    val rnd = new scala.util.Random(seed)
    // Deterministic k-means++ seeding (D² sampling off the seeded RNG):
    // the original take-k-random init left centers wherever the shuffle
    // landed, which cost real recall once [[ivfIndex]] switched from
    // ml.KMeans (k-means|| init) to this trainer — on the worst-case
    // near-uniform fixture, IVF recall@3 read 0.625 vs the spec's 0.7
    // floor. Spread-out seeds close that gap; same determinism: every
    // draw comes from the one seeded RNG, no layout dependence.
    val n = data.length
    val centersBuf = scala.collection.mutable.ArrayBuffer(data(rnd.nextInt(n)).clone)
    val d2 = Array.fill(n)(Double.MaxValue)
    var exhausted = false
    while (centersBuf.length < k && !exhausted) {
      val last = centersBuf.last
      var i = 0
      var total = 0.0
      while (i < n) {
        var d = 0.0; var j = 0
        val p = data(i)
        while (j < p.length) { val t = p(j) - last(j); d += t * t; j += 1 }
        if (d < d2(i)) d2(i) = d
        total += d2(i)
        i += 1
      }
      if (total == 0.0) exhausted = true // ≤ centersBuf distinct points
      else {
        var r = rnd.nextDouble() * total
        var pick = 0
        while (pick < n - 1 && r >= d2(pick)) { r -= d2(pick); pick += 1 }
        centersBuf += data(pick).clone
      }
    }
    val centers = centersBuf.toArray
    val kEff = centers.length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kEff)(new Array[Double](data(0).length))
      val counts = new Array[Long](kEff)
      data.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          var d = 0.0; var j = 0
          while (j < p.length) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < p.length) { sums(best)(j) += p(j); j += 1 }
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var j = 0
          while (j < centers(c).length) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } // empty cluster: keep old center (deterministic)
        c += 1
      }
      it += 1
    }
    centers
  }

  private def nearestCode(books: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < books.length) {
      var d = 0.0; var j = 0
      while (j < p.length) { val t = p(j) - books(c)(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Product-quantization top-k — the memory-bound ANN shape: the
    * (normalized) corpus is encoded as `m` byte codes per vector
    * (dim×8 bytes → m bytes), queries score candidates by asymmetric
    * distance computation (ADC: per query an m×ksub table of subspace
    * dots, scoring = m table lookups, no original vectors touched), and
    * the approx top `k·refine` get an EXACT cosine rerank against the
    * original vectors (candidate set is tiny by then). Codebooks are
    * Lloyd-fit on a guarded driver-side sample and broadcast — exactly
    * FAISS's train/encode/search split. With `refine` large enough to
    * cover the corpus the result equals brute force (SimilaritySpec
    * pins this).
    *
    * Standalone PQ still ADC-scans every code per query (memory-bound,
    * not scan-bound); for the billion-vector shape that also prunes the
    * scan to nprobe/nlist of the codes per query, use [[ivfPqTopK]]. */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, refine: Int = 4,
      trainMax: Int = 10000, seed: Long = 42L,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val (codes, books) = pqIndex(corpus, idCol, vecCol, dim, m, ksub, trainMax, seed)
    if (books.isEmpty) { // empty corpus: no codebooks, no neighbors
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("corpus_id"),
          lit(0.0).as("cos"), lit(0).as("rk"))
        .limit(0)
    }
    pqTopKFromIndex(codes, books, corpus, queries, idCol, vecCol, k, refine, maxQueries)
  }

  /** PQ index build — the AT-REST half of [[pqTopK]]: seeded codebooks
    * (m × ksub × dsub, broadcast-sized) plus the CODES table
    * (corpus_id, m bytes) — the compressed corpus a billion-vector
    * serving pipeline persists (m bytes per vector vs 8·dim for raw
    * doubles; the raw vectors are read back ONLY to rerank the
    * per-query shortlist). Codebooks train on the deterministic
    * hash-bucket sample, so an index rebuilt from the same corpus and
    * seed is identical. Empty corpus → (empty frame, empty books). */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, ksub: Int = 16, trainMax: Int = 10000, seed: Long = 42L)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(ksub <= 127, "codes are stored as bytes")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusNorm = corpus
      .select(col(idCol).cast("long").as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) => (id, l2normalize(v)) })
    // train codebooks on a deterministic hash-bucket driver-side sample
    val sample = trainingSample(corpusNorm, trainMax, seed)
    if (sample.isEmpty)
      return (corpusNorm.toDF("corpus_id", "cv").limit(0)
        .select(col("corpus_id"), lit(Array.empty[Byte]).as("codes")), Array.empty)
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => lloyd(sample.map(subVec(_, s, dsub)), ksub, iters = 10, seed + s))
    val bcBooks = spark.sparkContext.broadcast(books)
    // encode: m byte codes per corpus vector
    val encoded = corpusNorm.mapPartitions { it =>
      val bks = bcBooks.value
      it.map { case (id, v) =>
        (id, Array.tabulate(m)(s => nearestCode(bks(s), subVec(v, s, dsub)).toByte))
      }
    }.toDF("corpus_id", "codes")
    (encoded, books)
  }

  /** Reconstruction-distortion audit of a PQ index (n27): decodes each
    * vector's m byte codes against the broadcast codebooks and emits
    * per-vector squared reconstruction error `mse`, plus `mse0` — the
    * error of the degenerate all-zeros code assignment — whose only
    * purpose is pinning the encoder's nearest-code property
    * (mse ≤ mse0 for EVERY vector; a nearestCode regression flips it).
    * One mapPartitions over the codes⋈corpus join; nothing leaves the
    * executors but (id, two doubles). */
  def pqDistortion(codes: DataFrame, books: Array[Array[Array[Double]]],
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    val m = books.length
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val spark = codes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    corpus.select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) => (id, l2normalize(v)) })
      .toDF("corpus_id", "cv")
      .join(codes, "corpus_id")
      .as[(Long, Array[Double], Array[Byte])]
      .mapPartitions { it =>
        val bks = bc.value
        it.map { case (id, v, cs) =>
          var mse = 0.0; var mse0 = 0.0
          var s = 0
          while (s < m) {
            val cent = bks(s)(cs(s).toInt)
            val zero = bks(s)(0)
            var j = 0
            while (j < dsub) {
              val x = v(s * dsub + j)
              val dx = x - cent(j); mse += dx * dx
              val d0 = x - zero(j); mse0 += d0 * d0
              j += 1
            }
            s += 1
          }
          (id, mse, mse0)
        }
      }.toDF("corpus_id", "mse", "mse0")
  }

  /** Probe half of [[pqTopK]] over an existing codes table — in-memory
    * or re-read from rest. `corpus` supplies the ORIGINAL vectors only
    * for the exact rerank of the (tiny) shortlist; the ADC scan itself
    * touches nothing but the m-byte codes. */
  def pqTopKFromIndex(codes: DataFrame, books: Array[Array[Array[Double]]],
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, refine: Int = 4,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(books.nonEmpty, "pqTopKFromIndex needs non-empty codebooks")
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val spark = codes.sparkSession
    import spark.implicits._
    val corpusVec = corpus
      .select(col(idCol).cast("long").as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val encoded = codes
      .select(col("corpus_id").cast("long"), col("codes"))
      .as[(Long, Array[Byte])]

    // queries: broadcast (id, ADC lookup table m×ksub)
    val qArr = collectQueriesBounded(queries
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])], maxQueries, k)
      .map { case (qid, qv) =>
        val qn = l2normalize(qv)
        val lut = new Array[Double](m * ksub)
        var s = 0
        while (s < m) {
          val qs = subVec(qn, s, dsub)
          var c = 0
          while (c < books(s).length) {
            lut(s * ksub + c) = Dedup.dotArr(qs, books(s)(c))
            c += 1
          }
          s += 1
        }
        (qid, lut)
      }
    val bcQ = spark.sparkContext.broadcast(qArr)

    // ADC scoring: approx cosine = Σ_s lut(s, code_s). Two-level
    // reduction: per-partition heaps emit only the local top k·refine
    // per query, so the shortlist window never sees all |corpus| codes.
    val shortlistK = k * refine
    val approx = encoded.mapPartitions { it =>
      val qs = bcQ.value
      val heaps = Array.fill(qs.length)(new TopKHeap(shortlistK))
      it.foreach { case (cid, codes) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, lut) = qs(qi)
          if (qid != cid) {
            var s = 0; var score = 0.0
            while (s < codes.length) { score += lut(s * ksub + codes(s)); s += 1 }
            heaps(qi).offer(cid, score)
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.drain.map { case (cid, s) => (qs(qi)._1, cid, s) }
      }
    }.toDF("query_id", "corpus_id", "approx")
    val wa = Window.partitionBy("query_id").orderBy(col("approx").desc, col("corpus_id"))
    val shortlist = approx.withColumn("ark", row_number().over(wa))
      .where(col("ark") <= shortlistK)
      .select("query_id", "corpus_id")

    exactRerank(shortlist, corpusVec, queries, idCol, vecCol, k)
  }

  /** Exact cosine rerank of an ANN shortlist against the ORIGINAL
    * vectors: join back the corpus rows (equi join on id — the
    * shortlist is tiny by now), broadcast the query vectors, rank. */
  private def exactRerank(
      shortlist: DataFrame, corpusVec: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val qVec = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val reranked = shortlist
      .join(corpusVec, Seq("corpus_id"))
      .join(broadcast(qVec), Seq("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    reranked.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "cos", "rk")
  }

  /** IVF+PQ composed top-k — the billion-vector ANN shape (the FAISS
    * `IVFx,PQy` index): a coarse k-means quantizer routes every corpus
    * vector to one of `nlist` cells, the PQ codebooks encode the
    * RESIDUAL (v − centroid) as `m` byte codes, and each query
    * ADC-scans only its `nprobe` nearest cells — so the scan fraction
    * is ~nprobe/nlist of the codes, on top of PQ's dim×8→m
    * bytes-per-vector memory bound. approx cos = dot(q, centroid_cell)
    * + Σ_s lut_s(code_s), because v ≈ centroid + Σ_s codeword_s on the
    * normalized corpus. The top k·refine then get the same exact
    * cosine rerank as [[pqTopK]]. Training (coarse centroids +
    * residual codebooks) happens on one guarded driver-side sample and
    * is broadcast once. At cluster scale the encoded table persists
    * bucketed/partitioned by `cell` (see [[graft.core.Layout]]) so the
    * probe prune becomes a partition prune rather than a row filter —
    * here it is a row filter ahead of the per-partition heaps, which
    * already keeps the shuffle at ≤ partitions×|queries|×k·refine rows.
    *
    * With nprobe = nlist every cell is probed, and with `refine`
    * covering the corpus the result equals brute force regardless of
    * codebook quality (SimilaritySpec pins this). */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16, refine: Int = 4,
      trainMax: Int = 10000, seed: Long = 42L,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    val idx = ivfPqIndex(corpus, idCol, vecCol, dim, nlist, m, ksub, trainMax, seed)
    if (idx.centroids.isEmpty) { // empty corpus: no index, no neighbors
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("corpus_id"),
          lit(0.0).as("cos"), lit(0).as("rk"))
        .limit(0)
    }
    ivfPqTopKFromIndex(idx, corpus, queries, idCol, vecCol, k, nprobe, refine, maxQueries)
  }

  /** The at-rest IVF+PQ artifact set: the codes table
    * (corpus_id, cell, m residual bytes — partition it by cell at rest
    * for probe-time pruning) plus the broadcast-sized coarse centroids
    * and residual codebooks. */
  final case class IvfPqIndex(codes: DataFrame,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]])

  private def residualOf(
      v: Array[Double], cell: Int, cs: Array[Array[Double]]): Array[Double] = {
    val r = new Array[Double](v.length)
    var j = 0
    while (j < v.length) { r(j) = v(j) - cs(cell)(j); j += 1 }
    r
  }

  /** Index build — the AT-REST half of [[ivfPqTopK]] (the FAISS
    * IVFx,PQy artifact): one deterministic hash-bucket sample trains the
    * coarse centroids, then the PQ codebooks on residuals v − centroid;
    * the corpus encodes to (cell, m bytes). Same determinism contract
    * as [[pqIndex]]: rebuild from the same corpus + seed is identical,
    * independent of partitioning. Empty corpus → empty artifacts. */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16,
      trainMax: Int = 10000, seed: Long = 42L): IvfPqIndex = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(ksub <= 127, "codes are stored as bytes")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusNorm = corpus
      .select(col(idCol).cast("long").as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) => (id, l2normalize(v)) })
    // train on ONE deterministic hash-bucket driver-side sample: coarse
    // centroids first, then PQ codebooks on the residuals v − centroid(v)
    val sample = trainingSample(corpusNorm, trainMax, seed)
    if (sample.isEmpty)
      return IvfPqIndex(
        corpusNorm.toDF("corpus_id", "cv").limit(0)
          .select(col("corpus_id"), lit(0).as("cell"), lit(Array.empty[Byte]).as("codes")),
        Array.empty, Array.empty)
    val cents = lloyd(sample, nlist, iters = 10, seed)
    val resSample = sample.map(v => residualOf(v, nearestCode(cents, v), cents))
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => lloyd(resSample.map(subVec(_, s, dsub)), ksub, iters = 10, seed + s))
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcBooks = spark.sparkContext.broadcast(books)
    // encode: cell + m byte codes of the residual, per corpus vector
    val encoded = corpusNorm.mapPartitions { it =>
      val cs = bcCents.value; val bks = bcBooks.value
      it.map { case (id, v) =>
        val cell = nearestCode(cs, v)
        val r = residualOf(v, cell, cs)
        (id, cell, Array.tabulate(m)(s => nearestCode(bks(s), subVec(r, s, dsub)).toByte))
      }
    }.toDF("corpus_id", "cell", "codes")
    IvfPqIndex(encoded, cents, books)
  }

  /** Probe half of [[ivfPqTopK]] over an existing index — in-memory or
    * re-read from its cell-partitioned at-rest layout (the probed-cell
    * union filter prunes partitions at the scan, like
    * [[ivfTopKFromIndex]]). `corpus` supplies raw vectors only for the
    * shortlist rerank. */
  def ivfPqTopKFromIndex(idx: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4, refine: Int = 4,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(idx.centroids.nonEmpty, "ivfPqTopKFromIndex needs non-empty centroids")
    val cents = idx.centroids
    val books = idx.books
    val nCells = cents.length
    require(nprobe >= 1 && nprobe <= nCells, s"nprobe $nprobe must be in [1, nlist=$nCells]")
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val spark = idx.codes.sparkSession
    import spark.implicits._
    val corpusVec = corpus
      .select(col(idCol).cast("long").as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))

    // queries: broadcast (id, residual ADC table, probe mask, per-cell
    // bias dot(q, centroid)); cells ranked by centroid dot, nprobe kept
    val qArr = collectQueriesBounded(queries
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])], maxQueries, k)
      .map { case (qid, qv) =>
        val qn = l2normalize(qv)
        val cellDot = Array.tabulate(nCells)(c => Dedup.dotArr(qn, cents(c)))
        val probedCells = (0 until nCells).sortBy(c => (-cellDot(c), c)).take(nprobe)
        val probe = new Array[Boolean](nCells)
        probedCells.foreach(probe(_) = true)
        val lut = new Array[Double](m * ksub)
        var s = 0
        while (s < m) {
          val qs = subVec(qn, s, dsub)
          var c = 0
          while (c < books(s).length) {
            lut(s * ksub + c) = Dedup.dotArr(qs, books(s)(c))
            c += 1
          }
          s += 1
        }
        (qid, lut, probe, cellDot)
      }
    val bcQ = spark.sparkContext.broadcast(qArr)

    // probed-cell union filter: partition pruning over the at-rest layout
    val probedUnion = (0 until nCells).filter(c => qArr.exists(_._3(c)))
    val encoded = idx.codes
      .select(col("corpus_id").cast("long"), col("cell").cast("int"), col("codes"))
      .where(col("cell").isin(probedUnion: _*))
      .as[(Long, Int, Array[Byte])]
    val shortlistK = k * refine
    val approx = encoded.mapPartitions { it =>
      val qs = bcQ.value
      val heaps = Array.fill(qs.length)(new TopKHeap(shortlistK))
      it.foreach { case (cid, cell, codes) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, lut, probe, cellDot) = qs(qi)
          if (qid != cid && probe(cell)) {
            var s = 0; var score = cellDot(cell)
            while (s < codes.length) { score += lut(s * ksub + codes(s)); s += 1 }
            heaps(qi).offer(cid, score)
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.drain.map { case (cid, s) => (qs(qi)._1, cid, s) }
      }
    }.toDF("query_id", "corpus_id", "approx")
    val wa = Window.partitionBy("query_id").orderBy(col("approx").desc, col("corpus_id"))
    val shortlist = approx.withColumn("ark", row_number().over(wa))
      .where(col("ark") <= shortlistK)
      .select("query_id", "corpus_id")

    exactRerank(shortlist, corpusVec, queries, idCol, vecCol, k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * query, the k most-similar corpus vectors with a DIFFERENT label —
    * near the query in embedding space but semantically wrong, the
    * negatives that actually teach a ranker. Same kernel discipline as
    * [[bruteForceTopK]]: queries (with their labels) broadcast as
    * primitive arrays, ONE corpus scan serves every label (the label
    * mask is a per-pair comparison inside the loop — never a per-label
    * re-scan), per-partition per-query heaps bound the window input to
    * ≤ partitions×|queries|×k. Same-id pairs are excluded implicitly
    * (same id ⇒ same label).
    *
    * Output: (query_id, corpus_id, cos, rk), rk 1-based per query.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      maxQueries: Int = DefaultMaxQueries): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qArr = collectQueriesBounded(queries.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"), col(labelCol).cast("int"))
      .as[(Long, Array[Double], Int)], maxQueries, k)
      .map { case (id, v, l) => (id, v, l, math.sqrt(Dedup.dotArr(v, v))) }
    val bc = spark.sparkContext.broadcast(qArr)
    val scored = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        col(labelCol).cast("int"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { it =>
        val qs = bc.value
        val heaps = Array.fill(qs.length)(new TopKHeap(k))
        it.foreach { case (cid, cv, cl) =>
          val nc = math.sqrt(Dedup.dotArr(cv, cv))
          var i = 0
          while (i < qs.length) {
            val (_, qv, ql, nq) = qs(i)
            if (ql != cl) heaps(i).offer(cid, Dedup.dotArr(qv, cv) / (nq * nc))
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.drain.map { case (cid, s) => (qs(i)._1, cid, s) }
        }
      }.toDF("query_id", "corpus_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select("query_id", "corpus_id", "cos", "rk")
  }

  /** Recall@k of an ANN result against the brute-force truth: fraction
    * of (query, corpus) truth pairs the ANN result recovered. */
  def recallAtK(ann: DataFrame, truth: DataFrame): Double = {
    val hit = truth.select("query_id", "corpus_id")
      .join(ann.select("query_id", "corpus_id"), Seq("query_id", "corpus_id"), "left_semi")
      .count()
    val total = truth.count()
    if (total == 0) 1.0 else hit.toDouble / total
  }
}
