package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity}

class DedupSpec extends SparkSpec {

  /** Deterministic corpus with planted exact dups and near-dups. */
  private lazy val docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val words = base.split(" ")
    val rnd = new scala.util.Random(5)
    val rows = (0 until 60).map { i =>
      val shuffled = rnd.shuffle(words.toSeq).mkString(" ")
      (i.toLong, shuffled)
    } ++ Seq(
      (100L, base),           // exact dup pair
      (101L, base),
      (102L, base + " extra"), // near dup of base (one token appended)
      (103L, "completely different text about spark engines and shuffles"))
    rows.toDF("doc_id", "text")
  }

  test("exactStats finds planted duplicate group") {
    val r = Dedup.exactStats(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_docs") === 64L)
    assert(r.getAs[Long]("n_unique") === 63L)
    assert(r.getAs[Long]("n_dup_groups") === 1L)
    assert(r.getAs[Long]("n_dropped") === 1L)
  }

  test("jaccardPairs finds exact and near dups with correct jaccard") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", w = 3, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs.contains((100L, 101L)) && math.abs(pairs((100L, 101L)) - 1.0) < 1e-12)
    // 102 shares all 12 shingles of base; has 13 → J = 12/13
    assert(math.abs(pairs((100L, 102L)) - 12.0 / 13.0) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => a == 103L || b == 103L })
  }

  test("minHash est_jaccard approximates true jaccard; LSH recall is total on high-sim pairs") {
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", w = 3, minJaccard = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minHashNearDup(docs, "doc_id", "text", w = 3, k = 64, bands = 16, minJaccard = 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // bands=16, r=4: a J>=0.8 pair is caught w.p. 1-(1-0.8^4)^16 ≈ 0.9998
    assert(truth.nonEmpty && truth.subsetOf(found))
    // est vs exact on the identical pair
    val est = Dedup.minHashCandidatesFromSigs(
        Dedup.minHashSignatures(docs, "doc_id", "text", w = 3, k = 64), k = 64, bands = 16)
      .where(col("id_a") === 100L && col("id_b") === 101L)
      .collect()(0).getAs[Double]("est_jaccard")
    assert(est === 1.0)
  }

  test("degenerate band bucket is star-capped: bounded candidates, cluster intact") {
    import spark.implicits._
    // 500 byte-identical template docs (the post-exact-dedup boilerplate
    // scenario: imagine they differ in a stripped field) + 20 distinct
    // docs. All 500 share EVERY band bucket, so an unguarded self-join
    // would emit C(500,2)=124 750 candidates per band.
    val template = "breaking news local weather update traffic report sports scores tonight"
    val rnd = new scala.util.Random(11)
    val words = template.split(" ")
    val degen = (0 until 500).map(i => (i.toLong, template)) ++
      (0 until 20).map(i => (1000L + i, rnd.shuffle(words.toSeq).mkString(" ") + s" tail$i"))
    val df = degen.toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "doc_id", "text", w = 3, k = 64)
    val cands = Dedup.minHashCandidatesFromSigs(sigs, k = 64, bands = 16, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // star cap: the 500-doc component contributes 499 pairs (one per
    // non-rep member), not 124 750
    val degenPairs = cands.filter { case (a, b) => a < 500 && b < 500 }
    assert(degenPairs.length === 499, s"got ${degenPairs.length}")
    assert(degenPairs.forall(_._1 === 0L)) // all through the min-id rep
    // the dup cluster is still fully connected through the rep
    val pairsDf = degenPairs.toSeq.toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairsDf).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert((0L until 500L).forall(clusters(_) === 0L))
    // census reports the degenerate buckets loudly
    val stats = Dedup.bandBucketStats(
      Dedup.nearDupIndex(df, "doc_id", "text", w = 3, k = 64, bands = 16),
      maxBucket = 100).collect()(0)
    assert(stats.getAs[Long]("max_bucket") === 500L)
    assert(stats.getAs[Long]("n_oversize") === 16L) // one per band
  }

  test("star cap leaves normal corpora byte-identical (cap ≫ bucket sizes)") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", w = 3, k = 64)
    val guarded = Dedup.minHashCandidatesFromSigs(sigs, k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unguarded = Dedup.minHashCandidatesFromSigs(sigs, k = 64, bands = 16,
      maxBucket = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(guarded === unguarded)
  }

  test("incremental star cap: planted degenerate bucket stays bounded across batches") {
    import spark.implicits._
    val template = "subscribe to our newsletter for daily updates and exclusive offers now"
    val corpus = (0 until 300).map(i => (i.toLong, template)).toDF("doc_id", "text")
    val batch = (300 until 400).map(i => (i.toLong, template)).toDF("doc_id", "text")
    val index = Dedup.nearDupIndex(corpus, "doc_id", "text", w = 3, k = 64, bands = 16)
    val batchIdx = Dedup.nearDupIndex(batch, "doc_id", "text", w = 3, k = 64, bands = 16)
    val cands = Dedup.incrementalCandidates(index, batchIdx, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // star over the whole 400-member bucket: 399 pairs, all through doc 0 —
    // NOT 300×100 probe pairs + C(100,2) internal
    assert(cands.length === 399, s"got ${cands.length}")
    assert(cands.forall(_._1 === 0L))
    // and the batch is fully linked into the corpus component
    val linked = cands.map(_._2).toSet
    assert((300L until 400L).forall(linked.contains))
  }

  test("incrementalNearDup replay equals the full-corpus run restricted to the batch") {
    // split the corpus in two, index the first part, probe with the second:
    // the planted dups straddle the split (100/102 even → batch; 101 odd →
    // corpus), so probe pairs, batch-internal pairs, and absent old-old
    // pairs are all exercised
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val index = Dedup.nearDupIndex(corpus, "doc_id", "text", w = 3, k = 64, bands = 16)
    val inc = Dedup.incrementalNearDup(corpus, index, batch, "doc_id", "text",
        w = 3, k = 64, bands = 16, minJaccard = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val full = Dedup.minHashNearDup(docs, "doc_id", "text", w = 3, k = 64, bands = 16,
        minJaccard = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val fullTouchingBatch = full.filter { case ((a, b), _) => a % 2 == 0 || b % 2 == 0 }
    assert(inc.keySet === fullTouchingBatch.keySet,
      s"missing=${fullTouchingBatch.keySet diff inc.keySet} extra=${inc.keySet diff fullTouchingBatch.keySet}")
    inc.foreach { case (k, j) => assert(math.abs(j - fullTouchingBatch(k)) < 1e-12) }
    // the probe (index-vs-batch) and batch-internal shapes both fired
    assert(inc.contains((100L, 101L)) && math.abs(inc((100L, 101L)) - 1.0) < 1e-12) // probe
    assert(inc.contains((100L, 102L))) // batch-internal
    // old-old pairs are NOT re-emitted
    assert(inc.keySet.forall { case (a, b) => a % 2 == 0 || b % 2 == 0 })
  }

  test("simHash: identical texts collide, near texts are close, distinct are far") {
    val sh = Dedup.simHash64(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(100L) === sh(101L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(100L), sh(102L)) <= 12)
    assert(hamming(sh(100L), sh(103L)) > 12)
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((100L, 101L)))
  }

  test("dupClusters resolves transitive near-dup chains; dedup keeps representatives") {
    import spark.implicits._
    // chain 1-2-3 (transitive: 1~2, 2~3 but no 1~3 edge), pair 10-11, singleton 99
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(clusters(1L) === 1L && clusters(2L) === 1L && clusters(3L) === 1L)
    assert(clusters(10L) === 10L && clusters(11L) === 10L)
    // distributed path agrees with the driver union-find path
    val dist = Dedup.dupClustersDistributed(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(dist === clusters)

    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val kept = Dedup.dedupByClusters(corpus, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 10L, 99L))
  }

  test("distributed CC converges on long chains in O(log d) rounds; throws when rounds run out") {
    import spark.implicits._
    // a 64-node chain: plain min-propagation needs 63 rounds; pointer
    // doubling gets there in well under 10
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.dupClustersDistributed(chain, maxIter = 10).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(labels.size === 64 && labels.values.forall(_ === 1L), labels)
    // insufficient rounds must throw, not silently keep duplicates
    intercept[IllegalStateException] {
      Dedup.dupClustersDistributed(chain, maxIter = 2)
    }
  }

  test("incrementalDedup: dedups a drop within itself AND against the corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma"),   // cross-corpus dup → dropped
      (11L, "eta theta iota"),     // fresh
      (12L, "eta theta iota"),     // batch-internal dup of 11 → collapsed
      (13L, "kappa lambda mu")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("rep_id") -> r.getAs[Long]("n_in_batch")).toMap
    assert(out === Map(11L -> 2L, 13L -> 1L))
  }

  test("dupClusters rejects a maxDriverPairs that would overflow the Int limit") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.dupClusters(pairs, maxDriverPairs = Int.MaxValue.toLong + 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.dupClusters(pairs, maxDriverPairs = -1L)
    }
  }

  test("pair generators leave no DataFrame cache behind (session hygiene)") {
    spark.catalog.clearCache()
    Dedup.jaccardPairs(docs, "doc_id", "text", w = 3, minJaccard = 0.5).count()
    Dedup.minHashNearDup(docs, "doc_id", "text", w = 3, k = 64, bands = 16,
      minJaccard = 0.8).count()
    graft.llm.Curation.curate(docs, "doc_id", "text",
      langs = Seq("en", "unknown"), minQuality = 0.0, minTokens = 1).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "jaccardPairs/minHashNearDup/curate must release their caches")
  }

  test("chunkDedup strips repeated chunks globally and within docs, reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h i j"),   // both chunks first occurrences
      (1L, "a b c d e x y"),         // chunk 0 dups doc 0 -> only "x y" survives
      (2L, "f g h i j"),             // entire doc already seen -> empty
      (3L, "p q r s t p q r s t")    // within-doc dup -> second copy dropped
    ).toDF("id", "txt").repartition(3)
    val got = Dedup.chunkDedup(docs, "id", "txt", chunkWords = 5)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got === Array(
      (0L, 2L, 2L, "a b c d e f g h i j"),
      (1L, 2L, 1L, "x y"),
      (2L, 1L, 0L, ""),
      (3L, 2L, 1L, "p q r s t")))
  }

  test("fuzzyPairs equals brute-force levenshtein pairs on random short strings") {
    import spark.implicits._
    // random strings over a 3-letter alphabet force plenty of near pairs,
    // including lengths below k+1 (the degenerate-bucket path)
    val rnd = new scala.util.Random(11)
    val strs = (0L until 120L).map { i =>
      val len = 1 + rnd.nextInt(12)
      (i, Array.fill(len)("abc" (rnd.nextInt(3))).mkString)
    }
    val df = strs.toDF("id", "s").repartition(4)
    for (k <- Seq(1, 2)) {
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val expected = (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        dist = lev(sa, sb) if dist <= k
      } yield (ia, ib, dist)).toSet
      val got = Dedup.fuzzyPairs(df, "id", "s", maxDist = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expected, s"k=$k: blocking lost or invented pairs")
    }
  }

  test("duplicatedSpans: planted shared span is flagged, short docs count zero windows") {
    import spark.implicits._
    // width 10, stride 5 → windows at offsets 0,5,10,... the planted
    // 20-char block "AAAAABBBBBCCCCCDDDDD" is shared verbatim by docs 1
    // and 2 at aligned offsets, so its aligned windows collide.
    val shared = "AAAAABBBBBCCCCCDDDDD"
    val df = Seq(
      (1L, shared + "unique-tail-one-xxxx"),
      (2L, shared + "other-ending-yyyyyyy"),
      (3L, "completely different text here!!"),
      (4L, "tiny")). // < width → 0 windows
      toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(df, "doc_id", "text", width = 10, stride = 5)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_windows"), x.getAs[Long]("n_dup_windows"))).toMap
    // len 40 → (40-10)/5+1 = 7 windows; offsets 0 and 5 fall inside the
    // shared 20-char prefix (windows [0,10) and [5,15)) → 3 shared-prefix
    // windows? window at 10 spans [10,20) = "CCCCCDDDDD" also shared.
    assert(r(1L)._1 === 7L && r(2L)._1 === 7L)
    assert(r(1L)._2 === 3L && r(2L)._2 === 3L) // offsets 0, 5, 10
    assert(r(3L) === (5L, 0L))
    assert(r(4L) === (0L, 0L))
  }

  test("semDedup: exact planted dup loses to its lowest-id twin, distinct items survive") {
    import spark.implicits._
    // two well-separated directions (→ 2 k-means clusters); within each,
    // distinct members have pairwise cos ≈ 0.84 < 0.99 (all kept), and
    // one planted EXACT duplicate (cos 1.0 ≥ 0.99) must lose to its twin
    val a1 = Seq(1.0, 0.3, 0.0, 0.0)
    val b1 = Seq(0.0, 0.0, 1.0, 0.3)
    val rows = Seq(
      (1L, a1), (2L, Seq(1.0, -0.3, 0.0, 0.0)), (10L, a1),          // 10 dups 1
      (3L, b1), (4L, Seq(0.0, 0.0, 1.0, -0.3)), (11L, b1))          // 11 dups 3
    val df = rows.toDF("vec_id", "embedding")
    val got = Dedup.semDedup(df, "vec_id", "embedding", nClusters = 2, minCos = 0.99)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(got(1L) && got(2L) && got(3L) && got(4L), "distinct items must be kept")
    assert(!got(10L) && !got(11L), "exact dups must be dropped")
    // clusters must separate the two directions for the assertions above
    // to be meaningful — sanity: dup and twin always share a cluster
    val cl = Dedup.semDedup(df, "vec_id", "embedding", nClusters = 2, minCos = 0.99)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("cluster")).toMap
    assert(cl(1L) === cl(10L) && cl(3L) === cl(11L))
  }

  test("semDedup and ivfIndex are partition-layout-invariant (bit-identical rows)") {
    import spark.implicits._
    // The r18 tiny-split sweep caught ivfIndex's old ml.KMeans build
    // flipping recall with spark.sql.files.maxPartitionBytes: k-means||
    // init samples PER PARTITION, so centroids depended on input
    // layout. Both quantizers now train on a value-keyed driver sample
    // (md5(seed#id) order) — this pin reruns them across three very
    // different partitionings and demands IDENTICAL per-row output.
    val rnd = new scala.util.Random(11)
    val rows = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextDouble() - 0.5)))
    val base = rows.toDF("vec_id", "embedding")
    def semRows(df: org.apache.spark.sql.DataFrame) =
      Dedup.semDedup(df, "vec_id", "embedding", nClusters = 5, minCos = 0.9)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("cluster"),
          r.getAs[Boolean]("kept"), r.getAs[Int]("cluster_size"))).toSet
    def ivfRows(df: org.apache.spark.sql.DataFrame) = {
      val (assigned, cents) = graft.llm.Similarity.ivfIndex(
        df, "vec_id", "embedding", nlist = 5)
      (assigned.select("corpus_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet,
        cents.map(_.toSeq).toSeq)
    }
    val layouts = Seq(base.repartition(1), base.repartition(13),
      base.repartitionByRange(4, col("vec_id").desc))
    val sem = layouts.map(semRows)
    assert(sem(1) === sem(0) && sem(2) === sem(0),
      "semDedup rows diverged across input partitionings")
    val ivf = layouts.map(ivfRows)
    assert(ivf(1) === ivf(0) && ivf(2) === ivf(0),
      "ivfIndex assignments/centroids diverged across input partitionings")
  }

  test("semDedup enforces maxClusterSize and reports cluster_size") {
    import spark.implicits._
    // 8 near-identical vectors in direction A, 2 in direction B → one
    // k-means cluster of 8 exceeds a cap of 4 and the greedy must refuse
    // rather than build the giant executor-heap array
    val rows = (1L to 8L).map(i => (i, Seq(1.0, 0.001 * i, 0.0, 0.0))) ++
      Seq((9L, Seq(0.0, 0.0, 1.0, 0.001)), (10L, Seq(0.0, 0.0, 1.0, 0.002)))
    val df = rows.toDF("vec_id", "embedding")
    // local mode may surface the guard raw or wrapped in SparkException
    val e = intercept[Exception] {
      Dedup.semDedup(df, "vec_id", "embedding", nClusters = 2, minCos = 0.999,
        maxClusterSize = 4).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("maxClusterSize")), messages.mkString(" | "))
    // under the cap: every row reports its own cluster's true size
    val ok = Dedup.semDedup(df, "vec_id", "embedding", nClusters = 2, minCos = 0.999,
      maxClusterSize = 10).collect()
    val bySize = ok.groupBy(_.getAs[Int]("cluster")).values
    assert(bySize.forall(rs => rs.forall(_.getAs[Int]("cluster_size") === rs.length)))
    assert(bySize.map(_.length).toSeq.sorted === Seq(2, 8))
    // auto-sizing: N=10 / target=5 → k=2, same result as explicit k=2
    val auto = Dedup.semDedupAuto(df, "vec_id", "embedding",
        targetClusterSize = 5, minCos = 0.999)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    val explicit = ok.map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(auto === explicit)
  }

  test("cosinePairsLsh finds what brute force finds (fixture embeddings)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Dedup.cosinePairsBrute(emb, "vec_id", "embedding", minCos = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = Dedup.cosinePairsLsh(emb, "vec_id", "embedding", minCos = 0.4,
      dim = 64, nPlanes = 16, nBands = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.subsetOf(brute)) // verify step guarantees no false positives
    if (brute.nonEmpty) {
      val recall = lsh.intersect(brute).size.toDouble / brute.size
      assert(recall >= 0.9, s"LSH recall $recall over ${brute.size} true pairs")
    }
  }

  test("incrementalCosineNearDup equals the full LSH run restricted to the batch") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.where(pmod(col("vec_id"), lit(2)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val index = Dedup.cosineIndex(corpus, "vec_id", "embedding",
      dim = 64, nPlanes = 16, nBands = 8)
    val inc = Dedup.incrementalCosineNearDup(corpus, index, batch,
        "vec_id", "embedding", minCos = 0.4, dim = 64, nPlanes = 16, nBands = 8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cos"))
      .toMap
    val full = Dedup.cosinePairsLsh(emb, "vec_id", "embedding", minCos = 0.4,
        dim = 64, nPlanes = 16, nBands = 8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cos"))
      .toMap
    val fullTouchingBatch = full.filter { case ((a, b), _) => a % 2 == 0 || b % 2 == 0 }
    assert(inc.nonEmpty && inc.keySet === fullTouchingBatch.keySet,
      s"missing=${fullTouchingBatch.keySet diff inc.keySet} extra=${inc.keySet diff fullTouchingBatch.keySet}")
    inc.foreach { case (k, c) => assert(math.abs(c - fullTouchingBatch(k)) < 1e-12) }
    // old-old pairs are NOT re-emitted
    assert(inc.keySet.forall { case (a, b) => a % 2 == 0 || b % 2 == 0 })
  }

  test("an oversize sign-band bucket is capped alike by the full run and the empty-index probe") {
    import spark.implicits._
    // 1,100 positive multiples of one vector: every hyperplane gives them
    // the same sign, so they share one bucket in every band, past
    // DefaultMaxBucket, and every pair among them has cosine 1. 200
    // seeded random vectors keep ordinary buckets in play.
    val rnd = new scala.util.Random(7)
    val base = Seq(0.9, -0.4, 0.3, 0.7)
    val vecs = ((0 until 1100).map(i => (i.toLong, base.map(_ * (1.0 + i)))) ++
        (0 until 200).map(i => (5000L + i, Seq.fill(4)(rnd.nextGaussian()))))
      .toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cos")).toMap
    val full = pairs(Dedup.cosinePairsLsh(vecs, "vec_id", "embedding", minCos = 0.9,
      dim = 4, nPlanes = 16, nBands = 4))
    // a full run is the probe of an empty index with the whole corpus as
    // the batch (the corpus holds only already-indexed rows, so it is
    // empty too)
    val none = vecs.limit(0)
    val emptyIndex = Dedup.cosineIndex(none, "vec_id", "embedding",
      dim = 4, nPlanes = 16, nBands = 4)
    val probe = pairs(Dedup.incrementalCosineNearDup(none, emptyIndex, vecs,
      "vec_id", "embedding", minCos = 0.9, dim = 4, nPlanes = 16, nBands = 4))
    val missing = full.keySet diff probe.keySet
    val extra = probe.keySet diff full.keySet
    assert(missing.size + extra.size === 0,
      s"${missing.size} missing (e.g. ${missing.take(3)}), ${extra.size} extra (e.g. ${extra.take(3)})")
    probe.foreach { case (k, c) => assert(math.abs(c - full(k)) < 1e-12) }
    // the cap binds: the degenerate bucket yields its 1,099 star pairs
    // through the min-id rep, not C(1100, 2) = 604,450
    val degen = full.keySet.filter(_._2 < 1100)
    assert(degen.size === 1099 && degen.forall(_._1 === 0L), s"got ${degen.size}")
    assert(full.size > degen.size) // ordinary buckets still pair
  }

  test("containmentPairs flags a quoted subset that Jaccard misses") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, quote),                      // the small doc: 3 5-shingles
      (2L, filler + " " + quote),       // big doc embedding the full quote
      (3L, "totally different content with no shared phrases at all here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", w = 5,
        minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b")))).toMap
    // every shingle of doc 1 occurs in doc 2 -> containment_a = 1.0,
    // while containment_b (and Jaccard) stay far below the threshold
    assert(pairs.keySet === Set((1L, 2L)), s"got ${pairs.keySet}")
    assert(pairs((1L, 2L))._1 === 1.0)
    assert(pairs((1L, 2L))._2 < 0.1)
    // the Jaccard operator at the same threshold finds nothing
    assert(Dedup.jaccardPairs(corpus, "doc_id", "text", w = 5, minJaccard = 0.9)
      .count() === 0L)
  }
}
