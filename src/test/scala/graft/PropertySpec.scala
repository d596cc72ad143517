package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.stats.StatTests

/** Property-based checks (SURVEY §5): driver-side numerics get seeded
  * ScalaCheck sweeps; Spark operators get a small number of generated
  * cases (each case is a Spark job). Raw Gen + seeds (the scalatest
  * bridge isn't in the offline cache), deterministic by construction. */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long = 42L): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next).take(n)
      .flatMap(s => g.apply(params, s)).toSeq
  }

  private def forAll[T](g: Gen[T], n: Int = 100)(f: T => Unit): Unit = {
    val cases = samples(g, n)
    assert(cases.size > n / 2, "generator exhausted")
    cases.foreach(f)
  }

  test("fisherExactGreater is a valid p-value and monotone in a (fixed margins)") {
    val tables = for {
      a <- Gen.choose(0L, 30L); b <- Gen.choose(0L, 30L)
      c <- Gen.choose(0L, 30L); d <- Gen.choose(0L, 30L)
    } yield (a, b, c, d)
    forAll(tables) { case (a, b, c, d) =>
      val p = StatTests.fisherExactGreater(a, b, c, d)
      assert(p >= 0.0 && p <= 1.0)
      // moving one unit from b,c into a,d (margins fixed) can't raise p
      if (b > 0 && c > 0) {
        val p2 = StatTests.fisherExactGreater(a + 1, b - 1, c - 1, d + 1)
        assert(p2 <= p + 1e-12, s"($a,$b,$c,$d): $p2 > $p")
      }
    }
  }

  test("hypergeometric PMF sums to 1 over its support") {
    val cfgs = for {
      n2 <- Gen.choose(1L, 40L); k2 <- Gen.choose(0L, 40L); d2 <- Gen.choose(1L, 40L)
    } yield (n2 + d2, k2 min (n2 + d2), n2)
    forAll(cfgs) { case (bigN, bigK, n) =>
      val lo = math.max(0L, bigK + n - bigN)
      val hi = math.min(bigK, n)
      val total = (lo to hi).map(k => StatTests.hypergeomPmf(k, bigN, bigK, n)).sum
      assert(math.abs(total - 1.0) < 1e-9, s"N=$bigN K=$bigK n=$n: $total")
    }
  }

  test("studentTCdf is monotone and symmetric") {
    val gen = for { t <- Gen.choose(-8.0, 8.0); df <- Gen.choose(1, 60) } yield (t, df)
    forAll(gen) { case (t, df) =>
      val f = StatTests.studentTCdf(t, df)
      assert(f >= 0.0 && f <= 1.0)
      assert(math.abs(f + StatTests.studentTCdf(-t, df) - 1.0) < 1e-9)
      assert(StatTests.studentTCdf(t + 0.5, df) >= f - 1e-12)
    }
  }

  test("AUC equals brute force on random generated datasets (sampled cases)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { _ =>
      val n = 50 + rnd.nextInt(200)
      val ties = 1 + rnd.nextInt(10)
      val data = Seq.fill(n)((rnd.nextInt(2), rnd.nextInt(ties * 4).toDouble / ties))
      val pos = data.filter(_._1 == 1).map(_._2)
      val neg = data.filter(_._1 == 0).map(_._2)
      if (pos.nonEmpty && neg.nonEmpty) {
        val brute = (for (p <- pos; q <- neg)
          yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum / (pos.size.toDouble * neg.size)
        val auc = graft.stats.Auc.aucDf(data.toDF("y", "s"), col("y") === 1, col("s"))
          .collect()(0).getAs[Double]("auc")
        assert(math.abs(auc - brute) < 1e-12, s"n=$n ties=$ties")
      }
    }
  }

  test("withGlobalRank yields the order-consistent permutation 1..N at any partition count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 400)
      // duplicate-heavy values force ties; the unique id tie-breaks
      vals <- Gen.listOfN(n, Gen.choose(0, 20))
    } yield vals
    forAll(gen, n = 6) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (v.toDouble, i.toLong) }.toDF("v", "id")
      for (parts <- Seq(1, 3, 32)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try {
          val got = graft.core.Relational
            .withGlobalRank(df, Seq(col("v"), col("id")), "rk", "n")
            .select("v", "id", "rk", "n").collect()
            .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          val n = vals.size.toLong
          assert(got.forall(_._4 === n))
          assert(got.map(_._3).sorted.toSeq === (1L to n), s"not a permutation at $parts parts")
          val expected = got.map(t => (t._1, t._2)).sortBy(identity).zipWithIndex
            .map { case ((v, id), i) => (v, id) -> (i + 1L) }.toMap
          got.foreach { case (v, id, rk, _) =>
            assert(rk === expected((v, id)), s"rank mismatch for ($v,$id) at $parts parts")
          }
        } finally spark.conf.set("spark.sql.shuffle.partitions", 8)
      }
    }
  }

  test("withGroupRank yields per-group permutations 1..N_g at any partition count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def check(rows: Seq[(Option[String], Double, Long)]): Unit = {
      val df = rows.toDF("g", "v", "id")
      val sizes = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      for (parts <- Seq(1, 3, 32)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try {
          val got = graft.core.Relational
            .withGroupRank(df, Seq("g"), Seq(col("v"), col("id")), "rk", "n")
            .select("g", "v", "id", "rk", "n").collect()
            .map(r => (Option(r.getString(0)), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          assert(got.length === rows.size, s"rows lost at $parts parts")
          got.groupBy(_._1).foreach { case (g, grp) =>
            assert(grp.forall(_._5 === sizes(g)), s"group total wrong for $g at $parts parts")
            assert(grp.map(_._4).sorted.toSeq === (1L to sizes(g)),
              s"not a permutation in $g at $parts parts")
            val expected = grp.map(t => (t._2, t._3)).sortBy(identity).zipWithIndex
              .map { case ((v, id), i) => (v, id) -> (i + 1L) }.toMap
            grp.foreach { case (_, v, id, rk, _) =>
              assert(rk === expected((v, id)), s"rank mismatch for ($g,$v,$id) at $parts parts")
            }
          }
        } finally spark.conf.set("spark.sql.shuffle.partitions", 8)
      }
    }
    val gen = for {
      n <- Gen.choose(1, 400)
      nGroups <- Gen.choose(1, 5) // few groups × many rows: the shape the operator targets
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, nGroups - 1), Gen.choose(0, 20)))
    } yield rows
    forAll(gen, n = 6) { rows =>
      check(rows.zipWithIndex.map { case ((g, v), i) => (Some(s"g$g"), v.toDouble, i.toLong) })
    }
    // a null key is a group of its own, not a row to drop
    check(Seq((Some("a"), 1.0, 0L), (None, 2.0, 1L), (Some("a"), 0.5, 2L), (None, 1.0, 3L)))
  }

  test("rank helpers stay exact with PAYLOAD columns over real-sized tie-heavy data") {
    // Regression for the round-12 branch-divergence bug: with a column
    // outside `order`, Catalyst pruned the offsets branch's scan to a
    // narrower schema, the two range exchanges stopped canonicalizing
    // equal, reuse never fired, and each branch sampled its own range
    // boundaries — nondeterministically wrong ranks (13k/15k off on the
    // orders table) that a tie-light 400-row fixture never showed. The
    // fix materializes the sorted+mid frame once; this pins it at the
    // exposing scale, payload column included, across repeated runs.
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select(col("o_orderstatus").as("g"), col("o_totalprice").as("v"),
        col("o_orderkey").as("t"))
    val rows = o.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val truthR = rows.sortBy(r => (r._2, r._3)).zipWithIndex
      .map { case ((g, v, t), i) => (g, v, t) -> (i + 1L) }.toMap
    val byG = rows.groupBy(_._1).map { case (g, s) =>
      g -> s.sortBy(r => (r._2, r._3)).zipWithIndex
        .map { case ((gg, v, t), i) => (gg, v, t) -> (i + 1L) }.toMap
    }
    (1 to 3).foreach { trial =>
      val gr = graft.core.Relational
        .withGlobalRank(o, Seq(col("v"), col("t")), "rk", "n")
        .collect().map(r => ((r.getString(0), r.getDouble(1), r.getLong(2)), r.getAs[Long]("rk")))
      assert(gr.forall { case (k, rk) => truthR(k) == rk },
        s"withGlobalRank wrong with payload column (trial $trial)")
      val grp = graft.core.Relational
        .withGroupRank(o, Seq("g"), Seq(col("v"), col("t")), "rk", "ng")
        .collect().map(r => ((r.getAs[String]("g"), r.getAs[Double]("v"), r.getAs[Long]("t")), r.getAs[Long]("rk")))
      assert(grp.forall { case (k, rk) => byG(k._1)(k) == rk },
        s"withGroupRank wrong with payload column (trial $trial)")
    }
  }

  test("mergeAggState over any batch split equals the one-shot partials") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 300)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 4), Gen.choose(-1000, 1000)))
      cut1 <- Gen.choose(0, n)
      cut2 <- Gen.choose(0, n)
    } yield (rows, math.min(cut1, cut2), math.max(cut1, cut2))
    forAll(gen, n = 6) { case (rows, c1, c2) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (s"g$g", v.toDouble / 7, i) }.toDF("k", "v", "i")
      val full = graft.core.Merge.aggPartials(df, Seq("k"), "v")
      val Seq(b0, b1, b2) = Seq(
        df.where(col("i") < c1),
        df.where(col("i") >= c1 && col("i") < c2),
        df.where(col("i") >= c2))
      val merged = graft.core.Merge.mergeAggState(
        graft.core.Merge.mergeAggState(
          graft.core.Merge.aggPartials(b0, Seq("k"), "v"),
          graft.core.Merge.aggPartials(b1, Seq("k"), "v"), Seq("k")),
        graft.core.Merge.aggPartials(b2, Seq("k"), "v"), Seq("k"))
      def canon(x: org.apache.spark.sql.DataFrame) = x.collect().map(r =>
        (r.getString(0), r.getLong(1), Option(r.getDecimal(2)).map(_.doubleValue),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      assert(canon(merged) === canon(full), s"cuts ($c1,$c2) diverged")
    }
  }

  test("scd2Fold(compressed(E1), E2) ≡ compressed(E1 ∪ E2) over random events and cutoffs") {
    // the u5 identity on GENERATED data: random per-key event sequences
    // (few attrs → dense runs and run-continuations across the split),
    // random time cutoff — every cutoff satisfies the append-only
    // contract, including cutoffs that leave a key entirely in state,
    // entirely in batch, or empty on either side.
    import org.apache.spark.sql.functions._
    val s2 = spark; import s2.implicits._
    val gen = for {
      n <- Gen.choose(20, 120)
      keys <- Gen.choose(2, 6)
      attrs <- Gen.choose(1, 3)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, keys.toLong)
        a <- Gen.choose(0, attrs - 1)
      } yield (k, a))
      cutFrac <- Gen.choose(0.0, 1.0)
    } yield (rows, cutFrac)
    forAll(gen, n = 8) { case (rows, cutFrac) =>
      // ts = index (unique per key only together with id = index too)
      val evRows = rows.zipWithIndex.map { case ((k, a), i) =>
        (k, i.toLong, i.toLong, s"a$a") }
      val ev = evRows.toDF("k", "ts", "id", "attr")
      val cutoff = (rows.size * cutFrac).toLong
      val folded = graft.core.Merge.scd2Fold(
        graft.core.Merge.scd2Compressed(ev.where(col("ts") < cutoff),
          "k", "ts", "id", "attr"),
        ev.where(col("ts") >= cutoff), "k", "ts", "id", "attr")
      val full = graft.core.Merge.scd2Compressed(ev, "k", "ts", "id", "attr")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), Option(r.get(4)), Option(r.get(5)))).toSet
      assert(canon(folded) === canon(full), s"cutoff=$cutoff rows=${rows.size}")
    }
  }

  test("weightedQuantiles equals the expanded-multiset quantile_cont on random data") {
    // the primitive now under a7/a21/a26/dq3/dq9/h7/v2: random grouped
    // weighted values (small domains → heavy ties, weights 0–3 → zero-
    // weight drops), checked against the literal definition: expand each
    // row w times, sort, pos = p·(W−1), linear interpolation.
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.functions._
    val ps = Seq(0.1, 0.25, 0.5, 0.9)
    val gen = for {
      n <- Gen.choose(5, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(0, 9)
        w <- Gen.choose(0L, 3L)
      } yield (g, v.toDouble, w))
    } yield rows
    def truth(vs: Seq[(Double, Long)], p: Double): Option[Double] = {
      val ex = vs.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
      if (ex.isEmpty) None else {
        val pos = p * (ex.size - 1)
        val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
        Some(ex(lo) + (pos - lo) * (ex(hi) - ex(lo)))
      }
    }
    forAll(gen, n = 8) { rows =>
      val df = rows.toDF("g", "v", "w")
      val got = graft.core.Relational
        .weightedQuantiles(df, "g", "v", "w", ps)
        .collect().map(r => r.getString(0) ->
          ps.indices.map(i => r.getDouble(2 + i))).toMap
      rows.groupBy(_._1).foreach { case (g, grows) =>
        val vs = grows.map(t => (t._2, t._3)).filter(_._2 > 0)
        val want = ps.map(truth(vs, _))
        if (want.head.isEmpty) assert(!got.contains(g))
        else ps.indices.foreach { i =>
          assert(math.abs(got(g)(i) - want(i).get) < 1e-9,
            s"g=$g p=${ps(i)}: got ${got(g)(i)} want ${want(i).get}")
        }
      }
    }
  }

  test("asofJoin equals the brute-force reference on random data, both directions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // small timestamp domain forces key+ts collisions and empty keys
    val cases = for {
      nl <- Gen.choose(5, 40); nr <- Gen.choose(0, 40)
      lrows <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
      rrows <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
    } yield (lrows, rrows)
    forAll(cases, n = 12) { case (lrows, rrows) =>
      val left = lrows.zipWithIndex
        .map { case ((k, t), i) => (k, new java.sql.Timestamp(t * 1000), i.toLong) }
        .toDF("k", "ts", "lid").repartition(3)
      // unique right rows per (k, ts) — the documented tie-free contract
      val right = rrows.distinct
        .map { case (k, t) => (k, new java.sql.Timestamp(t * 1000), k * 1000 + t) }
        .toDF("k", "ts", "rv").repartition(2)
      val rset = rrows.distinct
      def brute(backward: Boolean): Map[Long, Option[Long]] =
        lrows.zipWithIndex.map { case ((k, t), i) =>
          val cand =
            if (backward) rset.filter(r => r._1 == k && r._2 <= t).sortBy(_._2).lastOption
            else rset.filter(r => r._1 == k && r._2 >= t).sortBy(_._2).headOption
          i.toLong -> cand.map { case (rk, rt) => rk * 1000 + rt }
        }.toMap
      def run(dir: String) = graft.core.Joins
        .asofJoin(left, right, Seq("k"), "ts", Seq("rv"), direction = dir)
        .collect()
        .map(r => r.getAs[Long]("lid") ->
          Option(r.get(r.fieldIndex("rv"))).map(_.asInstanceOf[Long]))
        .toMap
      assert(run("backward") === brute(backward = true), "backward mismatch")
      assert(run("forward") === brute(backward = false), "forward mismatch")
    }
  }

  test("modSample is deterministic and subset-consistent across pct") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    def ids(pct: Int) = graft.core.Sampling.modSample(orders, "o_orderkey", pct)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val s10a = ids(10)
    val s10b = ids(10)
    val s20 = ids(20)
    assert(s10a === s10b)          // deterministic
    assert(s10a.subsetOf(s20))     // pct nesting (mod < pct)
    assert(s10a.nonEmpty && s20.size > s10a.size)
  }

  test("upsert equals the reference merge on random key sets; idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cases = for {
      nb <- Gen.choose(0, 40); nu <- Gen.choose(0, 20)
      bkeys <- Gen.listOfN(nb, Gen.choose(0L, 30L))
      ukeys <- Gen.listOfN(nu, Gen.choose(0L, 30L))
    } yield (bkeys.distinct, ukeys.distinct)
    forAll(cases, n = 12) { case (bkeys, ukeys) =>
      val base = bkeys.map(k => (k, s"b$k")).toDF("k", "v").repartition(3)
      val updates = ukeys.map(k => (k, s"u$k")).toDF("k", "v").repartition(2)
      val got = graft.core.Relational.upsert(base, updates, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expected = bkeys.map(k => k -> s"b$k").toMap ++ ukeys.map(k => k -> s"u$k").toMap
      assert(got === expected)
      assert(got.size === (bkeys ++ ukeys).distinct.size)
      // idempotent: re-applying the same batch changes nothing
      val again = graft.core.Relational
        .upsert(graft.core.Relational.upsert(base, updates, Seq("k")), updates, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(again === expected)
    }
  }

  test("latestWins over random batch splits equals one-shot; scd2 partitions the history") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // random changelog: (key, version) unique by construction
    val cases = for {
      n <- Gen.choose(1, 30)
      keys <- Gen.listOfN(n, Gen.choose(0L, 9L))
      split <- Gen.choose(1, 5)
    } yield (keys.zipWithIndex.map { case (k, v) => (k, v + 1) }, split)
    forAll(cases, n = 8) { case (log, split) =>
      val expected = log.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      // apply in `split` version-interleaved batches via latestWins
      val batches = log.zipWithIndex.groupBy(_._2 % split).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      val empty = Seq.empty[(Long, Int)].toDF("k", "version")
      val finalState = batches.foldLeft(empty) { (st, b) =>
        graft.core.Merge.latestWins(st, b.toDF("k", "version"), "k", "version")
      }
      val got = finalState.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === expected, s"log=$log split=$split")
      // scd2 invariants on the same log: per key, intervals chain over
      // the sorted versions and exactly the max version is current
      val hist = graft.core.Merge.scd2FromChangelog(log.toDF("k", "version"), "k", "version")
        .collect().map(r => (r.getLong(0), r.getAs[Int]("valid_from"),
          Option(r.getAs[Integer]("valid_to")).map(_.toInt), r.getAs[Boolean]("is_current")))
      log.groupBy(_._1).foreach { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        val rows = hist.filter(_._1 == k).sortBy(_._2)
        assert(rows.map(_._2).toSeq == sorted)
        assert(rows.map(_._3).toSeq == sorted.drop(1).map(Some(_)) :+ None)
        assert(rows.count(_._4) == 1 && rows.last._4)
      }
    }
  }

  test("shuffleShard permutation is invariant to the shuffle-partition count") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    def run(): Map[Long, (Long, Int)] =
      graft.llm.Curation.shuffleShard(docs, "doc_id", nShards = 4, seed = "p")
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("pos"), r.getAs[Int]("shard"))))
        .toMap
    val results = Seq(1, 3, 32).map { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try run() finally spark.conf.set("spark.sql.shuffle.partitions", 8)
    }
    assert(results.distinct.size === 1,
      "shuffleShard must assign identical (pos, shard) at any partition count")
  }

  test("w12 EWMA closed form equals the sequential recursion on random series") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wgt = 0.8
    val series = for {
      n <- Gen.choose(1, 40)
      xs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
    } yield xs
    forAll(series, n = 20) { xs =>
      // reference: pandas ewm(alpha=0.2, adjust=True) recursion
      var num = 0.0; var den = 0.0
      val expected = xs.map { x =>
        num = num * wgt + x; den = den * wgt + 1.0; num / den
      }.last
      val df = xs.zipWithIndex.map { case (x, i) => (1L, i, x) }
        .toDF("user_id", "i", "x")
      val cum = Window.partitionBy(col("user_id")).orderBy(col("i"))
      val got = df
        .withColumn("nume", sum(col("x") * pow(lit(wgt), -col("i"))).over(cum))
        .withColumn("deno", sum(pow(lit(wgt), -col("i"))).over(cum))
        .where(col("i") === xs.size - 1)
        .select(col("nume") / col("deno"))
        .head.getDouble(0)
      assert(math.abs(got - expected) <= 1e-9 * math.max(1.0, math.abs(expected)),
        s"closed-form EWMA drifted: got $got expected $expected n=${xs.size}")
    }
  }

  test("quantile magnitude rule (t26): interpolation trees agree to round-6 at " +
      "second magnitudes, diverge past it at micro magnitudes; " +
      "weightedQuantiles is pinned to the vlo + f*(vhi-vlo) tree") {
    // The rule behind t26's micros→seconds rescale: linear quantile
    // interpolation has two algebraically-equal evaluation trees,
    //   f1 = vlo + f·(vhi − vlo)      (this repo / Spark percentile)
    //   f2 = vlo·(1 − f) + vhi·f      (the other common engine tree)
    // whose results differ by a few ulps of the VALUE magnitude. At
    // 1e11 (micro timestamps/gaps) ulp ≈ 1.6e-5, so the 6th decimal of
    // a round(…,6) contract can flip between engines; at ≤1e5
    // (seconds) ulp ≈ 1.6e-11 and round-6 is safe. Any future
    // timestamp-quantile operator must divide to seconds BEFORE the
    // quantile, not after — this pins both halves executably.
    def f1(vlo: Double, vhi: Double, f: Double) = vlo + f * (vhi - vlo)
    def f2(vlo: Double, vhi: Double, f: Double) = vlo * (1.0 - f) + vhi * f
    val micsPairs = for {
      base <- Gen.choose(1.0e11, 9.0e11)
      gap <- Gen.choose(1.0, 1.0e7)
      f <- Gen.choose(0.0, 1.0)
    } yield (base, base + gap, f)
    var microDivergences = 0
    forAll(micsPairs, n = 400) { case (vlo, vhi, f) =>
      val d = math.abs(f1(vlo, vhi, f) - f2(vlo, vhi, f))
      assert(d <= 1.0e-3, s"trees drifted beyond the documented envelope: $d")
      if (d > 5.0e-7) microDivergences += 1 // flips round(…,6)
    }
    assert(microDivergences > 0,
      "no micro-magnitude case crossed round-6 — the hazard this rule exists for " +
        "is no longer demonstrated; re-derive the rule before trusting it")
    val secPairs = for {
      base <- Gen.choose(0.0, 1.0e5)
      gap <- Gen.choose(1.0e-6, 10.0)
      f <- Gen.choose(0.0, 1.0)
    } yield (base, base + gap, f)
    forAll(secPairs, n = 400) { case (vlo, vhi, f) =>
      assert(math.abs(f1(vlo, vhi, f) - f2(vlo, vhi, f)) <= 5.0e-7,
        s"second-magnitude trees crossed round-6 at ($vlo, $vhi, $f)")
    }
    // and the PRODUCTION operator uses exactly f1 — bit-for-bit at both
    // magnitudes — so a rewrite that silently changes the tree goes red
    import spark.implicits._
    import org.apache.spark.sql.functions._
    for (scale <- Seq(1.0, 1.0e6)) {
      val vals = Seq(11L, 23L, 47L, 102L, 211L, 400L, 593L, 1201L)
        .map(v => v * 97.0 * scale + 1.0e11 * (if (scale > 1) 1 else 0))
      val df = vals.map(v => ("g", v, 1L)).toDF("g", "v", "w")
      val got = graft.core.Relational
        .weightedQuantiles(df, "g", "v", "w", ps = Seq(0.5, 0.9, 0.99))
      val sorted = vals.sorted
      def ref(p: Double): Double = {
        val pos = p * (sorted.size - 1)
        val lo = pos.toLong.toInt
        val hi = math.ceil(pos).toLong.toInt
        f1(sorted(lo), sorted(hi), pos - lo)
      }
      val r = got.select(col("q_0_5"), col("q_0_9"), col("q_0_99")).head()
      assert(r.getDouble(0) === ref(0.5) && r.getDouble(1) === ref(0.9) &&
        r.getDouble(2) === ref(0.99),
        s"weightedQuantiles no longer evaluates the f1 tree at scale $scale")
    }
  }
}
