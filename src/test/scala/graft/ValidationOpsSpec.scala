package graft

import org.apache.spark.sql.functions._
import graft.core.Validation
import graft.llm.{Dedup, Multimodal, TextStats}

/** Round-11 operator specs: drift PSI, robust MAD outliers, k-anonymity,
  * the REAL animated-GIF frame parse, calendar gap-fill / funnel query
  * semantics, and quality-aware keep-best dedup resolution. */
class ValidationOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- driftPsi ------------------------------------------------------------

  test("driftPsi: identical snapshots score 0; a shifted snapshot scores big") {
    val ref = (1 to 1000).map(_.toDouble).toDF("v")
    val same = Validation.driftPsi(ref, ref, "v", nBins = 10).collect()
    assert(same.length == 10)
    assert(same.map(_.getAs[Long]("n_ref")).sum == 1000L)
    same.foreach { r =>
      assert(r.getAs[Long]("n_ref") == r.getAs[Long]("n_cur"))
      assert(math.abs(r.getAs[Double]("psi_total")) < 1e-12)
    }
    // current shifted hard into the top of the reference range
    val cur = (1 to 1000).map(i => 800.0 + i * 0.2).toDF("v")
    val psi = Validation.driftPsi(ref, cur, "v", nBins = 10)
      .select("psi_total").head().getDouble(0)
    assert(psi > 0.25, s"shifted snapshot must trip the PSI action gate, got $psi")
  }

  test("driftPsi: out-of-range current values clamp into edge bins; empty bins stay finite") {
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val cur = Seq(-500.0, -1.0, 50.0, 1000.0).toDF("v")
    val rows = Validation.driftPsi(ref, cur, "v", nBins = 5).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("n_cur")).sum == 4L) // nothing dropped
    assert(rows.head.getAs[Long]("n_cur") == 2L)       // clamped low
    assert(rows.last.getAs[Long]("n_cur") == 1L)       // clamped high
    rows.foreach(r => assert(!r.getAs[Double]("psi_contrib").isInfinite))
  }

  // ---- robustOutliers ------------------------------------------------------

  test("robustOutliers: one extreme value among tight data is the only outlier") {
    val df = ((1 to 99).map(i => ("a", 100.0 + (i % 7))) :+ (("a", 100000.0)))
      .toDF("g", "v")
    val r = Validation.robustOutliers(df, "g", "v").head()
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(math.abs(r.getAs[Double]("med") - 103.0) < 1.0)
  }

  test("robustOutliers: zero-MAD group flags any deviation from the constant") {
    val df = (Seq.fill(50)(("c", 5.0)) :+ (("c", 5.001))).toDF("g", "v")
    val r = Validation.robustOutliers(df, "g", "v").head()
    assert(r.getAs[Double]("mad") == 0.0)
    assert(r.getAs[Long]("n_outliers") == 1L, "minMad guard must catch deviation at zero spread")
  }

  // ---- kAnonymize ----------------------------------------------------------

  test("kAnonymize: every input row is accounted for and every release meets k") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val total = df.count()
    val out = Validation.kAnonymize(df, Seq("c_nationkey", "c_mktsegment"), k = 15L).collect()
    assert(out.map(_.getAs[Long]("n")).sum == total, "release must account for every row")
    out.filter(_.getAs[Int]("level") <= 1)
      .foreach(r => assert(r.getAs[Long]("n") >= 15L, s"released group below k: $r"))
    val l1 = out.filter(_.getAs[Int]("level") == 1)
    l1.foreach(r => assert(r.getAs[String]("c_mktsegment") == "*"))
    assert(out.count(_.getAs[Int]("level") == 2) <= 1)
  }

  // ---- animated-GIF container parse ---------------------------------------

  test("gifFrameStats: true frame count from the container, closed-form means, F<n collapse") {
    val docs = Seq(3L, 5L, 7L).toDF("doc_id") // F = id%5+2 -> 5, 2, 4 frames
    val rows = Multimodal.gifFrameStats(Multimodal.fromDocumentsGif(docs), n = 3)
      .orderBy("media_id", "slot").collect()
    // id=5 has F=2: slots {0,1} collapse to frame 0 -> only 2 rows survive
    assert(rows.count(_.getAs[Long]("media_id") == 5L) == 2)
    assert(rows.count(_.getAs[Long]("media_id") == 3L) == 3)
    rows.foreach { r =>
      val (id, f) = (r.getAs[Long]("media_id"), r.getAs[Int]("frame_idx"))
      val nf = r.getAs[Int]("n_frames")
      assert(nf == (id % 5 + 2).toInt, "frame count must come from the GIF container")
      assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 12)
      val expect = Math.floorMod(id * 17 + f * 29, 256).toDouble
      assert(math.abs(r.getAs[Double]("mean_lum") - expect) < 1e-9,
        s"id=$id frame=$f: decoded mean must be the closed form")
    }
    // slot -> frame mapping: first and last frames always sampled
    val id3 = rows.filter(_.getAs[Long]("media_id") == 3L).map(_.getAs[Int]("frame_idx"))
    assert(id3.sameElements(Array(0, 2, 4)))
  }

  test("decodeWavs: real RIFF parse — header rate/frames, exact constant-PCM stats") {
    val docs = Seq(2L, 7L, 811L).toDF("doc_id")
    val rows = Multimodal.decodeWavs(Multimodal.fromDocumentsWav(docs))
      .orderBy("media_id").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val level = (Math.floorMod(id * 37, 30000) - 15000).toDouble
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Long]("n_samples") == id % 400 + 100)
      assert(r.getAs[Double]("mean_sample") == level, s"id=$id mean")
      assert(r.getAs[Double]("rms") == math.abs(level), s"id=$id rms (negative levels too)")
    }
    // id=811: level = 811*37 % 30000 - 15000 = 30007 % 30000 - 15000 = -14993 < 0
    assert(rows.last.getAs[Double]("mean_sample") < 0.0,
      "fixture must exercise a negative PCM level")
  }

  test("syntheticGif round-trips through a second parse identically") {
    val bytes = Multimodal.syntheticGif(16, 12, Seq(0, 128, 255))
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
    reader.setInput(iis, false)
    assert(reader.getNumImages(true) == 3)
    reader.dispose(); iis.close()
  }

  // ---- t5/t6 query semantics over a planted mini corpus --------------------

  private def plantEvents(rows: Seq[(Long, String, String, Long, Double)]): String = {
    val dir = tempDir("graft_valspec").toString
    rows.toDF("user_id", "event_type", "tss", "event_id", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("t5_gapfill: calendar completion + forward fill on a planted series") {
    // user 1: days 1,2,4 -> span 1..4, one gap day (3) carrying day-2's value
    val dir = plantEvents(Seq(
      (1L, "view", "2024-01-01 10:00:00", 1L, 10.0),
      (1L, "view", "2024-01-02 10:00:00", 2L, 20.0),
      (1L, "view", "2024-01-04 10:00:00", 3L, 40.0)))
    val r = SparkEntry.queries("t5_gapfill")(spark, dir).head()
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Long]("n_gap_days") == 1L)
    // 10 + 20 + 20 (ffilled) + 40
    assert(math.abs(r.getAs[Double]("sum_filled") - 90.0) < 1e-9)
  }

  test("t6_funnel: strict event ordering — click before the first view does not convert") {
    val dir = plantEvents(Seq(
      // user 1: full ordered funnel
      (1L, "view", "2024-01-01 10:00:00", 1L, 0.0),
      (1L, "click", "2024-01-01 10:05:00", 2L, 0.0),
      (1L, "purchase", "2024-01-01 10:10:00", 3L, 0.0),
      // user 2: click BEFORE its first view -> no click step, no funnel
      (2L, "click", "2024-01-01 09:00:00", 4L, 0.0),
      (2L, "view", "2024-01-01 10:00:00", 5L, 0.0),
      (2L, "purchase", "2024-01-01 11:00:00", 6L, 0.0),
      // user 3: view only
      (3L, "view", "2024-01-01 10:00:00", 7L, 0.0)))
    val r = SparkEntry.queries("t6_funnel")(spark, dir).head()
    assert(r.getAs[Long]("n_users") == 3L)
    assert(r.getAs[Long]("n_view") == 3L)
    assert(r.getAs[Long]("n_view_click") == 1L)
    assert(r.getAs[Long]("n_full_funnel") == 1L)
    assert(r.getAs[Long]("funnel_us") == 600L * 1000000L)
  }

  // ---- degenerate inputs ---------------------------------------------------

  test("driftPsi: empty current snapshot — all mass missing, still finite") {
    // skewed reference: an empty current smooths to UNIFORM proportions,
    // so a uniform reference would legitimately score 0 — the drift
    // signal for an empty drop needs shape in the baseline
    val ref = ((1 to 90).map(_ => 1.0) ++ (1 to 10).map(_ => 100.0)).toDF("v")
    val cur = Seq.empty[Double].toDF("v")
    val rows = Validation.driftPsi(ref, cur, "v", nBins = 4).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("n_cur")).sum == 0L)
    rows.foreach { r =>
      val psi = r.getAs[Double]("psi_total")
      assert(!psi.isNaN && !psi.isInfinite && psi > 0.25,
        s"skewed baseline vs empty drop must trip the gate, got $psi")
    }
  }

  test("driftPsi: constant reference column (vmax == vmin) lands everything in bin 0") {
    val ref = Seq.fill(20)(7.0).toDF("v")
    val cur = Seq.fill(5)(7.0).toDF("v")
    val rows = Validation.driftPsi(ref, cur, "v", nBins = 4).collect()
    assert(rows.find(_.getAs[Int]("bin") == 0).get.getAs[Long]("n_ref") == 20L)
    assert(rows.map(_.getAs[Long]("n_cur")).sum == 5L)
  }

  test("robustOutliers ignores nulls in the value column") {
    val df = ((1 to 20).map(i => ("g", java.lang.Double.valueOf(50.0 + i % 3)))
      :+ (("g", null.asInstanceOf[java.lang.Double]))).toDF("g", "v")
    val r = Validation.robustOutliers(df, "g", "v").head()
    assert(r.getAs[Long]("n") == 20L) // count(v) skips the null
  }

  test("kAnonymize: k=1 releases every group untouched at level 0") {
    val df = Seq((1, "a"), (1, "b"), (2, "a")).toDF("x", "y")
    val out = Validation.kAnonymize(df, Seq("x", "y"), k = 1L).collect()
    assert(out.length == 3 && out.forall(_.getAs[Int]("level") == 0))
    assert(out.map(_.getAs[Long]("n")).sum == 3L)
  }

  // ---- gate properties -----------------------------------------------------

  test("driftPsi is exactly invariant under positive affine transforms of the value") {
    // v -> a·v + b maps bins affinely; with integer data the scaled
    // operands are exact, division is correctly rounded, and the true
    // quotients are equal — so bin assignment and PSI match BITWISE
    val rnd = new scala.util.Random(7)
    val refV = Seq.fill(300)(rnd.nextInt(1000))
    val curV = Seq.fill(200)(rnd.nextInt(1200) - 100)
    def psi(a: Int, b: Int): Seq[(Int, Long, Long, Double)] =
      Validation.driftPsi(
          refV.map(v => (v * a + b).toDouble).toDF("v"),
          curV.map(v => (v * a + b).toDouble).toDF("v"), "v", nBins = 10)
        .select("bin", "n_ref", "n_cur", "psi_total").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val base = psi(1, 0)
    Seq((3, 17), (7, -40), (1000, 123456)).foreach { case (a, b) =>
      assert(psi(a, b) === base, s"PSI must be affine-invariant (a=$a b=$b)")
    }
  }

  test("kAnonymize conserves rows and meets k for every random k") {
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(400)((rnd.nextInt(8), ('a' + rnd.nextInt(5)).toChar.toString))
      .toDF("x", "y")
    val total = df.count()
    Seq(1L, 3L, 10L, 25L, 1000L).foreach { k =>
      val out = Validation.kAnonymize(df, Seq("x", "y"), k).collect()
      assert(out.map(_.getAs[Long]("n")).sum == total, s"k=$k must conserve rows")
      out.filter(_.getAs[Int]("level") <= 1)
        .foreach(r => assert(r.getAs[Long]("n") >= k, s"k=$k released group below k: $r"))
    }
  }

  // ---- RunQuality CLI ------------------------------------------------------

  test("RunQuality gate runs end-to-end in self-split mode and writes all sections") {
    val out = tempDir("graft_rq").toString
    RunQuality.gateOnce(spark, "/root/testdata/sf0.001/orders.parquet", out)
    Seq("constraints.csv", "drift_psi.csv", "outliers.csv", "shape.csv",
        "quality_summary.json")
      .foreach { f =>
        assert(new java.io.File(s"$out/$f").exists(), s"missing $f")
      }
    val summary = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/quality_summary.json")))
    assert(summary.contains("\"admit\""))
    // self-split of one snapshot: the value distributions cannot drift
    val drift = scala.io.Source.fromFile(s"$out/drift_psi.csv").getLines().toSeq
    val price = drift.find(_.startsWith("o_totalprice")).get
    assert(price.endsWith("true"), s"self-split totalprice must be stable: $price")
  }

  test("RunQuality gate flips admit=false on planted drift and names the column") {
    val dir = tempDir("graft_rq_fail").toString
    // reference: metric uniform over [0, 997); current: the same shape
    // shifted far right — every current value lands in the reference's
    // top bin, PSI >> the 0.25 action threshold. The id column is
    // identical on both sides, so only `metric` should trip.
    val ref = spark.range(0, 4000)
      .select(col("id"), (col("id") % 997).cast("double").as("metric"))
    val cur = spark.range(0, 4000)
      .select(col("id"), ((col("id") % 997) + lit(5000.0)).cast("double").as("metric"))
    ref.write.mode("overwrite").parquet(s"$dir/ref.parquet")
    cur.write.mode("overwrite").parquet(s"$dir/cur.parquet")
    val out = s"$dir/out"
    val admit = RunQuality.gateOnce(spark, s"$dir/cur.parquet", out,
      refPath = Some(s"$dir/ref.parquet"))
    assert(!admit, "planted drift must fail the gate")
    val drift = scala.io.Source.fromFile(s"$out/drift_psi.csv").getLines().toSeq
    val metric = drift.find(_.startsWith("metric,")).get
    assert(metric.endsWith("false"), s"metric column must be flagged unstable: $metric")
    val id = drift.find(_.startsWith("id,")).get
    assert(id.endsWith("true"), s"undrifted id column must stay stable: $id")
    val summary = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/quality_summary.json")))
    assert(summary.contains("\"admit\": false") || summary.contains("\"admit\":false"),
      summary)
  }

  test("functionalDeps: key FD holds; planted violation counted by group and row") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Some(10)), (2L, "a", Some(11)),           // g=a -> two ks (violates g->k)
      (3L, "b", Some(20)), (3L, "b", Some(21)),           // k=3 -> two vs (violates k->v)
      (4L, "c", None), (4L, "c", None)                    // all-null dependent: NOT a violation
    ).toDF("k", "g", "v")
    val out = Validation.functionalDeps(df, Seq(
        Seq("k") -> "v", Seq("k") -> "g", Seq("g") -> "k"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val kv = out(("k", "v"))
    assert(!kv.getAs[Boolean]("holds") && kv.getAs[Long]("n_violating_groups") == 1L &&
      kv.getAs[Long]("n_violating_rows") == 2L && kv.getAs[Long]("max_dependents") == 2L)
    val kg = out(("k", "g"))
    assert(kg.getAs[Boolean]("holds") && kg.getAs[Long]("n_groups") == 4L,
      "k -> g must hold (k=4's null-free g is single-valued; null v irrelevant)")
    val gk = out(("g", "k"))
    assert(!gk.getAs[Boolean]("holds") && gk.getAs[Long]("n_violating_rows") == 2L)
    intercept[IllegalArgumentException] {
      Validation.functionalDeps(df, Seq(Seq("k") -> "k"))
    }
  }

  test("referentialIntegrity: orphans counted, null FKs exempt, dup parents once") {
    import spark.implicits._
    val child = Seq((1L, Some(10L)), (2L, Some(10L)), (3L, Some(99L)), (4L, None))
      .toDF("id", "fk")
    val parent = Seq(10L, 10L, 20L).toDF("pk") // dup pk must not double-count
    val r = Validation.referentialIntegrity(
      Seq(("c_p", child, "fk", parent, "pk"))).head()
    assert(r.getAs[Long]("n_child") == 3L, "null FK row must be exempt")
    assert(r.getAs[Long]("n_orphans") == 1L && !r.getAs[Boolean]("holds"))
    assert(math.abs(r.getAs[Double]("orphan_frac") - 0.333333) < 1e-6)
  }

  test("skewProfile: planted hot key dominates max share and skew ratio") {
    import spark.implicits._
    // 90 rows on key 1, one row each on keys 2..11 -> 100 rows, 11 keys
    val df = (Seq.fill(90)(1L) ++ (2L to 11L)).toDF("k")
    val r = Validation.skewProfile(df, Seq("k")).head()
    assert(r.getAs[Long]("n_rows") == 100L && r.getAs[Long]("n_keys") == 11L)
    assert(r.getAs[Long]("max_key_rows") == 90L)
    assert(math.abs(r.getAs[Double]("max_key_share") - 0.9) < 1e-9)
    assert(math.abs(r.getAs[Double]("skew_ratio") - 9.9) < 1e-9) // 90/(100/11)
    assert(r.getAs[Double]("p50_key_rows") == 1.0)
  }

  // ---- d14 keep-best -------------------------------------------------------

  test("keep-best resolution keeps the highest-quality member, not the min id") {
    // two near-identical docs; the LATER id is longer/cleaner -> higher x3 quality
    val low = "the data pipeline"
    val high = "the data pipeline processes documents with care and the " +
      "quality of the corpus is maintained by the filtering stage"
    val docs = Seq((1L, low + " x " + high), (2L, high + " x " + low + " extended"),
      (3L, "unrelated text entirely about other topics and words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", w = 5, minJaccard = 0.1)
    assert(pairs.where((col("id_a") === 1L) && (col("id_b") === 2L)).count() == 1L,
      "fixture must produce the 1-2 near-dup pair")
    val clusters = Dedup.dupClusters(pairs)
    val scored = docs.select(col("doc_id"), round(TextStats.qualityScore(col("text")), 6).as("q"))
    val best = clusters.join(scored, clusters("id") === scored("doc_id"))
      .groupBy(col("cluster"))
      .agg(expr("max_by(doc_id, struct(q, -doc_id))").as("kept_id"), max(col("q")).as("kept_q"))
      .head()
    val qs = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = if (qs(2L) > qs(1L)) 2L else if (qs(1L) > qs(2L)) 1L else 1L
    assert(best.getAs[Long]("kept_id") == expected,
      s"kept ${best.getAs[Long]("kept_id")} but qualities are $qs")
  }

  // ---- t8 rolling anomalies ------------------------------------------------

  test("rollingAnomalies flags a planted spike against the trailing window only") {
    // user 1: ten stable points one minute apart, then a spike; user 2:
    // too few prior points, never scored
    val stable = (0 until 10).map(i => (1L, i * 60_000_000L, 10.0 + (i % 2) * 0.2))
    val spike = Seq((1L, 10 * 60_000_000L, 500.0))
    val sparse = Seq((2L, 0L, 1.0), (2L, 60_000_000L, 999.0))
    val df = (stable ++ spike ++ sparse).toDF("user_id", "tsu", "value")
    val out = Validation.rollingAnomalies(df, "user_id", "tsu", "value",
      windowMicros = 3600L * 1000000L, minPoints = 5, k = 3.0)
    val anomalies = out.where(col("is_anomaly")).collect()
    assert(anomalies.length == 1, out.collect().mkString("\n"))
    assert(anomalies.head.getAs[Long]("tsu") == 10 * 60_000_000L)
    // sparse user: n_prior below minPoints -> z null, never flagged
    assert(out.where(col("user_id") === 2L && col("z").isNotNull).count() == 0)
    // the early stable points (n_prior < 5) are unscored, later ones scored
    assert(out.where(col("user_id") === 1L && col("z").isNotNull).count() == 6)
  }

  test("rollingAnomalies: the window is trailing — a level shift re-normalizes") {
    // step function: fifty points at 10, fifty at 100 — only the first
    // point after the step is anomalous; once the trailing hour fills
    // with the new level the z-scores settle again
    val rows = (0 until 50).map(i => (1L, i * 60_000_000L, 10.0)) ++
      (50 until 100).map(i => (1L, i * 60_000_000L, 100.0))
    val out = Validation.rollingAnomalies(rows.toDF("user_id", "tsu", "value"),
      "user_id", "tsu", "value", windowMicros = 1800L * 1000000L, minPoints = 5, k = 3.0)
    val flaggedTs = out.where(col("is_anomaly")).collect()
      .map(_.getAs[Long]("tsu") / 60_000_000L).sorted
    assert(flaggedTs.headOption.contains(50L), s"step point must flag: ${flaggedTs.toSeq}")
    assert(!flaggedTs.exists(_ >= 85L),
      s"after the trailing window refills, the new level is normal: ${flaggedTs.toSeq}")
  }

  // ---- dq6 profile diff ----------------------------------------------------

  test("profileDiff reports n, null fraction, exact distinct, and mean shift per column") {
    val ref = Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "b"), (3L, Some(30.0), "a"),
      (4L, None, "c")).toDF("k", "v", "s")
    val cur = Seq((5L, Some(40.0), "a"), (6L, None, "a"), (7L, None, "a"))
      .toDF("k", "v", "s")
    val out = Validation.profileDiff(ref, cur, numCols = Seq("v"), strCols = Seq("s"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val v = out("v")
    assert(v.getAs[Long]("n_ref") == 3 && v.getAs[Long]("n_cur") == 1)
    assert(math.abs(v.getAs[Double]("null_frac_ref") - 0.25) < 1e-12)
    assert(math.abs(v.getAs[Double]("null_frac_cur") - 2.0 / 3) < 1e-12)
    assert(v.getAs[Long]("distinct_ref") == 3 && v.getAs[Long]("distinct_cur") == 1)
    assert(math.abs(v.getAs[Double]("mean_ref") - 20.0) < 1e-12)
    assert(math.abs(v.getAs[Double]("mean_shift") - 20.0) < 1e-12)
    val s = out("s")
    assert(s.getAs[Long]("distinct_ref") == 3 && s.getAs[Long]("distinct_cur") == 1)
    assert(s.isNullAt(s.fieldIndex("mean_ref")) && s.isNullAt(s.fieldIndex("mean_shift")))
  }

  // ---- chiSquareDrift ------------------------------------------------------

  test("chiSquareDrift: identical mixes don't fire; a planted shift does") {
    val ref = Seq.tabulate(900)(i => ("c" + (i % 3)): String).toDF("cat")
    val same = SingleRow.of(Validation.chiSquareDrift(ref, ref, "cat"))
    assert(same.getAs[Long]("n_ref") == 900 && same.getAs[Long]("n_cur") == 900)
    assert(same.getAs[Long]("k") == 3 && same.getAs[Long]("df") == 2)
    assert(same.getAs[Double]("chi2") == 0.0 && !same.getAs[Boolean]("drifted"))
    // current: c2's share doubles (50% vs 33%) — a real mix shift
    val cur = Seq.tabulate(1200)(i => ("c" + ((i % 4) min 2)): String).toDF("cat")
    val hit = SingleRow.of(Validation.chiSquareDrift(ref, cur, "cat"))
    assert(hit.getAs[Double]("chi2") > 0.0)
    assert(hit.getAs[Boolean]("drifted"), s"V=${hit.getAs[Double]("cramers_v")}")
  }

  test("chiSquareDrift: a category absent from one side still contributes") {
    val ref = Seq.fill(100)("a").toDF("cat")
    val cur = (Seq.fill(50)("a") ++ Seq.fill(50)("b")).toDF("cat")
    val r = SingleRow.of(Validation.chiSquareDrift(ref, cur, "cat"))
    assert(r.getAs[Long]("k") == 2, "absent-on-ref category must appear as a 0 cell")
    // driver-side truth: cells a=(100,50), b=(0,50); margins 150/50, 100/100
    val terms = Seq((100.0, 50.0, 150.0), (0.0, 50.0, 50.0)).map { case (or, oc, rt) =>
      val (er, ec) = (rt * 100 / 200, rt * 100 / 200)
      (or - er) * (or - er) / er + (oc - ec) * (oc - ec) / ec
    }
    val expected = BigDecimal(terms.map(t =>
      BigDecimal(t).setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getAs[Double]("chi2") - expected) < 1e-9,
      s"chi2=${r.getAs[Double]("chi2")} expected=$expected")
  }

  // ---- vadSegments ---------------------------------------------------------

  test("vadSegments recovers the planted voiced/silence pattern through a real codec") {
    val docs = Seq(0L, 1L, 2L, 3L, 17L, 811L).toDF("doc_id")
    val rows = Multimodal.vadSegments(Multimodal.fromDocumentsWavVad(docs))
      .orderBy("media_id").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val nb = (Math.floorMod(id, 20) + 10).toInt
      val voiced = (0 until nb).map(b => Math.floorMod(b + id, 4) < 2)
      val runs = voiced.foldLeft(List.empty[Int]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
        case (acc, true) => 1 :: acc
        case (acc, false) if acc.nonEmpty && acc.head == 0 => acc
        case (acc, false) => 0 :: acc
      }.filter(_ > 0)
      assert(r.getAs[Long]("n_blocks") == nb, s"id=$id n_blocks")
      assert(r.getAs[Long]("n_voiced") == voiced.count(identity), s"id=$id n_voiced")
      assert(r.getAs[Long]("n_segments") == runs.size, s"id=$id n_segments")
      assert(r.getAs[Long]("longest_run") == runs.max, s"id=$id longest_run")
    }
  }

  test("vadSegments: all-silent → 0 segments; constant-loud → 1; short clip → 0 blocks") {
    val clips = Seq(
      (1L, "audio", Multimodal.syntheticWav(8000, 480, 0.toShort)),      // silent
      (2L, "audio", Multimodal.syntheticWav(8000, 480, 12000.toShort)),  // loud
      (3L, "audio", Multimodal.syntheticWav(8000, 100, 12000.toShort)))  // < 1 block
      .toDF("media_id", "kind", "payload")
    val byId = Multimodal.vadSegments(clips).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val silent = byId(1L)
    assert(silent.getAs[Long]("n_blocks") == 3 && silent.getAs[Long]("n_voiced") == 0)
    assert(silent.getAs[Long]("n_segments") == 0 && silent.getAs[Long]("longest_run") == 0)
    assert(silent.getAs[Double]("voiced_frac") == 0.0)
    val loud = byId(2L)
    assert(loud.getAs[Long]("n_segments") == 1 && loud.getAs[Long]("longest_run") == 3)
    assert(loud.getAs[Double]("voiced_frac") == 1.0)
    val short = byId(3L)
    assert(short.getAs[Long]("n_blocks") == 0 && short.getAs[Double]("voiced_frac") == 0.0)
  }

  // ---- t19 sweep-line semantics over a planted mini corpus -----------------

  test("t19_max_concurrency: overlap counts, end-exclusive boundary, 30-min session split") {
    // users 1 and 2 overlap (both sessions span ~10:00-10:05) → max 2.
    // user 3's single event lands EXACTLY at user 4's session end + 0:
    // 4's session is [09:00:00, 09:00:10.000001) (end = last event + 1µs),
    // 3's single event at 09:00:10.000001 starts a new 1µs session at the
    // same instant — end-EXCLUSIVE, so they never overlap (max stays 1
    // in that window). user 5 has two events 40 min apart → TWO sessions
    // (4 boundaries), not one.
    val dir = plantEvents(Seq(
      (1L, "view", "2024-01-01 10:00:00", 1L, 1.0),
      (1L, "view", "2024-01-01 10:05:00", 2L, 1.0),
      (2L, "view", "2024-01-01 10:01:00", 3L, 1.0),
      (4L, "view", "2024-01-01 09:00:00", 4L, 1.0),
      (4L, "view", "2024-01-01 09:00:10", 5L, 1.0),
      (3L, "view", "2024-01-01 09:00:10.000001", 6L, 1.0),
      (5L, "view", "2024-01-02 08:00:00", 7L, 1.0),
      (5L, "view", "2024-01-02 08:40:00", 8L, 1.0)))
    val out = SparkEntry.queries("t19_max_concurrency")(spark, dir).collect()
      .map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("max_concurrency"), r.getAs[Long]("n_boundaries")))
      .toMap
    // day 1: sessions u1[10:00,10:05+1µs) u2[10:01,10:01+1µs) overlap → 2;
    //   u4/u3 back-to-back never overlap. 4 sessions → 7 boundary rows,
    //   not 8: u4's −1 end and u3's +1 start share the instant
    //   09:00:10.000001 and NET to one zero-delta row — the end-exclusive
    //   semantics made concrete (concurrency never reaches 2 there).
    assert(out("2024-01-01") == ((2L, 7L)), s"got ${out("2024-01-01")}")
    // day 2: one user, 40-min gap → two disjoint sessions, max 1, 4 boundaries
    assert(out("2024-01-02") == ((1L, 4L)), s"got ${out("2024-01-02")}")
  }

  // ---- dq15 planted-corruption classification -------------------------------

  test("dq15_interval_audit: each planted corruption class counted once, clamp yields zero-length not gap") {
    // user 1, events 10s apart, ids chosen by residue mod 17:
    //   id=2 → overlap (+1s past next start), id=3 → gap (−1s clamp has
    //   headroom), id=5 → zero-length, id=1 → last interval stays open.
    // user 2: id=20 (≡3 mod 17) but the NEXT event is only 0.5s away —
    //   the −1s clamp floors at valid_from → counted ZERO-LENGTH, not gap.
    val dir = plantEvents(Seq(
      (1L, "view", "2024-01-01 10:00:00", 2L, 1.0),
      (1L, "view", "2024-01-01 10:00:10", 3L, 1.0),
      (1L, "view", "2024-01-01 10:00:20", 5L, 1.0),
      (1L, "view", "2024-01-01 10:00:30", 1L, 1.0),
      (2L, "view", "2024-01-01 11:00:00", 20L, 1.0),
      (2L, "view", "2024-01-01 11:00:00.5", 21L, 1.0)))
    val r = SingleRow.of(SparkEntry.queries("dq15_interval_audit")(spark, dir))
    assert(r.getAs[Long]("n_intervals") == 6L)
    assert(r.getAs[Long]("n_open") == 2L)
    assert(r.getAs[Long]("n_overlaps") == 1L)
    assert(r.getAs[Long]("n_gaps") == 1L)
    assert(r.getAs[Long]("n_zero_len") == 2L)
    assert(r.getAs[Long]("bad_id_sum") == (2L + 3L + 5L + 20L))
  }

  // ---- t22 rolling-median order-statistic semantics ------------------------

  test("t22_rolling_median: lower-middle element per trailing frame, partial leading frames included") {
    // values [5,1,9,3,7] → frames [5] [1,5] [1,5,9] [1,3,5,9] [1,3,5,7,9]
    // → medians 5, 1, 5, 3, 5 (lower-middle on even counts, no
    // interpolation): sum 19, min 1, max 5
    val dir = plantEvents(Seq(
      (1L, "view", "2024-01-01 10:00:00", 1L, 5.0),
      (1L, "view", "2024-01-01 10:01:00", 2L, 1.0),
      (1L, "view", "2024-01-01 10:02:00", 3L, 9.0),
      (1L, "view", "2024-01-01 10:03:00", 4L, 3.0),
      (1L, "view", "2024-01-01 10:04:00", 5L, 7.0)))
    val r = SingleRow.of(SparkEntry.queries("t22_rolling_median")(spark, dir))
    assert(r.getAs[Long]("n_events") == 5L)
    assert(math.abs(r.getAs[Double]("med_sum") - 19.0) < 1e-9)
    assert(r.getAs[Double]("med_min") == 1.0)
    assert(r.getAs[Double]("med_max") == 5.0)
  }
}

/** Tiny helper: collect a frame expected to hold exactly one row. */
private object SingleRow {
  def of(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row = {
    val rows = df.collect()
    assert(rows.length == 1, s"expected 1 row, got ${rows.length}")
    rows.head
  }
}
