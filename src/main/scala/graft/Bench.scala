package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** Materialize EVERY column through the noop v2 sink. A bare `count()`
    * lets Catalyst prune the projection — a pure project+sort query
    * degenerates to a parquet row-count and reports fantasy numbers
    * (x18 read 0.16 s while its gram scan actually costs ~2 s). The
    * noop write executes the full plan and discards the rows. */
  def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median of an odd-sized sample; for even sizes the lower-middle
    * element (conservative — never interpolates a time nobody measured). */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // Steady-state measurement: one untimed warm pass of every query AT
    // THE TARGET SF, then THREE timed passes reported as the per-query
    // and total MEDIAN. The warm pass absorbs plan analysis, codegen/JIT,
    // and AQE first-run re-planning; the median kills single-shot host
    // noise (round 9's committed bench showed d8 at 8.7 s that steady
    // re-runs measured at 3.2–3.5 s — a phantom 2.8× regression).
    // SPARK_GRAFT_COLD=1 restores the old single cold pass;
    // SPARK_GRAFT_BENCH_RUNS overrides the timed-pass count.
    try exec(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // oracle-bearing surface + the steady-state operator twins
    // (BenchOps: index prebuilt outside the timed region) so operator
    // regressions aren't masked by in-query verification cost
    val all = Harness.registry.toSeq.sortBy(_._1)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the surface for iteration
    // (mirrors Verify's SPARK_GRAFT_ONLY); full runs leave it unset
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        all.filter(q => keep.contains(q._1))
      case None => all
    }
    val cold = sys.env.contains("SPARK_GRAFT_COLD")
    val nRuns = if (cold) 1 else sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    if (!cold) {
      queries.foreach { case (_, fn) =>
        try exec(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
    }
    // A failing query must be a LOUD "errors" entry, not a ~0.06 s phantom
    // time silently deflating the total (8 queries vanished that way in
    // round 9): errored queries are excluded from times/total entirely.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(): Map[String, Double] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try exec(fn(spark, sfDir)) catch { case e: Throwable =>
        errors.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val passes = (1 to nRuns).map(_ => timedPass())
    val ok = queries.map(_._1).filterNot(errors.contains)
    val results = ok.map(name => name -> median(passes.map(_(name))))
    val runTotals = passes.map(p => ok.map(p).sum)
    val total = median(runTotals)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val runsJson = runTotals.mkString("[", ",", "]")
    val errJson = Verify.jsonObj(errors)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","warm":${!cold},""" +
      s""""runs":$runsJson,"errors":$errJson,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // stdout gets wrapped in the sbt banner and can truncate long lines —
    // also write the JSON to a file so it stays machine-parseable
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
