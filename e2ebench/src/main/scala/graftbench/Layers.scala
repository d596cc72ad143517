package graftbench

/** Per-layer metrics derived from a [[Tracer]]'s jobs and micro-batches.
  * Every figure is per work unit (one query pass or one pipeline run), so
  * runs that fit a different number of units into their window stay
  * comparable. */
object Layers {

  /** The `spark` layer (the runtime under every module), summed over
    * the spans `spans` and divided by `units`. */
  def spark(tr: Tracer, spans: Seq[Span], units: Int, cpus: Int): Map[String, Double] = {
    val perSpan = spans.map(s => s -> tr.jobsIn(s.startMs, s.endMs))
    val js = perSpan.flatMap(_._2)
    val wallMs = spans.map(s => (s.endMs - s.startMs).toDouble).sum
    val gapMs = perSpan.map { case (s, j) => Tracer.driverGapMs(j, s.startMs, s.endMs) }.sum
    val cpuS = js.map(_.cpuNs).sum / 1e9
    def per(x: Double) = x / units
    Map(
      "spark.jobs" -> per(js.size),
      "spark.stages" -> per(js.map(_.stages).sum),
      "spark.tasks" -> per(js.map(_.tasks).sum),
      "spark.driver_gap_s" -> per(gapMs / 1e3),
      "spark.scheduler_delay_s" -> per(js.map(_.schedulerDelayMs).sum / 1e3),
      "spark.executor_run_s" -> per(js.map(_.runMs).sum / 1e3),
      "spark.executor_cpu_s" -> per(cpuS),
      "spark.gc_s" -> per(js.map(_.gcMs).sum / 1e3),
      "spark.cpu_util" -> (if (wallMs > 0) cpuS / (wallMs / 1e3 * cpus) else 0.0),
      "spark.shuffle_write_bytes" -> per(js.map(_.shuffleWrite).sum),
      "spark.shuffle_read_bytes" -> per(js.map(_.shuffleRead).sum),
      "spark.input_bytes" -> per(js.map(_.input).sum),
      "spark.output_bytes" -> per(js.map(_.output).sum),
      "spark.spill_bytes" -> per(js.map(_.spill).sum))
  }

  /** The `streaming` layer: micro-batch progress reports per unit. */
  def streaming(tr: Tracer, spans: Seq[Span], units: Int): Map[String, Double] = {
    val bs = spans.flatMap(s => tr.batchesIn(s.startMs, s.endMs))
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / units
    Map(
      "streaming.batches" -> bs.size.toDouble / units,
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.state_commit_s" -> bs.map(_.stateCommitMs).sum / 1e3 / units,
      "streaming.state_rows" -> bs.map(_.stateRowsUpdated).sum.toDouble / units)
  }

  val Blocks: Seq[String] = Seq("1_sizes", "2_target_stats", "3_opened_dist", "4_pair_lift",
    "5_corr_matrix", "6_clustering", "7_main_missing", "8_extra_bands", "9_filled_deciles",
    "10_missing_auc", "11_cat_dicts", "12_adversarial", "13_screening", "14_universality",
    "15_whales")

  /** Pipeline blocks by the module that does their work. */
  val CoreBlocks = Set(1, 2, 3, 7, 8, 11)
  val StatsBlocks = Set(4, 5, 9, 10, 13, 14, 15)
  val MlBlocks = Set(6, 12)

  /** Every per-layer metric the driven workloads report; a workload that
    * does not touch a layer reports its metrics as zero. */
  def reported: Seq[String] =
    spark(null, Nil, 1, 1).keys.toSeq ++ streaming(null, Nil, 1).keys ++
      Seq("queries.plan_s", "queries.exec_s") ++
      QueryMixWorkload.Names.flatMap(q => Seq(s"query.${q}_s", s"query.$q.jobs")) ++
      Seq("ingest.batch_s", "ingest.jobs_per_batch", "ingest.output_bytes_per_batch",
        "ingest.state_index_rows", "ingest.new_pairs",
        "trace_overhead", "trace.drain_s", "trace.stale_spans", "jvm.peak_rss_mb",
        "wall.pass_s", "wall.op_p50_s") ++
      Blocks.flatMap(b => Seq(s"pipeline.${b}_s", s"pipeline.$b.jobs")) ++
      Seq("pipeline.core_s", "pipeline.stats_s", "pipeline.ml_s", "fixtures.generate_s")
}
