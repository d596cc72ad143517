package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

import graft.{RunIngest, SparkEntry}
import graft.llm.Dedup
import graft.pipeline.EdaPipeline

private object Exec {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Time `body` as span `name`; a throw becomes the op's error. */
  def op(timer: Timer, unit: Int, name: String)(body: => Unit): Op =
    try Op(unit, name, timer.span(name, unit)(body)._2, None)
    catch { case e: Throwable => Op(unit, name, Took.Zero, Some(describe(e))) }

  /** Execute `df`'s physical plan (the plan the noop sink runs) and
    * return an order-independent hash of its rows: the row count and the
    * sum of the rows' `UnsafeRow` hashes. */
  def hashExec(df: DataFrame): String = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, h = 0L
      it.foreach { r => n += 1; h += proj(r).hashCode }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    s"$n/$h"
  }
}

/** The analyst's interactive loop beside a rolling ingest. A pass runs a
  * fixed list of declared queries, each planned (`fn(spark, dir)`, where
  * eager actions run) and then executed with its rows hashed, and one
  * [[RollingIngest]] call, in a seed-shuffled order. */
final class QueryMixWorkload(spark: SparkSession, o: Opts) extends Workload {
  import QueryMixWorkload._

  val names: Seq[String] = if (o.smoke) SmokeNames else Names
  private val registry = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  private val unknown = names.filterNot(registry.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  // every result is checked against DuckDB, so every query needs an oracle
  private val unchecked = names.filterNot(oracle.contains)
  require(unchecked.isEmpty, s"queries without an oracle: ${unchecked.mkString(", ")}")
  private val dir = o.inputs
  private val dumpDir = s"${o.work}/dump"
  private val ingest = new RollingIngest(spark, s"${o.inputs}/ingest", o.work)
  /** Each query's result hash, taken from the warm-pass result that the
    * DuckDB check reads; every timed execution must reproduce it. */
  private val warmHash = mutable.Map[String, String]()

  /** The generated tables need no staging beyond their generation. */
  def prepare(): Unit = ()

  /** One untimed pass that writes every query result for the DuckDB check
    * and ingests the first batch. */
  override def warm(): Seq[Op] = {
    Files.createDirectories(Paths.get(dumpDir))
    val ops = names.map { q =>
      Exec.op(Untraced, -1, q) {
        registry(q)(spark, dir).coalesce(1).write.parquet(s"$dumpDir/$q")
        warmHash(q) = Exec.hashExec(spark.read.parquet(s"$dumpDir/$q"))
        println(s"[e2ebench] $q result rows/hash ${warmHash(q)}")
      }
    }
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
      names.map(q => s"${Json.str(q)}:${Json.str(oracle(q))}").mkString("{", ",", "}"))
    ops :+ ingest.next(Untraced, -1)
  }

  def runUnit(timer: Timer, unit: Int): Seq[Op] =
    new scala.util.Random(o.seed * 7919L + unit).shuffle(names :+ RollingIngest.Name).map {
      case RollingIngest.Name => ingest.next(timer, unit)
      case q =>
        try {
          val (df, plan) = timer.span(s"$q/plan", unit)(registry(q)(spark, dir))
          val (h, exec) = timer.span(s"$q/exec", unit)(Exec.hashExec(df))
          val bad = warmHash.get(q).filterNot(_ == h).map(w => s"result hash $h != warm pass $w")
          Op(unit, q, plan + exec, bad)
        } catch { case e: Throwable => Op(unit, q, Took.Zero, Some(Exec.describe(e))) }
    }

  def layers(tr: Tracer, ops: Seq[Op], units: Int): Map[String, Double] = {
    val spans = tr.spans.filter(s => s.name.endsWith("/plan") || s.name.endsWith("/exec"))
    def secs(suffix: String) =
      spans.filter(_.name.endsWith(suffix)).map(s => s.endMs - s.startMs).sum / 1e3 / units
    val perQuery = names.flatMap { q =>
      val mine = spans.filter(_.name.startsWith(s"$q/"))
      val jobsPerUnit = mine.groupBy(_.unit).values
        .map(ss => ss.map(s => tr.jobsIn(s.startMs, s.endMs).size).sum.toDouble).toSeq
      Seq(s"query.${q}_s" -> Stats.median(ops.filter(_.name == q).map(_.secs)),
        s"query.$q.jobs" -> Stats.median(jobsPerUnit))
    }
    Layers.spark(tr, tr.spans, units, o.cpus) ++ Layers.streaming(tr, spans, units) ++
      Map("queries.plan_s" -> secs("/plan"), "queries.exec_s" -> secs("/exec")) ++ perQuery ++
      ingest.layers(tr, ops, o.cpus)
  }

  /** The query results are checked by DuckDB after the run (`checks.py`). */
  def verify(ops: Seq[Op]): Seq[CheckFailure] = ingest.verify()

  override def checkInputs: Map[String, String] = Map("dump_dir" -> dumpDir, "inputs" -> dir)
}

object QueryMixWorkload {
  /** One query per mechanism the roadmap works on: a relational control
    * (scan + aggregate), the quantile family, a streaming replay and
    * merge. */
  val Names: Seq[String] = Seq("t1_events_daily", "a21_weighted_quantiles",
    "st5_stream_interval_join", "p9_merge_upsert")
  val SmokeNames: Seq[String] =
    Seq("t1_events_daily", "st5_stream_interval_join", "p9_merge_upsert")
}

/** One cold `EdaPipeline.run` per work unit over a seeded
  * reference-schema fixture. Block intervals come from the
  * `[pipeline] block` lines the pipeline prints. */
final class EdaPipelineWorkload(spark: SparkSession, o: Opts) extends Workload {
  import EdaPipelineWorkload._

  private val fixture = s"${o.work}/fixture"
  private var fixtureSecs = 0.0
  /** (unit, block, startMs, endMs) of every finished block */
  private val blocks = mutable.ArrayBuffer[(Int, String, Long, Long)]()
  private val outDirs = mutable.ArrayBuffer[String]()

  def prepare(): Unit = {
    val t = System.nanoTime()
    new Fixture(o.seed).write(spark, fixture, TrainRows, ExtraCols, Targets)
    fixtureSecs = (System.nanoTime() - t) / 1e9
  }

  def runUnit(timer: Timer, unit: Int): Seq[Op] = {
    val out = s"${o.work}/eda_out_${outDirs.size}"
    outDirs += out
    val clock = new LineClock(System.err)
    val startMs = System.currentTimeMillis()
    val op = Exec.op(timer, unit, "eda_pipeline") {
      Console.withOut(new java.io.PrintStream(clock, true)) {
        EdaPipeline.run(spark, fixture, out)
      }
    }
    var prev = startMs
    clock.lines.foreach { case (at, line) =>
      BlockLine.findFirstMatchIn(line).foreach { m =>
        blocks += ((unit, m.group(1), prev, at))
        prev = at
      }
    }
    Seq(op)
  }

  private def blockSecs(ops: Seq[Op]): Seq[(String, Seq[Double])] = {
    val units = ops.map(_.unit).toSet
    Layers.Blocks.map(b => b -> blocks.collect { case (u, `b`, a, z) if units(u) => (z - a) / 1e3 }.toSeq)
  }

  override def latencies(ops: Seq[Op]): Seq[Double] = blockSecs(ops).flatMap(_._2)

  def layers(tr: Tracer, ops: Seq[Op], units: Int): Map[String, Double] = {
    val mine = blocks.filter(b => ops.exists(_.unit == b._1))
    val perBlock = blockSecs(ops).map { case (b, xs) => b -> Stats.median(xs) }.toMap
    def rollup(ix: Set[Int]) = Layers.Blocks.zipWithIndex
      .collect { case (b, i) if ix(i + 1) => perBlock(b) }.sum
    val jobs = Layers.Blocks.map { b =>
      val perUnit = mine.filter(_._2 == b).map { case (_, _, a, z) => tr.jobsIn(a, z - 1).size.toDouble }
      s"pipeline.$b.jobs" -> Stats.median(perUnit.toSeq)
    }
    Layers.spark(tr, tr.spans.filter(_.name == "eda_pipeline"), units, o.cpus) ++
      perBlock.map { case (b, s) => s"pipeline.${b}_s" -> s } ++ jobs ++ Map(
        "pipeline.core_s" -> rollup(Layers.CoreBlocks),
        "pipeline.stats_s" -> rollup(Layers.StatsBlocks),
        "pipeline.ml_s" -> rollup(Layers.MlBlocks),
        "fixtures.generate_s" -> fixtureSecs)
  }

  /** Every run wrote every golden file and printed all 15 blocks. */
  def verify(ops: Seq[Op]): Seq[CheckFailure] = {
    val missing = outDirs.toSeq.flatMap(d => Golden.filterNot(f => Files.exists(Paths.get(d, f))))
    val blocksPerRun = ops.map(op => blocks.count(_._1 == op.unit))
    def fail(reason: String) = CheckFailure("eda_pipeline", reason, _ => true)
    (if (missing.isEmpty) Nil else Seq(fail(s"missing outputs: ${missing.distinct.mkString(", ")}"))) ++
      (if (blocksPerRun.forall(_ == Layers.Blocks.size)) Nil
       else Seq(fail(s"block lines per run: ${blocksPerRun.mkString(",")}")))
  }

  override def checkInputs: Map[String, String] =
    Map("fixture" -> fixture, "eda_out_dirs" -> outDirs.mkString(","))
}

object EdaPipelineWorkload {
  val TrainRows = 2000L
  val ExtraCols = 10
  val Targets = 8
  private val BlockLine = """^\[pipeline\] block (\S+)""".r.unanchored

  /** The golden-table layout `EdaPipeline.run` promises. */
  val Golden: Seq[String] = Seq(
    "target_stats.csv", "target_family_stats.csv", "opened_targets_distribution.csv",
    "target_pair_stats.csv", "target_top_pairs.csv",
    "top_positive_target_pairs.csv", "top_negative_target_pairs.csv",
    "top_cooccurrence_lift_pairs.csv", "target_corr_matrix.csv",
    "antagonist_corr_slice.csv", "antagonist_profile.csv",
    "target_cluster_quality.csv", "target_cluster_assignments.csv",
    "target_cluster_summary.csv", "feature_missingness_summary.csv",
    "extra_missingness_summary.csv", "top10_missing_features.csv",
    "extra_missingness_bands.csv", "filled_extra_count_deciles.csv",
    "missing_indicator_auc.csv", "categorical_cardinality.csv",
    "categorical_unseen_categories.csv",
    "adversarial_auc.csv", "feature_target_linear_corr.csv",
    "top10_features_per_target.csv", "target_top10_feature_mix.csv",
    "feature_universality.csv", "feature_universality_top10.csv",
    "feature_signal_summary.csv", "golden_linear_top5_selected_targets.csv",
    "whale_signals.csv", "whale_feature_candidates.csv",
    "whale_top3_per_target.csv", "summary.json", "report.md")
}

/** Forwards printed lines and records when each one arrived. */
final class LineClock(forward: java.io.PrintStream) extends java.io.OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  val lines = mutable.ArrayBuffer[(Long, String)]()
  override def write(b: Int): Unit =
    if (b == '\n') {
      val line = buf.toString("UTF-8")
      lines += ((System.currentTimeMillis(), line))
      forward.println(line)
      buf.reset()
    } else buf.write(b)
}

/** Rolling near-dup ingest: each call runs `RunIngest.ingestOnce` on the
  * next generated batch, into on-disk state that grows call by call. When
  * the batches run out, a fresh state starts again from the first. */
final class RollingIngest(spark: SparkSession, inputs: String, work: String) {
  import RollingIngest._

  private val batches = Files.list(Paths.get(inputs)).toArray.map(_.toString)
    .filter(_.matches(""".*/batch_\d+\.parquet""")).sorted.toSeq
  require(batches.nonEmpty, s"no batch_<i>.parquet under $inputs")
  private val calls = mutable.ArrayBuffer[Call]()

  def next(timer: Timer, unit: Int): Op = {
    val batch = batches(calls.size % batches.size)
    val state = s"$work/state_${calls.size / batches.size}"
    var newPairs = 0L
    val op = Exec.op(timer, unit, Name) {
      val summary = RunIngest.ingestOnce(spark, batch, state)
      newPairs = NewPairs.findFirstMatchIn(summary).map(_.group(1).toLong)
        .getOrElse(sys.error(s"no new_pairs in the ingest summary: $summary"))
    }
    calls += Call(unit, batch, state, newPairs)
    op
  }

  /** The `ingest` layer, per call: wall seconds, the Spark jobs and output
    * bytes of its spans, new pairs, and the index rows of the latest state. */
  def layers(tr: Tracer, ops: Seq[Op], cpus: Int): Map[String, Double] = {
    val spans = tr.spans.filter(_.name == Name)
    val perCall = Layers.spark(tr, spans, spans.size, cpus)
    val traced = ops.filter(_.name == Name)
    Map(
      "ingest.batch_s" -> Stats.median(traced.map(_.secs)),
      "ingest.jobs_per_batch" -> perCall("spark.jobs"),
      "ingest.output_bytes_per_batch" -> perCall("spark.output_bytes"),
      "ingest.new_pairs" -> Stats.median(
        calls.filter(c => traced.exists(_.unit == c.unit)).map(_.newPairs.toDouble).toSeq),
      "ingest.state_index_rows" ->
        spark.read.parquet(s"${calls.last.state}/index").count().toDouble)
  }

  /** Each state's accumulated pairs equal a `Dedup.minHashNearDup` over
    * every document ingested into it, and its index holds docs × 32 rows
    * (the invariant `IngestSpec` pins). */
  def verify(): Seq[CheckFailure] = calls.groupBy(_.state).toSeq.sortBy(_._1).flatMap {
    case (state, cs) =>
      val docs = cs.map(c => spark.read.parquet(c.batch)).reduce(_ unionByName _)
      val nDocs = docs.count()
      def pairs(df: DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
      val full = pairs(Dedup.minHashNearDup(docs, "doc_id", "text",
        w = 5, k = 64, bands = 32, minJaccard = 0.5))
      val got = pairs(spark.read.parquet(s"$state/pairs"))
      val idx = spark.read.parquet(s"$state/index").count()
      val bad = (full.keySet diff got.keySet).size + (got.keySet diff full.keySet).size +
        got.count { case (p, j) => full.get(p).exists(f => math.abs(f - j) > 1e-12) }
      val units = cs.map(_.unit).toSet
      def fail(reason: String) =
        CheckFailure(Name, s"$state: $reason", op => op.name == Name && units(op.unit))
      (if (bad == 0) None else Some(fail(s"$bad pairs differ from the full run"))) ++
        (if (idx == nDocs * 32) None else Some(fail(s"index rows $idx != ${nDocs * 32}")))
  }
}

object RollingIngest {
  val Name = "ingest"
  private val NewPairs = """"new_pairs":(\d+)""".r

  /** One call: its work unit, the batch it ingested and into which state. */
  final case class Call(unit: Int, batch: String, state: String, newPairs: Long)
}
