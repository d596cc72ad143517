package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Dev measurement harness: one session, one query map, three modes.
  *
  * {{{
  * runMain graft.Harness census [q ...]          (no names = every query)
  * runMain graft.Harness plans <outDir> [q ...]  (no names = the plan-evidence picks)
  * runMain graft.Harness scale <k> <dir> q [q ...]
  * }}}
  *
  *   - `census`: one untimed warm pass, then per query wall seconds and
  *     Spark job / stage / task counts — the fixed-overhead census. TSV
  *     rows `name sec jobs stages tasks` on stdout and in
  *     `<java.io.tmpdir>/jobstats.tsv`; a query that throws is a
  *     `FAILED` row, a row whose listener events did not drain in time
  *     ends in `STALE`.
  *   - `plans`: `explain("formatted")` per query into `<outDir>/<q>.txt`,
  *     flagging nested-loop and cartesian joins.
  *   - `scale`: replicate the sf dir's tables ×k into `<dir>` (once;
  *     an existing table is reused), then time the named queries on it,
  *     one warm and one timed pass each.
  *
  * Input tables come from `SPARK_GRAFT_SF_DIR` (default sf0.1); the
  * session is [[Session]]'s. Any failed query makes the exit status 1.
  */
object Harness {
  type QueryFn = (SparkSession, String) => DataFrame

  /** The declared queries plus the bench-only steady-state twins; on a
    * name clash the twin wins, as in [[Bench]]. */
  def registry: Map[String, QueryFn] = SparkEntry.queries ++ graft.queries.BenchOps.ops

  /** Look `names` up in [[registry]]: no names means every query, by
    * name; an unknown name fails naming it. */
  def resolve(names: Seq[String]): Seq[(String, QueryFn)] = {
    val all = registry
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.map(n => n -> all(n))
  }

  /** Representative plans for the "explain and iterate" evidence in
    * PLANS.md: pushdown, join strategy, distributed rank, codegen spans. */
  val PlanPicks: Seq[String] = Seq("s1_scan_project", "j2_join_two", "a17_auc",
    "a2_wide_sum", "d5_embed_neardup", "w3_topk_per_group", "w4_decile",
    "a19_whale_contingency", "st2_sessions_batch", "t2_asof_join", "rj1_range_join",
    "x18_gopher_gates", "d10_substring_dedup", "t4_retention", "w12_ewma", "t6_funnel",
    "t5_gapfill", "dq2_drift_psi")

  private val BusTimeoutMillis = 60000L

  private def failure(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(300)

  /** Execute one query (every column, through [[Bench.exec]]); its
    * seconds, or the failure. */
  private def run(spark: SparkSession, dir: String, fn: QueryFn): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { Bench.exec(fn(spark, dir)); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(failure(e)) }
  }

  final case class CensusRow(name: String, result: Either[String, Double],
      jobs: Long, stages: Long, tasks: Long, stale: Boolean) {
    def tsv: String = result match {
      case Left(err) => s"$name\tFAILED\t$err"
      case Right(sec) =>
        f"$name\t$sec%.3f\t$jobs\t$stages\t$tasks" + (if (stale) "\tSTALE" else "")
    }
  }

  def census(spark: SparkSession, sfDir: String,
      queries: Seq[(String, QueryFn)]): Seq[CensusRow] = {
    val (jobs, stages, tasks) = (new AtomicLong, new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    // the bus is asynchronous: drain it around each query so counts land
    // on the query that caused them; a backlog past the bound leaves the
    // row marked stale instead of aborting the census
    def drained(name: String): Boolean =
      try { Bridge.waitListenerBus(spark, BusTimeoutMillis); true }
      catch { case _: TimeoutException =>
        System.err.println(s"[census] WARN listener bus not drained in " +
          s"$BusTimeoutMillis ms; counts for $name may be stale")
        false
      }
    spark.sparkContext.addSparkListener(listener)
    try {
      queries.foreach { case (_, fn) => run(spark, sfDir, fn) } // warm
      queries.map { case (name, fn) =>
        val before = drained(name)
        val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
        val result = run(spark, sfDir, fn)
        val after = drained(name)
        val row = CensusRow(name, result, jobs.get - j0, stages.get - s0, tasks.get - t0,
          stale = !(before && after))
        println(row.tsv)
        row
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Write each query's formatted explain to `<outDir>/<name>.txt`;
    * returns per query the flagged join operators, or the failure. */
  def plans(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, QueryFn)]): Seq[(String, Either[String, Seq[String]])] = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    queries.map { case (name, fn) =>
      val flags = try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(dir.resolve(s"$name.txt"), txt)
        Right(Seq("BroadcastNestedLoopJoin", "CartesianProduct").filter(txt.contains))
      } catch { case e: Throwable => Left(failure(e)) }
      println(s"[plans] $name " + flags.fold(e => s"FAILED $e",
        f => s"-> $dir/$name.txt flags: ${if (f.isEmpty) "clean" else f.mkString(",")}"))
      name -> flags
    }
  }

  /** Key columns offset by replica × stride so replicas never share a
    * key; foreign keys move with the key they reference. Tables not
    * listed (customer, nation, region, supplier) are dimensions, copied
    * once, so per-customer fan-out grows with k. */
  private val ReplicaKeys: Map[String, Seq[(String, Long)]] = Map(
    "orders" -> Seq("o_orderkey" -> 100000000L),
    "lineitem" -> Seq("l_orderkey" -> 100000000L, "l_partkey" -> 10000000L),
    "part" -> Seq("p_partkey" -> 10000000L),
    "events" -> Seq("event_id" -> 100000000L, "user_id" -> 1000000L),
    "documents" -> Seq("doc_id" -> 10000000L),
    "embeddings" -> Seq("vec_id" -> 10000000L))

  private def replica(table: String, df: DataFrame, i: Int): DataFrame = {
    val keyed = ReplicaKeys(table).foldLeft(df) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + lit(i * stride))
    }
    // a per-replica token suffix keeps document replicas NEAR-dups, not
    // exact dups — the realistic shape for dedup candidate generation
    if (table != "documents" || i == 0) keyed
    else {
      val text = concat_ws(" ", transform(split(col("text"), " "), t => concat(t, lit(s"_$i"))))
      keyed.withColumn("n_chars", col("n_chars") + length(text) - length(col("text")))
        .withColumn("text", text)
    }
  }

  /** Write every `<name>.parquet` table of `sfDir` into `dir`, fact
    * tables as k offset replicas; a table already in `dir` is kept. */
  def replicate(spark: SparkSession, sfDir: String, k: Int, dir: String): Unit = {
    require(k >= 1, s"replication factor must be >= 1, got $k")
    val tables = new java.io.File(sfDir).list().toSeq.filter(_.endsWith(".parquet")).sorted
    tables.filterNot(t => new java.io.File(s"$dir/$t").exists()).foreach { t =>
      val name = t.stripSuffix(".parquet")
      val base = spark.read.parquet(s"$sfDir/$t")
      val out =
        if (!ReplicaKeys.contains(name)) base
        else (0 until k).map(replica(name, base, _)).reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
      out.write.parquet(s"$dir/$t")
      println(s"[scale] wrote $dir/$t")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Harness census [q ...] | plans <outDir> [q ...] | scale <k> <dir> q [q ...]"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // parse and resolve before the session starts, so a typo fails in a
    // second; each mode returns its failed-query count
    val job: SparkSession => Int = args.toSeq match {
      case "census" +: names =>
        val queries = resolve(names)
        spark => {
          val rows = census(spark, sfDir, queries)
          val out = Paths.get(sys.props("java.io.tmpdir"), "jobstats.tsv")
          Files.writeString(out, rows.map(_.tsv).mkString("", "\n", "\n"))
          println(s"[census] wrote $out")
          rows.count(_.result.isLeft)
        }
      case "plans" +: outDir +: names =>
        val queries = resolve(if (names.isEmpty) PlanPicks else names)
        spark => plans(spark, sfDir, outDir, queries).count(_._2.isLeft)
      case "scale" +: k +: dir +: names if names.nonEmpty =>
        val (mult, queries) = (k.toInt, resolve(names))
        spark => {
          replicate(spark, sfDir, mult, dir)
          queries.count { case (name, fn) =>
            val result = run(spark, dir, fn).flatMap(_ => run(spark, dir, fn)) // warm, timed
            println(f"[scale] x$mult%-4d $name%-28s " +
              result.fold(e => s"FAILED $e", sec => f"$sec%8.2f s"))
            result.isLeft
          }
        }
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = Session.build()
    val failed = job(spark)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[harness] $failed queries failed")
      sys.exit(1)
    }
  }
}
