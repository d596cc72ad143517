package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Wall seconds and process CPU seconds (every JVM thread) of a call. */
final case class Took(secs: Double, cpu: Double) {
  def +(o: Took): Took = Took(secs + o.secs, cpu + o.cpu)
}

object Took {
  val Zero: Took = Took(0.0, 0.0)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow: Double = os.getProcessCpuTime / 1e9
}

/** One timed call into the engine. `unit` numbers the work unit (query
  * pass or pipeline run) it belongs to. */
final case class Op(unit: Int, name: String, took: Took, error: Option[String]) {
  def secs: Double = took.secs
}

/** A failed output check: the operation it names, why, and which ops
  * produced the bad output (they count as failed). */
final case class CheckFailure(name: String, reason: String, covers: Op => Boolean)

/** A benchmark workload: staged once, then run unit by unit in a closed
  * loop. `layers` turns a traced run's spans into per-layer metrics;
  * `verify` checks every output and names each failing operation. */
trait Workload {
  /** Stage the generated inputs. */
  def prepare(): Unit
  def runUnit(timer: Timer, unit: Int): Seq[Op]
  /** The latencies `wall.op_p50_s` is the median of. */
  def latencies(ops: Seq[Op]): Seq[Double] = ops.map(_.secs)
  def layers(tr: Tracer, ops: Seq[Op], units: Int): Map[String, Double]
  /** An untimed pass before the timed loop (its ops count as attempted). */
  def warm(): Seq[Op] = Nil
  def verify(ops: Seq[Op]): Seq[CheckFailure]
  /** Extra facts for the Python-side DuckDB checks. */
  def checkInputs: Map[String, String] = Map.empty
}

/** Options passed by `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    inputs: String, work: String, smoke: Boolean, cpus: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("inputs"), get("work"), kv.get("smoke").contains("1"),
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = session(o.cpus, o.work)
    val json = try run(spark, o) finally spark.stop()
    Files.write(Paths.get(o.work, "result.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  /** The session `graft.Bench` builds, with its warehouse inside the work
    * directory (`run.py` points SPARK_LOCAL_DIRS there too). */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(graft.streaming.EventStream.ReplayPartitionsKey, "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "eda_pipeline" => new EdaPipelineWorkload(spark, o)
    case "query_mix" => new QueryMixWorkload(spark, o)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** Closed loop, one driver thread: run units numbered from `first`
    * until `seconds` have passed (at least one). */
  private def loop(w: Workload, timer: Timer, seconds: Double, first: Int): Seq[Op] = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer[Op]()
    var unit = first
    while (unit == first || (System.nanoTime() - t0) / 1e9 < seconds) {
      val done = w.runUnit(timer, unit)
      done.foreach(log)
      ops ++= done
      unit += 1
    }
    ops.toSeq
  }

  private def log(op: Op): Unit =
    println(f"[e2ebench] unit ${op.unit}%3d ${op.name}%-28s ${op.secs}%8.3f s ${op.took.cpu}%8.3f cpu-s" +
      op.error.map(" FAILED " + _).getOrElse(""))

  /** Each work unit: the sum of its ops. */
  private def units(ops: Seq[Op]): Map[Int, Took] =
    ops.groupBy(_.unit).map { case (u, xs) => u -> xs.map(_.took).reduce(_ + _) }

  private def run(spark: SparkSession, o: Opts): String = {
    val w = workload(spark, o)
    // set-up in CPU seconds (host contention inflates wall time far more):
    // JVM and session start-up, then staging the inputs
    val (_, staging) = Untraced.span("prepare", -1)(w.prepare())
    val setupS = Took.cpuNow
    println(f"[e2ebench] set-up $setupS%.2f cpu-s, staging ${staging.secs}%.2f s/${staging.cpu}%.2f cpu-s")

    val warm = w.warm()
    warm.foreach(log)
    val untraced = loop(w, Untraced, o.seconds, 0)
    // --trace 1: a traced window follows, then one more untraced window
    // for trace_overhead to compare it with (eda_pipeline's first window
    // is cold)
    val (traced, untracedAfter) = if (o.trace) {
      val tr = new Tracer(spark)
      val ops = try loop(w, tr, o.seconds, untraced.map(_.unit).max + 1) finally tr.close()
      (Some((tr, ops)), loop(w, Untraced, o.seconds, ops.map(_.unit).max + 1))
    } else (None, Nil)

    val all = warm ++ untraced ++ traced.map(_._2).getOrElse(Nil) ++ untracedAfter
    val checkFailures = w.verify(all)
    def failed(op: Op) = op.error.isDefined || checkFailures.exists(_.covers(op))
    val failures = all.collect { case Op(_, n, _, Some(e)) => n -> e }.distinct ++
      checkFailures.map(f => f.name -> f.reason)

    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_cpu_s" -> Stats.median(units(untraced).values.map(_.cpu).toSeq))
    val layers = traced.map { case (tr, ops) =>
      val n = ops.map(_.unit).distinct.size
      // trace_overhead compares CPU seconds, like pass_cpu_s; a traced
      // unit includes the listener-bus drains after its spans
      val drains = tr.spans.groupBy(_.unit).map { case (u, ss) => u -> ss.map(_.drain).reduce(_ + _) }
      val tracedCpu = units(ops).map { case (u, t) => t.cpu + drains.get(u).map(_.cpu).getOrElse(0.0) }
      Layers.reported.map(_ -> 0.0).toMap ++ w.layers(tr, ops, n) ++ Map(
        "trace_overhead" ->
          Stats.median(tracedCpu.toSeq) / Stats.median(units(untracedAfter).values.map(_.cpu).toSeq),
        "trace.drain_s" -> drains.values.map(_.secs).sum / n,
        "wall.pass_s" -> Stats.median(units(untraced).values.map(_.secs).toSeq),
        "wall.op_p50_s" -> Stats.median(w.latencies(untraced)),
        "jvm.peak_rss_mb" -> Stats.peakRssMb(),
        "trace.stale_spans" -> tr.spans.count(_.stale).toDouble)
    }.getOrElse(Map.empty)

    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    def nums(m: Iterable[(String, Double)]) = obj(m.map { case (k, v) => k -> Json.num(v) })
    // per operation name: [attempted, failed]
    val ops = all.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, xs) => n -> s"[${xs.size},${xs.count(failed)}]" }
    val failureList = failures.map { case (n, r) => s"[${Json.str(n)},${Json.str(r)}]" }
    s"""{"ops":${obj(ops)},"failures":${failureList.mkString("[", ",", "]")},""" +
      s""""units":${units(untraced).size},"cpus":${o.cpus},""" +
      s""""e2e":${nums(e2e)},"layers":${nums(layers.toSeq.sortBy(_._1))},""" +
      s""""check_inputs":${obj(w.checkInputs.map { case (k, v) => k -> Json.str(v) })}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"non-finite metric value $d") else d.toString
}
