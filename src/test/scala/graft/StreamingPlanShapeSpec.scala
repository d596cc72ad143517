package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Closes the streaming blind spots of the two plan audits: the `st*`
  * queries replay real micro-batch streams inside their constructors,
  * and their DECLARED frames are scans of the replay's output — so
  * neither JoinShapeGuardSpec's walk (BNLJ/Cartesian) nor
  * GroupArrayGuardSpec's walk (unbounded collect buffers) over declared
  * plans ever sees the plans that actually run per micro-batch (the
  * fold-vs-state join in every MV runner, the probe-vs-index join in
  * the ingest runners — and any future fold that collects per-key
  * history into an array, the t18/t27 OOM class in the ONE place state
  * accumulates across batches).
  *
  * This spec hooks [[EventStream.batchPlanProbe]] — a test-only
  * callback every `foreachBatch` runner offers its per-batch derived
  * frame before writing — runs every declared streaming query once, and
  * fails on (a) BroadcastNestedLoopJoin / CartesianProduct in ANY
  * captured micro-batch physical plan or the declared frame itself, and
  * (b) any [[GroupArrayGuard]] offender in ANY captured micro-batch
  * logical plan or the declared frame. Memory-sink streams (windowed
  * aggs, sessionization) have no foreachBatch side; their incremental
  * plans contain only stateful aggs over one input — the declared-frame
  * check still runs for them.
  *
  * A floor on the number of probed plans keeps the hook honest: if a
  * refactor drops the probeBatchPlan call, this spec goes red rather
  * than silently auditing nothing. A red-case test pins that the
  * collect walk actually fires on a collecting streaming fold. */
class StreamingPlanShapeSpec extends SparkSpec {

  // the shared walk descends into expression-embedded subquery plans
  // (subqueriesAll) — same audit, logical and physical, declared and
  // micro-batch, with no subquery blind spot anywhere
  private def bannedJoins(plan: SparkPlan): Seq[String] =
    JoinShapeGuard.bannedJoins(plan)

  test("no streaming micro-batch plan contains a banned join or an unbounded collect buffer") {
    val dir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val broken = scala.collection.mutable.ArrayBuffer[String]()
    var probedQueries = 0
    var probedPlans = 0
    for ((name, fn) <- SparkEntry.queries if name.startsWith("st")) {
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[(SparkPlan, LogicalPlan)]()
      EventStream.batchPlanProbe.set(df => {
        captured.add((df.queryExecution.sparkPlan, df.queryExecution.optimizedPlan)); ()
      })
      try {
        val declared = fn(spark, dir)
        val declaredHits = bannedJoins(declared.queryExecution.sparkPlan) ++
          GroupArrayGuard.offenders(declared.queryExecution.optimizedPlan)
        import scala.jdk.CollectionConverters._
        val batchHits = captured.asScala.toSeq.flatMap { case (phys, logical) =>
          bannedJoins(phys) ++ GroupArrayGuard.offenders(logical)
        }
        if (captured.size() > 0) { probedQueries += 1; probedPlans += captured.size() }
        val hits = (declaredHits ++ batchHits).distinct
        if (hits.nonEmpty)
          offenders += s"$name (${hits.mkString("/")}; ${captured.size()} batch plans audited)"
      } catch {
        case e: Throwable => broken += s"$name (${e.getClass.getSimpleName})"
      } finally {
        EventStream.batchPlanProbe.set(null)
      }
    }
    assert(broken.isEmpty,
      s"streaming queries failed to replay at sf0.001 — audit could not inspect them: $broken")
    assert(offenders.isEmpty,
      s"banned shape in streaming micro-batch or declared plans: ${offenders.mkString(", ")}")
    // the foldMvReplay family (st9, st15, st17–st24) and the two ingest
    // runners (st10, st11) all route through the probe; each replays
    // >= 2 micro-batches. If fewer than 12 queries or 24 plans were
    // captured, the hook has been disconnected from a runner.
    assert(probedQueries >= 12 && probedPlans >= 24,
      s"only $probedQueries streaming queries / $probedPlans micro-batch plans were " +
        "probed — a foreachBatch runner no longer calls EventStream.probeBatchPlan")
  }

  test("the collect walk fires on a collecting streaming fold (audit is not vacuous)") {
    // A scratch MV fold that collects per-key history into an array —
    // the exact t18/t27 shape, placed where state accumulates across
    // batches. The probe must capture its micro-batch plans and the
    // GroupArrayGuard walk must flag them; if this goes green the
    // streaming side of the guard has gone blind again.
    val s = spark; import s.implicits._
    val work = tempDir("graft_spec_collectprobe")
    val srcDir = work.resolve("src").toString
    Seq.tabulate(30)(i => (i.toLong, (i % 3).toLong, i.toDouble))
      .toDF("event_id", "user_id", "value")
      .repartitionByRange(3, col("event_id"))
      .write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    EventStream.batchPlanProbe.set(df => { captured.add(df.queryExecution.optimizedPlan); () })
    try {
      EventStream.foldMvReplay(spark, work, stream) { (prev, batch) =>
        val partial = batch.groupBy(col("user_id"))
          .agg(collect_list(col("value")).as("hist"))
        prev.fold(partial)(st => st.select(col("user_id"), col("hist"))
          .unionByName(partial))
      }
    } finally {
      EventStream.batchPlanProbe.set(null)
    }
    import scala.jdk.CollectionConverters._
    val plans = captured.asScala.toSeq
    assert(plans.nonEmpty, "probe captured no micro-batch plans")
    assert(plans.exists(p => GroupArrayGuard.offenders(p).nonEmpty),
      "GroupArrayGuard walk failed to flag a collecting streaming fold — " +
        "the streaming collect audit is vacuous")
  }
}
