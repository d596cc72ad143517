package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One session builder, one harness query map: pins that no entry point
  * or spec builds a SparkSession on its own (the confs drift apart the
  * moment a second builder exists), that the harness rejects a name it
  * cannot resolve, and that a failing query is a FAILED census row,
  * never a timed one. */
class SessionSpec extends SparkSpec {

  test("Session.scala is the only file that builds a session") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: $r missing"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => Files.readString(p).contains(needle))
      .map(_.toString.replace('\\', '/'))
    assert(offenders === Seq("src/main/scala/graft/Session.scala"))
  }

  test("the shared spec session carries Session's confs") {
    val expected = Map(
      "spark.sql.shuffle.partitions" -> Session.cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      streaming.EventStream.ReplayPartitionsKey -> "4") ++
      Session.parseConf(sys.env.get("SPARK_GRAFT_CONF"))
    // the launch conf, not the runtime one: other specs may scope a
    // runtime conf change while this suite runs
    val conf = spark.sparkContext.getConf
    expected.foreach { case (k, v) => assert(conf.get(k) === v, k) }
  }

  test("Harness resolves names in one merged map and rejects unknown ones by name") {
    val all = Harness.resolve(Nil).map(_._1)
    assert(all === all.sorted)
    assert(all.toSet === SparkEntry.queries.keySet ++ graft.queries.BenchOps.ops.keySet)
    assert(Harness.resolve(Seq("t1_events_daily")).map(_._1) === Seq("t1_events_daily"))
    val e = intercept[IllegalArgumentException] {
      Harness.resolve(Seq("t1_events_daily", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(!e.getMessage.contains("t1_events_daily"), e.getMessage)
    Harness.PlanPicks.foreach(q => assert(SparkEntry.queries.contains(q), q))
  }

  test("census reports a query that throws as FAILED, not as a time") {
    val rows = Harness.census(spark, "unused", Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("planted failure")),
      "ok" -> ((s, _) => s.range(10).toDF("id"))))
    val byName = rows.map(r => r.name -> r).toMap
    assert(byName("boom").result.isLeft)
    assert(byName("boom").tsv.startsWith("boom\tFAILED\t"), byName("boom").tsv)
    assert(byName("boom").tsv.contains("planted failure"), byName("boom").tsv)
    assert(byName("ok").result.isRight, byName("ok").tsv)
    assert(byName("ok").jobs >= 1, byName("ok").tsv)
    assert(!byName("ok").stale)
  }
}
