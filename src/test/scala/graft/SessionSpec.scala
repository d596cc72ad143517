package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One session builder, one harness query map: pins that no entry point
  * or spec builds a SparkSession on its own (the confs drift apart the
  * moment a second builder exists), that the harness rejects a name it
  * cannot resolve, and that a failing query is a FAILED census row,
  * never a timed one. */
class SessionSpec extends SparkSpec {

  /** (path, text) of every `src/main` source file. */
  private lazy val mainSources = {
    val files = Files.walk(Paths.get("src/main"))
    val sources = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    assert(sources.nonEmpty, "run from the repo root")
    sources.map(p => p.toString.replace('\\', '/') -> Files.readString(p))
  }

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

  test("one distributed prefix-scan kernel: no hand-copied offsets scan outside Relational") {
    // needles split so this file does not match itself
    val offsetsWindow = "rowsBetween(Window.unboundedPreceding, " + "-1)"
    val pid = "spark_partition" + "_id()"
    val pidSources = Seq(pid, "monotonically_increasing" + "_id()", "getPartition" + "Id")
    val sources = mainSources
    val copies = sources.collect {
      case (f, text) if !f.endsWith("core/Relational.scala") && text.contains(offsetsWindow) &&
          text.contains("broadcast(") && pidSources.exists(text.contains) => f
    }
    assert(copies.isEmpty, s"prefix-offset scans outside Relational.prefixScan: $copies")
    // the one spark_partition_id() left computes footer stats, not a scan
    val pidUses = sources.filter(_._2.contains(pid))
    assert(pidUses.map(_._1) === Seq("src/main/scala/graft/core/Layout.scala"))
    val layout = pidUses.head._2
    val at = layout.indexOf(pid)
    assert(at > layout.indexOf("def partitionBounds") && at == layout.lastIndexOf(pid),
      "spark_partition_id() may appear only in Layout.partitionBounds")
  }

  test("one banded-LSH kernel: banding, bucket self-join and verify appear once, in Dedup") {
    val needles = Seq(
      "slice(col(\"sig\")" -> "MinHash band key",
      "shiftrightunsigned(col(\"sig\")" -> "sign-bit band key",
      "band_hash\") === col(" -> "band bucket self-join",
      "sa.shingle\") === col(\"sb.shingle\")" -> "exact Jaccard verify",
      "cosine(col(\"va\"), col(\"vb\"))" -> "exact cosine verify")
    needles.foreach { case (needle, what) =>
      val hits = mainSources.flatMap { case (f, text) =>
        Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
          .takeWhile(_ >= 0).map(_ => f)
      }
      assert(hits === Seq("src/main/scala/graft/llm/Dedup.scala"),
        s"$what must be written once, in Dedup's kernel; found in $hits")
    }
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
