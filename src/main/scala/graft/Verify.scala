package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in `failed.json` ({name → exception}) so a broken
  * query is a loud named failure in the artifact, never a silently
  * missing key (round 9 lost 8 queries invisibly that way). */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL (or an exception message)
    * would otherwise make the driver's json.load fail and silently zero
    * the round's correctness. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def jsonObj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump AND oracle_sql.json to
    // the named queries, so compare_oracle.py checks just those — an
    // iteration aid; the driver never sets it, so the gate always runs
    // (and writes the oracle for) the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    val oracle = only match {
      case Some(names) => SparkEntry.oracleSql.filter { case (name, _) => names.contains(name) }
      case None => SparkEntry.oracleSql
    }
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        failed(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObj(oracle))
    Files.writeString(Paths.get(s"$outDir/failed.json"), jsonObj(failed))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
