package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String

/** Output sinks (SURVEY.md §2.1 S4–S6): CSV golden tables, JSON summary,
  * Markdown report. The reference's entire deliverable is 29 CSVs + 1
  * JSON + 1 report (`eda_workspace/public_eda_pipeline.py:104-905`), all
  * ≤ ~21k rows — post-aggregation artifacts.
  *
  * Scale stance: these sinks are for SMALL results (the contract of every
  * call site: aggregated tables). The CSV and report sinks take driver
  * rows, sorted with [[orderBy]] (Spark's order, so the bytes match a
  * Spark `orderBy`); their DataFrame forms collect through
  * [[collectSmall]], guarded by `maxRows` so a mis-wired call on a 100 TB
  * frame fails fast instead of OOMing the driver, and delegate, so each
  * format has one cell formatter. Anything larger goes through
  * `df.write` (one file per partition, no driver round-trip).
  */
object Sinks {

  /** One sort key of [[orderBy]]: a cell of the row and its direction. */
  final case class Key[T](cell: T => Any, ascending: Boolean)
  def asc[T](cell: T => Any): Key[T] = Key(cell, ascending = true)
  def desc[T](cell: T => Any): Key[T] = Key(cell, ascending = false)

  /** Driver twin of Spark's `orderBy(keys…)` for small driver tables:
    * ascending puts nulls first and descending puts them last (Spark's
    * defaults), NaN is greater than every number, -0.0 equals 0.0, and
    * strings compare as UTF-8 bytes. Stable, so rows tied on every key
    * keep their input order — give a unique last key, as with Spark. */
  def orderBy[T](rows: Seq[T])(keys: Key[T]*): Seq[T] =
    rows.sorted(new Ordering[T] {
      def compare(a: T, b: T): Int =
        keys.iterator.map { k =>
          val c = compareCells(k.cell(a), k.cell(b))
          if (k.ascending) c else -c
        }.find(_ != 0).getOrElse(0)
    })

  /** Spark's ascending order of two cells of one column type. */
  private def compareCells(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Driver-side CSV writer for small tables (header + RFC-ish quoting),
    * rows in the given order; a row's cells past the header are not
    * written. */
  def writeCsv(header: Seq[String], rows: Seq[Row], path: String): Unit = {
    def cell(v: Any): String = v match {
      case null => ""
      case s: String if s.contains(",") || s.contains("\"") || s.contains("\n") =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case other => other.toString
    }
    val sb = new StringBuilder
    sb.append(header.mkString(",")).append('\n')
    rows.foreach { r =>
      sb.append(header.indices.map(i => cell(r.get(i))).mkString(",")).append('\n')
    }
    writeText(sb.toString, path)
  }

  /** The rows of a small aggregated frame, in the frame's order. Collected
    * through a `limit`, so a sorted frame plans as one top-k instead of a
    * range shuffle; fails fast past `maxRows`. */
  def collectSmall(df: DataFrame, maxRows: Int = 100000): Seq[Row] = {
    val rows = df.limit(maxRows + 1).collect().toSeq
    require(rows.length <= maxRows,
      s"> $maxRows rows — write large outputs with `df.write`, one file per partition")
    rows
  }

  /** [[writeCsv]] of a small aggregated frame, in the frame's order — give
    * it a sorted frame. */
  def writeCsv(df: DataFrame, path: String, maxRows: Int = 100000): Unit =
    writeCsv(df.columns.toSeq, collectSmall(df, maxRows), path)

  /** Hive-partitioned parquet sink — the 100-TB-corpus write shape:
    * `dir/col=value/part-*.parquet` so downstream readers get partition
    * PRUNING for free (a filter on a partition column skips whole
    * directories; visible as PartitionFilters in the scan). Sort within
    * partitions by `sortCols` for better run-length/dictionary encoding.
    * Cap output file count per partition value with `maxFilesPerPartition`
    * (repartition on the partition cols) to avoid the
    * many-small-files problem on object stores. */
  def writeParquetPartitioned(
      df: DataFrame, dir: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil, maxFilesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions._
    require(maxFilesPerPartition >= 1)
    val parts = partitionCols.map(col)
    // hash-repartition on the partition columns → each value lands in ONE
    // task → one file per partition dir; for wider parallelism on huge
    // partition values, a deterministic-enough salt splits each value
    // across up to maxFilesPerPartition tasks/files
    val shaped0 =
      if (maxFilesPerPartition == 1) df.repartition(parts: _*)
      else df.repartition(
        parts :+ pmod(xxhash64(monotonically_increasing_id()), lit(maxFilesPerPartition)): _*)
    val shaped =
      if (sortCols.nonEmpty)
        shaped0.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else shaped0
    shaped.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)
  }

  /** Minimal JSON rendering of a scalar map (S5 `summary.json`). Values:
    * numbers, booleans, strings, null. Keys emitted in insertion order. */
  def toJson(m: Seq[(String, Any)]): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def render(v: Any): String = v match {
      case null => "null"
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString
      case f: Float => render(f.toDouble)
      case s: String => "\"" + esc(s) + "\""
      case seq: Seq[_] => seq.map(render).mkString("[", ",", "]")
      case other => "\"" + esc(other.toString) + "\""
    }
    m.map { case (k, v) => "\"" + esc(k) + "\": " + render(v) }
      .mkString("{\n  ", ",\n  ", "\n}")
  }

  def writeJson(m: Seq[(String, Any)], path: String): Unit = writeText(toJson(m), path)

  /** Fixed-width pretty table of the first `n` rows (S6 report blocks —
    * mirrors the reference's `pretty` helper, `public_eda_pipeline
    * .py:46-49`). */
  def pretty(header: Seq[String], rows: Seq[Row], n: Int): String = {
    val cells = rows.take(n).map(r => header.indices.map(i => Option(r.get(i)).map {
      case d: Double => f"$d%.6g"
      case other => other.toString
    }.getOrElse("null")))
    val widths = header.indices.map(i =>
      (header(i).length +: cells.map(_(i).length)).max)
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.reverse.padTo(w, ' ').reverse }
        .mkString("  ")
    (line(header) +: cells.map(line)).mkString("\n")
  }

  /** [[pretty]] of a frame's first `n` rows. */
  def pretty(df: DataFrame, n: Int = 10): String =
    pretty(df.columns.toSeq, df.limit(n).collect().toSeq, n)

  def writeText(s: String, path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, s)
  }

  /** Small-file compaction: rewrite a parquet dir into
    * ceil(totalBytes / targetBytes) files — the maintenance pass every
    * streaming/incremental ingest needs (a 100 TB table fed by
    * per-batch appends degrades into millions of KB-files whose open/
    * footer cost dominates scans; compaction restores ~targetBytes
    * row-group-sized files). File listing + sizing via the Hadoop FS
    * API (cluster-correct, not java.io), one full read → repartition →
    * write. Returns (filesBefore, filesAfter). Content is preserved
    * exactly (row-level; ordering is not part of the parquet contract).
    * For partitioned tables run per-partition with dynamic overwrite
    * (p12's pattern) so only hot partitions rewrite. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
    // this sizes TOP-LEVEL files only; a hive-partitioned table (data in
    // key=value subdirs) would size to 0 and silently collapse every
    // partition into one file — refuse it and point at the documented
    // per-partition pattern instead of doing the wrong thing quietly
    require(!entries.exists(_.isDirectory),
      s"compactParquet: $inDir contains subdirectories (partitioned table?) — " +
        "compact per-partition with dynamic overwrite (p12's pattern) instead")
    val files = entries.filter(_.isFile)
    val before = files.length
    val total = files.map(_.getLen).sum
    require(before > 0 && total > 0,
      s"compactParquet: no sizable data files under $inDir (files=$before, bytes=$total)")
    val after = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(after)
      .write.mode("overwrite").parquet(outDir)
    (before, after)
  }
}
