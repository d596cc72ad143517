package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way graft commits state: the streaming MV folds and ingest
  * loops, the in-query folds and `RunIngest` (ingest and compaction) all
  * compose it. Three rules hold for each of them:
  *
  *   1. a commit writes its data first and its marker last;
  *   2. a retry skips anything already committed and clears a
  *      half-written remnant;
  *   3. a read sees only committed data, or an empty frame of the given
  *      schema when nothing is committed yet.
  *
  * A GENERATION is one parquet dir keyed by its caller (an
  * engine-supplied batchId, a fold step); its marker is the `_SUCCESS`
  * Spark's job committer writes after the data. A [[TableSet]] is a dir
  * of flat parquet tables that grow commit by commit; its markers are
  * the entries of its `_manifest`. At cluster scale both are a table
  * format's transactional commit keyed on the batch; this is that
  * contract over raw parquet, for one writer at a time.
  */
object Generations {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committed(spark: SparkSession, dir: String): Boolean = {
    val m = new Path(dir, "_SUCCESS")
    fsOf(spark, m).exists(m)
  }

  /** Commits `data` as the generation at `dir` unless it is committed;
    * the overwrite clears a half-written remnant. */
  def commit(spark: SparkSession, dir: String)(data: => DataFrame): Unit =
    if (!committed(spark, dir)) data.write.mode("overwrite").parquet(dir)

  /** The committed generation at `dir`; if none is committed yet, an
    * empty frame of `orEmpty`, or an error when that is not given. */
  def read(spark: SparkSession, dir: String, orEmpty: Option[StructType] = None): DataFrame =
    if (committed(spark, dir)) spark.read.parquet(dir)
    else empty(spark, orEmpty.getOrElse(
      throw new IllegalStateException(s"no committed generation at $dir")))

  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** An in-query fold: `seed` is generation 0 under `dir`, step i folds
    * generation i into i+1, and the last generation is returned. `dir` is
    * cleared first, so each execution redoes every step and reuses no
    * generation of an earlier one. */
  def fold(spark: SparkSession, dir: String, seed: DataFrame,
      steps: Seq[DataFrame => DataFrame]): DataFrame = {
    fsOf(spark, new Path(dir)).delete(new Path(dir), true)
    commit(spark, s"$dir/0")(seed)
    steps.zipWithIndex.foreach { case (step, i) =>
      commit(spark, s"$dir/${i + 1}")(step(read(spark, s"$dir/$i")))
    }
    read(spark, s"$dir/${steps.size}")
  }

  /** The key of the batch at `in`: a hash of its data files' paths,
    * lengths and modification times — a file listing, no Spark job. */
  def batchKey(spark: SparkSession, in: String): String = {
    val it = fsOf(spark, new Path(in)).listFiles(new Path(in), true)
    val listing = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(f => visible(f.getPath))
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").toSeq.sorted
    require(listing.nonEmpty, s"no data files at $in")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(listing.mkString("\n").getBytes(UTF_8)).take(8).map(b => f"$b%02x").mkString
  }

  /** Spark's parquet readers skip names that start with `_` or `.`. */
  private def visible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** Opens the table set at `root` and recovers it (see [[TableSet]]). */
  def tableSet(spark: SparkSession, root: String, tables: Seq[String]): TableSet = {
    val t = new TableSet(spark, root, tables)
    t.recover()
    t
  }

  /** Flat tables `<root>/<table>` and their `<root>/_manifest`.
    *
    * A commit under a 16-hex-digit key stages its rows under
    * `<root>/_stage`, moves the staged files into the table dirs as
    * `part-<key>-…`, and writes its manifest entry `<seq>-<key>.<kind>`
    * last. The entry holds the rows written per table (from the staged
    * files' footers), the running totals and the caller's summary line.
    * A `base` entry (a compaction) supersedes every earlier one.
    *
    * Opening the set deletes the staging dir and every data file whose
    * key has no entry, or only a superseded one: the remnants of a commit
    * that died before its entry, and the files a base replaced. A set
    * written before the manifest existed is first adopted as one `legacy`
    * base (its files carry no key), counted from its footers. */
  final class TableSet private[Generations] (spark: SparkSession, root: String,
      tables: Seq[String]) {

    private val fs = fsOf(spark, new Path(root))
    private val manifest = new Path(root, "_manifest")
    private val stage = s"$root/_stage"
    private val EntryName = """\d{10}-([0-9a-f]{16}|legacy)\.(batch|base)""".r
    private val KeyedFile = """part-([0-9a-f]{16})-.*""".r

    /** (key, base, path) of every entry, oldest first. */
    private def entries(): Seq[(String, Boolean, Path)] =
      if (!fs.exists(manifest)) Nil
      else fs.listStatus(manifest).map(_.getPath).sortBy(_.getName).toSeq.flatMap(p =>
        p.getName match {
          case EntryName(key, kind) => Some((key, kind == "base", p))
          case _ => None
        })

    private def props(entry: Path): java.util.Properties = {
      val p = new java.util.Properties()
      val in = fs.open(entry)
      try p.load(new java.io.InputStreamReader(in, UTF_8)) finally in.close()
      p
    }

    private def dataFiles(dir: String): Seq[Path] = {
      val p = new Path(root, dir)
      if (!fs.exists(p)) Nil else fs.listStatus(p).map(_.getPath).filter(visible).toSeq
    }

    private def footerRows(files: Seq[Path]): Long = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          f, spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount finally r.close()
    }.sum

    private def keyOf(f: Path): String =
      f.getName match { case KeyedFile(k) => k; case _ => "legacy" }

    private[Generations] def recover(): Unit = {
      def legacy(t: String) = dataFiles(t).filter(keyOf(_) == "legacy")
      if (!fs.exists(manifest) && tables.exists(legacy(_).nonEmpty)) {
        val rows = tables.map(t => t -> footerRows(legacy(t))).toMap
        writeEntry(0, "legacy", base = true, rows, rows, "")
      }
      fs.delete(new Path(stage), true)
      val es = entries()
      val live = es.drop(es.lastIndexWhere(_._2)).map(_._1).toSet
      for (t <- tables; f <- dataFiles(t) if !live(keyOf(f))) fs.delete(f, false)
    }

    /** The summary the commit of `key` stored, if `key` is committed. */
    def summary(key: String): Option[String] =
      entries().find(_._1 == key).map(e => props(e._3).getProperty("summary"))

    /** Committed rows per table, from the last entry. */
    def totals: Map[String, Long] = {
      val last = entries().lastOption.map(e => props(e._3))
      tables.map(t => t -> last.fold(0L)(_.getProperty(s"total.$t", "0").toLong)).toMap
    }

    def files(table: String): Int = dataFiles(table).size

    /** The committed rows of `table`, read with `schema` (no
      * schema-inference job), or an empty frame of it. */
    def read(table: String, schema: StructType): DataFrame =
      if (dataFiles(table).isEmpty) empty(spark, schema)
      else spark.read.schema(schema).parquet(s"$root/$table")

    /** Commits `writes` (table → rows) under `key` and returns the line
      * `summarize(rowsWritten, totalsAfter)`, which the entry stores. */
    def commit(key: String, writes: Seq[(String, DataFrame)], base: Boolean = false)(
        summarize: (Map[String, Long], Map[String, Long]) => String): String = {
      val es = entries()
      require(!es.exists(_._1 == key), s"$key is already committed in $root")
      writes.foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$stage/$t") }
      val staged = tables.map(t => t -> dataFiles(s"_stage/$t")).toMap
      val rows = staged.map { case (t, files) => t -> footerRows(files) }
      val before = if (base) Map.empty[String, Long] else totals
      val after = rows.map { case (t, n) => t -> (before.getOrElse(t, 0L) + n) }
      for ((t, files) <- staged; f <- files) {
        fs.mkdirs(new Path(root, t))
        val to = new Path(s"$root/$t/part-$key-${f.getName.stripPrefix("part-")}")
        require(fs.rename(f, to), s"could not move $f to $to")
      }
      val line = summarize(rows, after)
      writeEntry(es.size + 1, key, base, rows, after, line)
      if (base) recover() else fs.delete(new Path(stage), true)
      line
    }

    private def writeEntry(seq: Int, key: String, base: Boolean,
        rows: Map[String, Long], totals: Map[String, Long], summary: String): Unit = {
      val p = new java.util.Properties()
      rows.foreach { case (t, n) => p.setProperty(s"rows.$t", n.toString) }
      totals.foreach { case (t, n) => p.setProperty(s"total.$t", n.toString) }
      p.setProperty("summary", summary)
      val name = f"$seq%010d-$key.${if (base) "base" else "batch"}"
      val out = fs.create(new Path(manifest, s".$name"), true)
      try p.store(new java.io.OutputStreamWriter(out, UTF_8), null) finally out.close()
      // the rename is the commit point: an entry is whole or absent
      require(fs.rename(new Path(manifest, s".$name"), new Path(manifest, name)),
        s"could not commit $name in $root")
    }
  }
}
