package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Bench, Verify,
  * Smoke, Harness, the four runners and the test suite all build
  * through here, so a CPU count or a sweep axis means the same thing in
  * each of them:
  *
  *   - `local[cpus]`, cpus = `SPARK_GRAFT_CPUS`, else the JVM's
  *     available processors; `spark.sql.shuffle.partitions` = cpus
  *   - UTC session time zone
  *   - `spark.sql.ansi.enabled` = `SPARK_GRAFT_ANSI` (default true).
  *     Spark 4 already defaults to ANSI, so the plain run is strict mode;
  *     the knob exists for the opposite sweep, `SPARK_GRAFT_ANSI=false`,
  *     which re-runs a surface under legacy silent-null arithmetic
  *   - bounded stream replays at
  *     [[graft.streaming.EventStream.DefaultReplayPartitions]] (4) state
  *     partitions (state-store commit overhead dominates at bench scale;
  *     see [[graft.streaming.EventStream.ReplayPartitionsKey]])
  *   - no UI
  *   - `SPARK_GRAFT_CONF="k1=v1;k2=v2"` pins any other session conf,
  *     applied last so it overrides everything above (codegen-off,
  *     AQE-off, forced spill, tiny splits, …)
  */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(n) => n.trim.toInt
    case None => Runtime.getRuntime.availableProcessors
  }

  /** The configured builder, for a caller that adds a conf of its own
    * (the test suite's temp warehouse) before `getOrCreate`. */
  def builder: SparkSession.Builder = {
    val n = cpus
    val base = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", sys.env.getOrElse("SPARK_GRAFT_ANSI", "true"))
      .config(graft.streaming.EventStream.ReplayPartitionsKey,
        graft.streaming.EventStream.DefaultReplayPartitions.toString)
      .config("spark.ui.enabled", "false")
    parseConf(sys.env.get("SPARK_GRAFT_CONF"))
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
  }

  def build(): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session's scratch path `name`, under one root per application,
    * `<java.io.tmpdir>/graft_<appId>` (two concurrent sessions never share
    * files): sink round-trips, fold generations, prebuilt bench indexes.
    * The root is deleted when the JVM exits. Nothing is created here. */
  def scratch(spark: SparkSession, name: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${spark.sparkContext.applicationId}")
    org.apache.spark.sql.graftbridge.Bridge.deleteOnShutdown(root.toFile)
    root.resolve(name)
  }

  /** Parse the `SPARK_GRAFT_CONF` sweep knob ("k1=v1;k2=v2"). Entries
    * are ';'-split unconditionally, so VALUES MAY NOT CONTAIN ';'
    * (documented in the verify skill); an entry without '=' fails with
    * a message naming the bad token, so a typo'd sweep axis is a
    * one-glance fix. */
  private[graft] def parseConf(env: Option[String]): Seq[(String, String)] =
    env.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0,
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value (format: k1=v1;k2=v2; " +
            "values may not contain ';')")
        (kv.substring(0, i).trim, kv.substring(i + 1).trim)
      }
}
