package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every entry point and the spec suite runs in.
  * Each conf is set here exactly once; callers pass only what really
  * differs between them (a deployment master, a private warehouse dir).
  * Building is idempotent: `getOrCreate` hands back the live session,
  * so a second call in one JVM reuses it. */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every core. `.toInt`
    * fails fast on a non-numeric value — Bench and BenchScale interpolate
    * it unquoted into their artifact JSON (`"cpus":N`), where a
    * `local[*]`-style string would silently emit invalid JSON. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions and the confs below;
    * `overrides` are applied last, so they win over any of them. */
  def build(cpus: Int, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // every hour/day bucket and timestamp literal is UTC, independent
      // of the host's zone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // nanos-timestamp parquet (events) read as raw long at every entry
      // point, not as a loader side effect — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // streaming checkpoints bypass the Hadoop local-FS metadata-write
      // path, which costs 41-49 ms per write without libhadoop — see
      // NioCheckpointFileManager (local `file:` checkpoints only; any
      // other scheme fails fast there)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.NioCheckpointFileManager")
      // batch-write commits: direct task commit (algorithm 2) and no
      // _SUCCESS markers -- per-batch output dirs are re-read by path,
      // markers are filtered as debris everywhere (see Maintenance)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // compiled-plan (Janino) cache, default 100 entries: one app
      // running 166 distinct queries holds far more generated classes
      // than that, so every timed pass was re-compiling virtually every
      // plan (~10-50 ms per generated class of driver fixed cost). Static
      // conf, so it must land at session build; sized to hold the whole
      // query suite's codegen. Results are unaffected — this caches
      // compilation, never data.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
