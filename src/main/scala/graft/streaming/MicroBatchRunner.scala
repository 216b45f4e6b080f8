package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The bounded micro-batch lifecycle every stream session here runs:
  * resolve the checkpoint, start, drain, stop, flush, clean up. The
  * per-stream code supplies only its per-batch body (and its flush).
  *
  * Checkpoint: a caller's DURABLE `checkpointDir` is used and kept — it
  * is the cross-session exactly-once state (batch ids continue across
  * sessions). Without one, a private scratch checkpoint
  * ([[EventStreams.scratchDir]]) is created and deleted on every exit,
  * success or failure.
  *
  * Flush: runs once after the query stops, also when a batch failed — a
  * half-run session persists what it folded (the [[StateFold]] group
  * commit). A failure in the body still surfaces from [[run]]. */
object MicroBatchRunner {

  /** The landing files' own footer schema (a batch schema read, no data
    * scan — probe, don't assume), else `fallback`, else `default`: an
    * empty landing dir (a stream opened before the first file lands)
    * has no footer to read. */
  def landingSchema(spark: SparkSession, landingDir: String,
      fallback: Option[StructType], default: StructType): StructType =
    scala.util.Try(spark.read.parquet(landingDir).schema).toOption
      .orElse(fallback).getOrElse(default)

  /** A parquet file stream over `landingDir` read with `schema`, at most
    * `maxFilesPerTrigger` files per micro-batch when set. */
  def landing(spark: SparkSession, landingDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(landingDir)
  }

  /** Run `stream` to completion, calling `body` with each micro-batch
    * and its id (driver-side, so the body may update driver state), then
    * `flush`. `scratchPrefix` names the scratch checkpoint used when
    * `checkpointDir` is None. */
  def run(stream: DataFrame, scratchPrefix: String,
      checkpointDir: Option[String], flush: () => Unit)(
      body: (DataFrame, Long) => Unit): Unit =
    runSink(stream, scratchPrefix, checkpointDir, flush)(_.foreachBatch(body))

  /** [[run]]'s lifecycle for a sink other than a per-batch body (a file
    * sink whose own commit log gives exactly-once): `sink` configures the
    * checkpointed writer before it starts. */
  def runSink(stream: DataFrame, scratchPrefix: String,
      checkpointDir: Option[String], flush: () => Unit)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val ckpt = checkpointDir.map(java.nio.file.Paths.get(_))
      .getOrElse(EventStreams.scratchDir(scratchPrefix))
    try {
      val q = sink(stream.writeStream
        .option("checkpointLocation", ckpt.toString)).start()
      try q.processAllAvailable() finally { q.stop(); flush() }
    } finally if (checkpointDir.isEmpty)
      graft.operators.Maintenance.rmTree(ckpt.toFile)
  }
}
