package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Maintenance, Upsert}
import graft.streaming.{CardStream, EventStreams, GramianStream,
  MicroBatchRunner, ModelStream, QuotaStream, StateFold, TopNStream}

/** The one micro-batch lifecycle ([[graft.streaming.MicroBatchRunner]]):
  * a failing batch surfaces, the flush still runs exactly once and the
  * scratch checkpoint is gone; a durable checkpoint is kept on every
  * exit; and the shared [[StateFold.requireDurableOverMarkers]] guard
  * refuses a scratch session over marked state for every fold. */
class MicroBatchRunnerSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType)))

  /** A landing dir with one one-row parquet file per id. */
  private def landingOf(ids: Long*): Path = {
    val landing = Files.createTempDirectory("graft_mbr_land_")
    ids.foreach(addFile(landing, _))
    landing
  }

  private def addFile(landing: Path, id: Long): Unit = {
    val tmp = landing.resolveSibling(s"${landing.getFileName}_tmp$id")
    Seq(id).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).toArray.toSeq.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, landing.resolve(s"f$id.parquet"))
    Maintenance.rmTree(tmp.toFile)
  }

  private def stream(landing: Path): DataFrame =
    MicroBatchRunner.landing(spark, landing.toString, schema, Some(1))

  /** Scratch checkpoints under `prefix` currently on disk. */
  private def scratchLeft(prefix: String): Seq[String] = {
    val probe = EventStreams.scratchDir("graft_mbr_probe_")
    Maintenance.rmTree(probe.toFile)
    Option(probe.getParent.toFile.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(prefix)).toSeq
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("a failing batch surfaces; flush runs once and the scratch checkpoint is gone") {
    val prefix = s"graft_mbr_${System.nanoTime}_"
    val landing = landingOf(0L, 1L, 2L)
    try {
      var flushes = 0
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val e = intercept[Exception] {
        MicroBatchRunner.run(stream(landing), prefix, None,
          () => flushes += 1) { (batch, batchId) =>
          if (batchId == 1L) throw new IllegalStateException("batch one fails")
          seen ++= batch.as[Long].collect()
        }
      }
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("batch one fails"))) shouldBe true
      seen.toSeq shouldBe Seq(0L)
      flushes shouldBe 1
      scratchLeft(prefix) shouldBe empty
      // the success path cleans up and flushes once too
      flushes = 0
      MicroBatchRunner.run(stream(landing), prefix, None,
        () => flushes += 1) { (batch, _) => seen ++= batch.as[Long].collect() }
      seen.toSeq.sorted shouldBe Seq(0L, 0L, 1L, 2L)
      flushes shouldBe 1
      scratchLeft(prefix) shouldBe empty
    } finally Maintenance.rmTree(landing.toFile)
  }

  test("a durable checkpointDir survives success and failure and continues ids") {
    val landing = landingOf(0L, 1L)
    val ckpt = Files.createTempDirectory("graft_mbr_durable_")
    try {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      MicroBatchRunner.run(stream(landing), "graft_mbr_unused_",
        Some(ckpt.toString), () => ()) { (_, batchId) => ids += batchId }
      ids.toSeq shouldBe Seq(0L, 1L)
      Files.isDirectory(ckpt.resolve("commits")) shouldBe true
      addFile(landing, 2L)
      intercept[Exception] {
        MicroBatchRunner.run(stream(landing), "graft_mbr_unused_",
          Some(ckpt.toString), () => ()) { (_, _) =>
          throw new IllegalStateException("boom")
        }
      }
      Files.isDirectory(ckpt.resolve("commits")) shouldBe true
      // the failed batch was never committed: the next session retries it
      MicroBatchRunner.run(stream(landing), "graft_mbr_unused_",
        Some(ckpt.toString), () => ()) { (_, batchId) => ids += batchId }
      ids.toSeq shouldBe Seq(0L, 1L, 2L)
    } finally {
      Maintenance.rmTree(landing.toFile)
      Maintenance.rmTree(ckpt.toFile)
    }
  }

  test("the marker guard refuses a scratch session over marked state, for every fold") {
    val root = Files.createTempDirectory("graft_mbr_guard_")
    try {
      val state = root.resolve("state").toString
      val landing = Files.createDirectories(root.resolve("landing")).toString
      Upsert.mergeParquetBatches(spark, state, Seq(1L).toDF("x"), Set(0L))(
        (_, updates) => updates)
      // the guard alone: fresh state passes, durable passes, scratch fails
      StateFold.requireDurableOverMarkers(root.resolve("fresh").toString,
        None, "test")
      StateFold.requireDurableOverMarkers(state, Some(root.toString), "test")
      (the[IllegalArgumentException] thrownBy
        StateFold.requireDurableOverMarkers(state, None, "test"))
        .getMessage should include("checkpointDir")
      // a swap that died between its renames is recovered first — the
      // table must not look missing and let the guard pass
      Files.move(java.nio.file.Paths.get(state),
        java.nio.file.Paths.get(state + "__old"))
      an[IllegalArgumentException] should be thrownBy
        StateFold.requireDurableOverMarkers(state, None, "test")
      Files.isDirectory(java.nio.file.Paths.get(state)) shouldBe true
      val out = root.resolve("out").toString
      val folds: Seq[(String, () => Unit)] = Seq(
        "card" -> (() => CardStream.runCardStream(spark, landing, state,
          SparkEntry.q130Weights)),
        "quota" -> (() => { QuotaStream.runQuotaAdmission(spark, landing,
          state, out, capPerSource = 1L); () }),
        "top-N" -> (() => { TopNStream.runTopN(spark, landing, state,
          n = 1, scoreCol = "id"); () }),
        "model" -> (() => ModelStream.runModelStream(spark, landing, state,
          nBuckets = 8)),
        "gramian" -> (() => GramianStream.runGramianStream(spark, landing,
          state)),
        "rollup" -> (() => EventStreams.incrementalRollup(spark, landing,
          state)),
        "cms" -> (() => EventStreams.streamingCmsCells(spark, landing, state,
          org.apache.spark.sql.functions.col("event_type"), depth = 2,
          width = 8)))
      folds.foreach { case (what, run) =>
        withClue(what) {
          (the[IllegalArgumentException] thrownBy run())
            .getMessage should include("checkpointDir")
        }
      }
      Upsert.appliedBatches(state) shouldBe Set(0L)
      spark.read.parquet(state).as[Long].collect().toSeq shouldBe Seq(1L)
    } finally Maintenance.rmTree(root.toFile)
  }
}
