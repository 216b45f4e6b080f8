package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Selection, Upsert}

/** STREAMING DSIR MODEL MAINTENANCE — the n-gram model artifact
  * ([[Selection.writeNgramModel]]) kept CURRENT under a document
  * firehose, the way [[CardStream]] maintains the dataset card and
  * [[EventStreams]] the CMS state: each micro-batch's hashed-n-gram
  * bucket counts ([[Selection.gramCells]] — ≤ 2·nBuckets cells however
  * large the batch) fold additively into the standing model table. The
  * counts are sums over disjoint document sets, so per-batch partials
  * merge EXACTLY: after any prefix of batches the artifact equals
  * [[Selection.writeNgramModel]] fitted over those batches' union in
  * one pass — the raw-corpus model a DSIR selection pass
  * ([[Selection.dsirWithModels]]) reloads is never stale by more than
  * one micro-batch, and the corpus is never rescanned.
  *
  * Scale shape: per batch, one batch-sized scan map-side combined to
  * ≤ 2·nBuckets cells before the shuffle, then a merge against a
  * ≤ 2·nBuckets-row standing table — the model state is bounded by the
  * hash width whatever the corpus, which is what makes continuous
  * maintenance viable when the stream is a firehose. Exactly-once is
  * the applied-batch marker: a replayed micro-batch (crash recovery
  * re-runs the last uncommitted batch) is skipped outright instead of
  * double-counting the additive fold. WRITES are GROUP-COMMITTED under
  * the [[StateFold]] discipline (driver-held bounded cells, one staged
  * swap per flush window + session end, single-writer lease, lost-fold
  * guard on durable continuations).
  */
object ModelStream {

  /** The flushed state-table schema — ONE definition shared by the
    * construction-time evidence priming and every flush, so the primed
    * table and the first real flush can never diverge. */
  private val stateSchema: StructType = StructType(Seq(
    StructField("s", org.apache.spark.sql.types.IntegerType),
    StructField("b", LongType),
    StructField("c", LongType),
    StructField("p_nbuckets", org.apache.spark.sql.types.IntegerType)))

  /** Landing schema fallback for an empty landing dir (stream opened
    * before the first file lands — footer probing needs a file). */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Fail fast when standing model state at `targetPath` was fitted
    * under a different hash width than `nBuckets` — the
    * embedded-parameter check of the versioned-artifact family (one
    * bounded distinct over an RLE'd constant column). ONLY an absent
    * table counts as "no evidence": any other read failure rethrows —
    * damaged state must fail loudly here, not slip past this guard AND
    * the applied-marker guard to be overwritten by the first merge. */
  private def validateModelBuckets(spark: SparkSession, targetPath: String,
      nBuckets: Int): Unit =
    if (graft.operators.Fs.exists(targetPath)) {
      val t = spark.read.parquet(targetPath)
      require(t.columns.contains("p_nbuckets"),
        s"model state at $targetPath carries no p_nbuckets — not a " +
          "writeNgramModel/ModelStream artifact; start a fresh targetPath")
      t.select(col("p_nbuckets")).filter(col("p_nbuckets").isNotNull)
        .distinct().collect()
        .foreach { r =>
          val pb = r.getInt(0)
          require(pb == nBuckets,
            s"model state at $targetPath was fitted at $pb buckets but " +
              s"the stream was asked for $nBuckets — folding across hash " +
              "widths silently mis-counts every gram; match the " +
              "build-time width or start a fresh targetPath")
        }
    }

  /** Run a bounded document stream to completion, folding each
    * micro-batch's hashed-n-gram counts into the model artifact at
    * `targetPath` (created on the first batch; readable by
    * [[Selection.readNgramModel]] / [[Selection.dsirWithModels]] at any
    * point between batches). `textCol` names the landing column holding
    * the document text.
    *
    * Cross-session contract = [[CardStream]]'s: a DURABLE
    * `checkpointDir` continues batch ids across invocations (committed
    * landing files are never re-folded); the scratch default is the
    * single-generation bounded replay, refused against standing state
    * whose applied-batch markers a restarted id sequence would collide
    * with. */
  def runModelStream(spark: SparkSession, landingDir: String,
      targetPath: String, nBuckets: Int, textCol: String = "text",
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): Unit = {
    // restores a mid-swap crash BEFORE any pre-merge read, or the
    // recoverable state looks missing and both fail-fast guards pass
    StateFold.requireDurableOverMarkers(targetPath, checkpointDir, "model")
    validateModelBuckets(spark, targetPath, nBuckets)
    val landingSchema = MicroBatchRunner.landingSchema(spark, landingDir,
      schemaFallback, defaultLandingSchema)
    // group-commit crash guard (durable continuations only) — see
    // StateFold.requireNoLostFolds
    checkpointDir.foreach { c =>
      StateFold.requireNoLostFolds(targetPath, c, "model")
      // prime construction-time marker evidence (StateFold's
      // first-flush-window contract — durable sessions only)
      StateFold.primeMarkerEvidence(spark, targetPath, stateSchema)
    }
    // SESSION-scoped fold (the [[StateFold]] discipline the quota/board/
    // card folds set): the standing cells are collected ONCE driver-side
    // (≤ 2·nBuckets rows — the model state is hash-width-bounded by
    // construction), each batch contributes ONE gramCells job collected
    // and summed in memory, and the staged-swap WRITE group-commits —
    // session end under the scratch default, every DefaultFlushEvery
    // batches under a durable checkpoint — carrying every covered
    // batch's applied marker. The old shape re-read and replace-wrote
    // the table every micro-batch: two jobs of pure fixed cost per batch
    // for a table whose size never grows.
    var applied = Upsert.appliedBatches(targetPath)
    var cells: Map[(Int, Long), Long] =
      if (graft.operators.Fs.exists(targetPath))
        spark.read.parquet(targetPath).select(col("s"), col("b"), col("c"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      else Map.empty
    var pending = Set.empty[Long]
    var dirty = false
    val assertLease = StateFold.takeLease(targetPath, "model")
    val flushEvery = StateFold.flushEveryFor(checkpointDir)
    def doFlush(): Unit =
      if (pending.nonEmpty && (dirty || graft.operators.Fs.exists(targetPath))) {
        assertLease()
        val schema = stateSchema
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(cells.toSeq.sortBy(_._1).map {
            case ((s, b), c) => org.apache.spark.sql.Row(s, b, c, nBuckets)
          }: _*)
        Upsert.mergeParquetBatches(spark, targetPath,
          spark.createDataFrame(rows, schema).coalesce(1),
          pending)((_, updates) => updates)
        applied ++= pending
        pending = Set.empty
        dirty = false
      }
    MicroBatchRunner.run(
      MicroBatchRunner.landing(spark, landingDir, landingSchema,
        maxFilesPerTrigger),
      "graft_model_ckpt_", checkpointDir, () => doFlush()) {
      (batch, batchId) =>
        if (!applied.contains(batchId) && !pending.contains(batchId)) {
          val delta = Selection.gramCells(batch, col(textCol), nBuckets)
            .collect() // ≤ 2·nBuckets rows, the documented bounded collect
          if (delta.nonEmpty) {
            cells = delta.foldLeft(cells) { (m, r) =>
              val k = (r.getInt(0), r.getLong(1))
              m.updated(k, m.getOrElse(k, 0L) + r.getLong(2))
            }
            dirty = true
          }
          pending += batchId
          if (pending.size >= flushEvery) doFlush()
        }
    }
  }
}
