package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.{Pca, Upsert}

/** STREAMING PCA MOMENT MAINTENANCE — the co-moment state behind a
  * whitening/decorrelation model ([[Pca]]) kept CURRENT under an
  * embedding firehose, the way [[ModelStream]] maintains the DSIR
  * n-gram model: each micro-batch's quantized moment rows
  * ([[Pca.momentRows]] — a d×d long Gramian + d sums + a count,
  * ≤ d²+d+1 cells however large the batch) fold additively into the
  * standing state table. The terms are exact integer sums over
  * disjoint row sets, so per-batch partials merge EXACTLY: after any
  * prefix of batches the artifact equals one [[Pca.momentRows]] pass
  * over those batches' union, and [[Pca.fitFromArtifact]] serves a
  * fresh model at any point between batches without ever rescanning
  * the corpus — the fit every embedding pipeline wants "as of now",
  * priced at a d²-bounded eigensolve instead of a corpus pass.
  *
  * Scale shape: per batch, one batch-sized scan collapsed to ≤ d²+d+1
  * cells BEFORE the shuffle, then a merge against a same-bounded
  * standing table. Exactly-once is [[Upsert.mergeParquet]]'s
  * applied-batch marker: a replayed micro-batch (crash recovery
  * re-runs the last uncommitted batch) is skipped outright instead of
  * double-counting the additive fold. Parameters ride IN the artifact
  * (`p_scale`, `p_dim`) and mismatches fail fast — folding moments
  * quantized at different scales, or embeddings of different widths,
  * silently corrupts every downstream eigensolve. The dim expectation
  * is resolved ONCE per session from the standing table (the
  * per-batch-FS-cost lesson), then carried forward in-session.
  */
object GramianStream {

  /** Landing schema fallback for an empty landing dir (stream opened
    * before the first file lands — footer probing needs a file). */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** The flushed state-table schema — ONE definition shared by the
    * construction-time evidence priming and every flush, so the primed
    * table and the first real flush can never diverge. */
  private val stateSchema: StructType = StructType(Seq(
    StructField("i", org.apache.spark.sql.types.IntegerType),
    StructField("j", org.apache.spark.sql.types.IntegerType),
    StructField("q", LongType),
    StructField("p_scale", org.apache.spark.sql.types.DoubleType),
    StructField("p_dim", org.apache.spark.sql.types.IntegerType)))

  /** Standing-state parameter check: only an absent table counts as
    * "no evidence"; any other read failure rethrows (damaged state
    * must fail loudly, not slip past to be overwritten by the first
    * merge). Returns the standing dim, when state exists. */
  private def validateStanding(spark: SparkSession, targetPath: String,
      scale: Double): Option[Int] =
    if (!graft.operators.Fs.exists(targetPath)) None
    else {
      val t = spark.read.parquet(targetPath)
      require(t.columns.contains("p_scale") && t.columns.contains("p_dim"),
        s"state at $targetPath carries no p_scale/p_dim — not a " +
          "GramianStream artifact; start a fresh targetPath")
      val params = t.select(col("p_scale"), col("p_dim"))
        .distinct().collect()
      // a ZERO-ROW table is primed marker evidence (StateFold's
      // first-flush-window contract) — no parameter evidence, treated
      // as absent, exactly like the quota/board folds' empty-distinct
      // handling
      if (params.isEmpty) return None
      require(params.length == 1,
        s"state at $targetPath carries ${params.length} distinct " +
          "parameter rows — damaged artifact")
      val (ps, pd) = (params.head.getDouble(0), params.head.getInt(1))
      require(ps == scale,
        s"state at $targetPath was quantized at scale $ps but the " +
          s"stream was asked for $scale — folding across scales " +
          "mis-weights every term; match the build-time scale or " +
          "start a fresh targetPath")
      Some(pd)
    }

  /** Run a bounded embedding stream to completion, folding each
    * micro-batch's moment cells into the state at `targetPath`
    * (created on the first batch; readable by [[Pca.fitFromArtifact]]
    * at any point between batches). `vecCol` names the landing column
    * holding the embedding array.
    *
    * Cross-session contract = [[ModelStream]]'s: a DURABLE
    * `checkpointDir` continues batch ids across invocations (committed
    * landing files are never re-folded); the scratch default is the
    * single-generation bounded replay, refused against standing state
    * whose applied-batch markers a restarted id sequence would collide
    * with. */
  def runGramianStream(spark: SparkSession, landingDir: String,
      targetPath: String, scale: Double = 1e6, vecCol: String = "embedding",
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): Unit = {
    StateFold.requireDurableOverMarkers(targetPath, checkpointDir,
      "gramian state")
    var expectDim = validateStanding(spark, targetPath, scale)
    val landingSchema = MicroBatchRunner.landingSchema(spark, landingDir,
      schemaFallback, defaultLandingSchema)
    // group-commit crash guard (durable continuations only) — see
    // StateFold.requireNoLostFolds
    checkpointDir.foreach { c =>
      StateFold.requireNoLostFolds(targetPath, c, "gramian")
      // prime construction-time marker evidence (StateFold's
      // first-flush-window contract — durable sessions only)
      StateFold.primeMarkerEvidence(spark, targetPath, stateSchema)
    }
    // SESSION-scoped fold (the [[StateFold]] discipline): the standing
    // cells are collected ONCE driver-side (≤ d²+d+1 rows — bounded by
    // the embedding width, never the corpus), each batch contributes ONE
    // momentRows job collected and summed in memory (width markers
    // checked off the same collect — no separate dim-probe job, no
    // checkpoint, no isEmpty probe), and the staged-swap WRITE
    // group-commits: session end under the scratch default, every
    // DefaultFlushEvery batches under a durable checkpoint.
    var applied = Upsert.appliedBatches(targetPath)
    var moments: Map[(Int, Int), Long] =
      if (graft.operators.Fs.exists(targetPath))
        spark.read.parquet(targetPath).select(col("i"), col("j"), col("q"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      else Map.empty
    var pending = Set.empty[Long]
    var dirty = false
    val assertLease = StateFold.takeLease(targetPath, "gramian")
    val flushEvery = StateFold.flushEveryFor(checkpointDir)
    def doFlush(): Unit =
      if (pending.nonEmpty &&
          (dirty || graft.operators.Fs.exists(targetPath))) {
        assertLease()
        val schema = stateSchema
        // an empty-only session against a PRIMED table (durable
        // cadence) flushes zero rows — markers only: there is no dim
        // evidence yet, and demanding one here would crash exactly the
        // session the priming exists to keep healthy
        val rows: java.util.List[org.apache.spark.sql.Row] =
          if (moments.isEmpty) java.util.Collections.emptyList()
          else {
            val dim = expectDim.getOrElse(
              throw new IllegalStateException("flush with no dim evidence"))
            java.util.Arrays.asList(moments.toSeq.sortBy(_._1).map {
              case ((i, j), v) =>
                org.apache.spark.sql.Row(i, j, v, scale, dim)
            }: _*)
          }
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
      "graft_gramian_ckpt_", checkpointDir, () => doFlush()) {
      (batch, batchId) =>
        if (!applied.contains(batchId) && !pending.contains(batchId)) {
          // ONE job: the batch's cells, ≤ d²+d+1 data rows plus one
          // (-2, d) width marker per non-empty partition — the
          // documented bounded collect
          val cells = Pca.momentRows(batch, col(vecCol), scale)
            .select(col("i"), col("j"), col("q")).collect()
          if (cells.nonEmpty) {
            // the batch's dim comes from the width markers: a batch
            // whose FILES carry different widths yields several distinct
            // markers (each partition alone is internally consistent, so
            // max(i)+1 would just report the widest and silently fold
            // the rest) — fail fast instead. Markers are a PER-BATCH
            // check and never persist: their counts differ between a
            // streamed fold and the one-pass batch computation the
            // state is contracted to equal.
            val dims = cells.filter(_.getInt(0) == -2)
              .map(_.getInt(1)).distinct
            require(dims.length == 1,
              s"batch $batchId carries embeddings of mixed widths " +
                s"(${dims.sorted.mkString(",")}) — folding mixed widths " +
                "corrupts the Gramian; fix the landing data")
            val batchDim = dims.head
            expectDim.foreach(d => require(d == batchDim,
              s"batch $batchId carries dim-$batchDim embeddings but the " +
                s"standing state at $targetPath is dim-$d — folding " +
                "mixed widths corrupts the Gramian; fix the landing data " +
                "or start a fresh targetPath"))
            expectDim = Some(batchDim)
            moments = cells.filter(_.getInt(0) >= -1).foldLeft(moments) {
              (m, r) =>
                val k = (r.getInt(0), r.getInt(1))
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
