package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Fs, Upsert}

/** Streaming top-N per key WITH REPLACEMENT — the reference's TopN
  * snapshot (`/root/reference/scripts/etl_snapshot_topn.py`'s head-N
  * slice) made continuous: the standing state is each source's current
  * top `n` documents by (score desc, doc_id asc), and every micro-batch
  * may displace standing entries that a better-scored arrival beats.
  * Contrast [[QuotaStream]]: a quota is first-come-first-served and
  * never evicts; a leaderboard keeps the BEST seen so far.
  *
  * State is AT MOST n×|sources| rows — bounded by the domain vocabulary
  * and the board size, never the corpus. Each batch folds as
  * top-N(state ∪ batch) per source and REPLACES the state through
  * [[Upsert.mergeParquet]]'s staged swap. Replay needs no special case
  * beyond the applied-marker skip: top-N is idempotent under re-merge
  * (top-N(top-N(S ∪ B) ∪ B) = top-N(S ∪ B) — the merge property of any
  * total order), so a replayed batch folded against the already-folded
  * state would reproduce it bit-for-bit anyway; the marker just makes
  * the skip free.
  *
  * At 100 TB: the per-batch work is one window over (state ∪ batch) —
  * state is board-sized, the batch is batch-sized, and nothing rescans
  * the corpus; the final board is the state table itself, read back in
  * one board-sized scan.
  */
object TopNStream {

  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The SESSION-scoped board fold — [[runTopN]]'s loop body, exposed as
    * a factory so it also plugs into [[AdmissionStream.runAdmission]]'s
    * `onBatchAdmitted` observer seam (the dedup → leaderboard
    * composition: only near-dup-admitted rows compete for the board,
    * q162). Idempotent per batchId — and idempotent even WITHOUT the
    * marker, by top-N's merge property; the marker makes the skip free.
    *
    * Construction resolves the standing state ONCE — crash recovery, the
    * embedded-board-size fail-fast, the applied set, and the board rows,
    * collected DRIVER-SIDE (n×|sources|-bounded by construction) — and
    * each batch carries the board forward IN MEMORY: the per-batch work
    * is ONE job (the top-N window over local-board ∪ arrivals, collected
    * back) — no localCheckpoint, no isEmpty probe (an empty batch simply
    * reproduces the board, detected by comparison), no state write.
    * State WRITES are GROUP-COMMITTED ([[StateFold]]): one staged swap
    * per `flushEvery` folded batches and at session end, carrying every
    * covered batch's applied marker. Single-writer contract enforced by
    * [[StateFold.takeLease]]; a crash restarts the session, which
    * re-reads the table from disk — see [[StateFold]] for the
    * group-commit durability contract. */
  def boardFold(spark: SparkSession, statePath: String, n: Int,
      scoreCol: String, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold = {
    Upsert.recoverStagedSwap(statePath)
    // durable OR finite-cadence sessions prime construction-time marker
    // evidence (StateFold's first-flush-window contract; the durable
    // flag keys priming on the same condition the restart guard uses —
    // see quotaFold)
    if (durable || flushEvery != Int.MaxValue)
      StateFold.primeMarkerEvidence(spark, statePath, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("source", StringType),
        StructField("score", LongType),
        StructField("p_n", IntegerType))))
    // board-size fail-fast (the p_* discipline): a board built at one n
    // is a DIFFERENT leaderboard at another — the standing state must
    // not silently shrink or pad. Empty distinct set = zero-row state
    // table (a legacy empty-batch fold) — treated as absent.
    val state =
      if (Fs.exists(statePath)) Some(spark.read.parquet(statePath))
      else None
    state.foreach { st =>
      val ns = st.select(col("p_n")).distinct()
        .collect().map(_.getInt(0)).toSet
      require(ns.isEmpty || ns == Set(n),
        s"top-N state at $statePath was built with n=${ns.mkString(",")}; " +
          s"refusing to fold with n=$n — start a new state table for " +
          "a new board size")
    }
    var applied = Upsert.appliedBatches(statePath)
    val boardSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("score", LongType)))
    // THE state: at most n×|sources| (doc_id, source, score) rows, held
    // driver-side in canonical (source, score desc, doc_id) order so
    // fold-result comparisons and flushed files are deterministic
    def canonical(rows: Seq[(Long, String, Long)]): Vector[(Long, String, Long)] =
      rows.sortBy { case (id, src, sc) => (src, -sc, id) }.toVector
    var board: Vector[(Long, String, Long)] = canonical(state
      .map(_.select(col("doc_id"), col("source"), col("score")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq)
      .getOrElse(Seq.empty))
    var pending = Set.empty[Long]
    var dirty = false
    val assertLease = StateFold.takeLease(statePath, "top-N")
    def boardDf(): DataFrame = {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(board.map { case (id, src, sc) =>
          org.apache.spark.sql.Row(id, src, sc) }: _*)
      spark.createDataFrame(rows, boardSchema)
    }
    def doFlush(): Unit =
      // a never-dirty session against no standing table records nothing
      // (an all-empty stream must not create a zero-row board that
      // poisons the p_n check); once a table exists, the flush also
      // marker-annotates batches that displaced nothing
      if (pending.nonEmpty && (dirty || Fs.exists(statePath))) {
        assertLease()
        Upsert.mergeParquetBatches(spark, statePath,
          boardDf().withColumn("p_n", lit(n)).coalesce(1),
          pending)((_, updates) => updates)
        applied ++= pending
        pending = Set.empty
        dirty = false
      }

    new StateFold {
      override def apply(batch: DataFrame, batchId: Long): Unit =
        if (!applied.contains(batchId) && !pending.contains(batchId)) {
          val arrivals = batch.select(col("doc_id"), col("source"),
            col(scoreCol).cast("long").as("score"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))
            .orderBy(col("score").desc, col("doc_id").asc)
          // ONE job: top-N(local board ∪ arrivals) collected back to the
          // driver — an empty batch reproduces the board bit-for-bit and
          // marks itself without dirtying anything
          val next = canonical(boardDf().unionByName(arrivals)
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= n)
            .select(col("doc_id"), col("source"), col("score"))
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq)
          if (next != board) { board = next; dirty = true }
          pending += batchId
          if (pending.size >= flushEvery) doFlush()
        }
      override def flush(): Unit = doFlush()
    }
  }

  /** Read the standing board at `statePath` (empty frame when none). */
  def readBoard(spark: SparkSession, statePath: String): DataFrame =
    if (Fs.exists(statePath))
      spark.read.parquet(statePath)
        .select(col("source"), col("doc_id"), col("score"))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("source", StringType),
          StructField("doc_id", LongType), StructField("score", LongType))))

  /** Run a bounded landing stream to completion, maintaining each
    * source's top-`n` board by (`score` desc, doc_id asc). `scoreCol`
    * names the landing column used as the score (must be castable to
    * long — exact-integer ordering, no float ties). Returns the final
    * board (`source`, `doc_id`, `score`). */
  def runTopN(spark: SparkSession, landingDir: String, statePath: String,
      n: Int, scoreCol: String,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(n > 0, "n must be positive")
    StateFold.requireDurableOverMarkers(statePath, checkpointDir,
      "top-N state")
    // group-commit crash guard (durable continuations only) — see
    // StateFold.requireNoLostFolds
    checkpointDir.foreach(c =>
      StateFold.requireNoLostFolds(statePath, c, "top-N"))
    val landingSchema = MicroBatchRunner.landingSchema(spark, landingDir,
      schemaFallback, defaultLandingSchema)
    // ONE session fold: standing board + applied set resolved here,
    // carried across batches in memory; scratch checkpoints flush once
    // at session end, durable ones every DefaultFlushEvery batches
    val fold = boardFold(spark, statePath, n, scoreCol,
      flushEvery = StateFold.flushEveryFor(checkpointDir),
      durable = checkpointDir.nonEmpty)
    MicroBatchRunner.run(
      MicroBatchRunner.landing(spark, landingDir, landingSchema,
        maxFilesPerTrigger),
      "graft_topn_ckpt_", checkpointDir, () => fold.flush())(fold)
    readBoard(spark, statePath)
  }
}
