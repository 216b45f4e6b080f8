package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.Hashing
import graft.operators.{BattleOps, Classifier, SnapshotPipeline}
import graft.sources.{CardMetadata, Tables}

/** One workload of the benchmark. A run is one JVM: the session, the
  * workload's warmup, then one timed pass of its operations, each started
  * when the previous one ended (a closed loop with one caller) and each
  * checked. The traced run adds the per-layer probes and the attribution
  * self-check. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
  /** Wall seconds of each timed operation, in order. */
  val ops: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Details written to the recording beside the result. */
  val details: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Untimed work before the pass; part of setup. */
  def warmup(): Unit = ()
  /** The timed pass. */
  def pass(): Unit
  def passSeconds: Double = ops.map(_._2).sum
  /** Per-layer metrics of this workload (traced run only). */
  def layers(): Map[String, Double]
  /** The traced run's self-check: a known delay at one span boundary.
    * Returns whether only the delayed layer rose, and by how much. */
  def selfCheck(): (Boolean, Double)

  /** Run `op` as one attempted operation; a throw or a failed check
    * counts as failed. */
  def attempt(what: String)(op: => Boolean): Boolean = {
    attempted += 1
    val ok = try op catch { case e: Throwable =>
      System.err.println(s"[perfbench] $what threw: $e")
      false
    }
    if (!ok) { failed += 1; failures += what }
    ok
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workload {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (inclusive). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Delay the self-check adds, how far the delayed layer may miss it,
    * and how far another layer may rise: the slack or a quarter of its
    * undelayed time, whichever is larger. (A layer may get faster: the
    * first round still warms the JIT.) */
  val CheckDelayS = 1.0
  val CheckSlackS = 0.5
  def attributed(delayed: Double, others: Seq[(Double, Double)]): Boolean =
    math.abs(delayed - CheckDelayS) <= CheckSlackS &&
      others.forall { case (base, rise) => rise <= math.max(CheckSlackS, 0.25 * base) }

  def sizeMb(dir: File): Double =
    if (!dir.exists) 0.0
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum / 1e6
      finally s.close()
    }

  /** Per-layer spark.* counters of one span (the pass). */
  def sparkLayers(span: Span): Map[String, Double] = {
    val c = span.counts
    Seq("plan_s", "jobs", "stages", "driver_gap_s", "task_s", "task_cpu_s", "scan_mb",
      "shuffle_write_mb", "shuffle_read_mb", "gc_s", "spill_mb", "output_mb")
      .map(k => s"spark.$k" -> c(k)).toMap
  }
}

/** `snapshot_topn<N>`: one refresh, JSON in to validated tables, with no
  * warmup: a refresh runs in a fresh JVM, as `SnapshotRunner` does, so
  * planning, code generation and JIT warmup are part of what it costs. */
final class SnapshotWorkload(spark: SparkSession, tracer: Tracer, work: File,
    in: SnapshotWorkload.Inputs) extends Workload(spark, tracer) {
  import Workload._
  import in.{dir => inDir, manifest}

  private val outDir = new File(work, "warehouse")
  details("manifest") = manifest
  details("traffic") = Map(
    "shared_line_share" -> manifest.sharedShare,
    "rejected_line_share" -> manifest.rejectedShare,
    "missing_name_share" -> manifest.missingNameShare,
    "decks_per_observation" -> manifest.decksPerObservation)

  private def path(f: String) = new File(inDir, f).getPath

  /** CardMetadata.load -> Tables.readBattlesJson -> SnapshotPipeline.build
    * -> Snapshot.write -> SnapshotRunner's six checks; then the written
    * tables are checked against the manifest (not timed). */
  def pass(): Unit = attempt("refresh") {
    val out = outDir.getPath
    var failures = List.empty[String]
    val t = tracer.timed("pass") {
      val meta = tracer.span("sources.meta_load") {
        CardMetadata.load(spark, path("card_metadata.json"))
      }
      val battles = Tables.readBattlesJson(spark, path("battles.json"))
      val leaderboard = spark.read.schema(Tables.leaderboardSchema).json(path("leaderboard.json"))
      val snap = tracer.span("SnapshotPipeline.build") {
        SnapshotPipeline.build(spark, battles, leaderboard, meta, manifest.topN)
      }
      tracer.span("Snapshot.write")(snap.write(out))
      failures = tracer.span("SnapshotRunner.validate") {
        SnapshotChecks.validate(spark, out, snap.all.keys, manifest.topN)
      }
    }
    ops += "refresh" -> t
    details("warehouse_mb") = sizeMb(outDir)
    val wrong = SnapshotChecks.againstManifest(spark, out, manifest)
    spark.catalog.clearCache()
    (failures ++ wrong).foreach(f => System.err.println(s"[perfbench] refresh: $f"))
    failures.isEmpty && wrong.isEmpty
  }

  /** Each layer alone, projected over cached parsed battles into noop. */
  private def probes(delayLayer: Option[String]): Map[String, Double] = {
    val meta = CardMetadata.load(spark, path("card_metadata.json"))
    def probe(name: String)(df: => DataFrame): Double = tracer.timed(name) {
      if (delayLayer.contains(name)) Thread.sleep((CheckDelayS * 1000).toLong)
      noop(df)
    }
    val raw = Tables.readBattlesJson(spark, path("battles.json"))
    val parse = probe("sources.battles_parse")(raw)
    val recordsIn = tracer.spans.last.counts("records_in")
    val base = raw
      .filter(BattleOps.isRanked1v1(col("team"), col("opponent"), col("gameMode.id")))
      .select(col("battleTime"), col("gameMode"), col("type"), col("team"), col("opponent"),
        BattleOps.deckObs(element_at(col("team"), 1).getField("cards"), meta.nameById).as("team_obs"),
        BattleOps.deckObs(element_at(col("opponent"), 1).getField("cards"), meta.nameById).as("opp_obs"))
      .cache()
    val ranked = base.count()
    val matchHash: Column = Hashing.symmetricMatchHash(col("battleTime"), col("gameMode.id"),
      col("gameMode.name"), col("type"), col("team"), col("opponent"))
    val out = Map(
      "sources.battles_parse_s" -> parse,
      "sources.battles_in" -> recordsIn,
      "functions.match_hash_s" -> probe("functions.match_hash")(base.select(matchHash)),
      "functions.deck_hash_s" -> probe("functions.deck_hash")(
        base.select(BattleOps.deckHashOf(col("team_obs")))),
      "operators.classify_s" -> probe("operators.classify")(
        base.select(Classifier.classifyDeck(BattleOps.classifierNames(col("team_obs")), meta))),
      "operators.sides_s" -> probe("operators.sides")(
        SnapshotPipeline.sideObservations(raw, meta, Map.empty)))
    val kept = base
      .select(matchHash.as("mh"), (col("team_obs").isNull || col("opp_obs").isNull).as("bad"))
      .dropDuplicates("mh")
      .agg(count(lit(1)), sum(col("bad").cast("long"))).head()
    base.unpersist()
    out ++ Map(
      "operators.dedup_keep_ratio" -> kept.getLong(0).toDouble / ranked,
      "operators.deck_reject_ratio" -> kept.getLong(1).toDouble / kept.getLong(0))
  }

  private val probed = Seq("sources.battles_parse_s", "functions.match_hash_s",
    "functions.deck_hash_s", "operators.classify_s", "operators.sides_s")
  private var firstProbes: Map[String, Double] = Map.empty

  def layers(): Map[String, Double] = {
    def seconds(name: String) = tracer.named(name).map(_.seconds).sum
    val validate = tracer.named("SnapshotRunner.validate")
    firstProbes = probes(None)
    // each table's write command, as the QueryExecutionListener saw it
    val writes = tracer.listeners.synchronized(tracer.listeners.writes.toList).map {
      case (p, ns) => new Path(p) -> ns / 1e9
    }.collect { case (p, s) if p.getParent.getName == outDir.getName =>
      s"operators.write.${p.getName}_s" -> s
    }.toMap
    sparkLayers(tracer.named("pass").head) ++ firstProbes ++ writes ++ Map(
      "sources.meta_load_s" -> seconds("sources.meta_load"),
      "SnapshotRunner.validate_s" -> validate.map(_.seconds).sum,
      "SnapshotRunner.validate_jobs" -> validate.map(_.counts("jobs")).sum,
      "snapshot.warehouse_mb" -> details("warehouse_mb").asInstanceOf[Double])
  }

  /** Delay the classify probe; only it may rise, by about the delay. The
    * delayed round is bracketed by the plain round of [[layers]] and one
    * more. */
  def selfCheck(): (Boolean, Double) = {
    val slowed = probes(Some("operators.classify"))
    val after = probes(None)
    val base = probed.map(k => k -> (firstProbes(k) + after(k)) / 2).toMap
    val rise = probed.map(k => k -> (slowed(k) - base(k))).toMap
    details("self_check") = Map("delayed" -> "operators.classify", "delay_s" -> CheckDelayS,
      "rise_s" -> rise)
    val seen = rise("operators.classify_s")
    val others = probed.filter(_ != "operators.classify_s").map(k => base(k) -> rise(k))
    (attributed(seen, others), seen)
  }
}

object SnapshotWorkload {
  final case class Inputs(dir: File, manifest: SnapshotInputs.Manifest, seconds: Double)

  /** Generate the refresh inputs; the seconds spent are not part of setup. */
  def prepare(work: File, seed: Long, topN: Int): Inputs = {
    val t0 = System.nanoTime()
    val dir = new File(work, "snapshot-in")
    val m = SnapshotInputs.generate(seed, topN, dir)
    Inputs(dir, m, (System.nanoTime() - t0) / 1e9)
  }
}

/** SnapshotRunner's six post-load invariants (validate_snapshot.py), the
  * same queries over the written tables, and the generator's manifest. */
object SnapshotChecks {
  def validate(spark: SparkSession, out: String, tables: Iterable[String],
      topN: Int): List[String] = {
    val written = tables.map(n => n -> spark.read.parquet(s"$out/$n")).toMap
    var failures = List.empty[String]
    def check(name: String)(ok: => Boolean): Unit = if (!ok) failures ::= name
    check("deck_cards: every deck has exactly 8 rows") {
      written("deck_cards").groupBy("deck_hash").count()
        .filter(col("count") =!= 8).isEmpty
    }
    check("0 <= wins <= uses in all stats tables") {
      Seq("player_decks", "meta_deck_types", "meta_type_deck_ids",
        "meta_type_cards", "player_type_cards", "meta_type_matchups")
        .forall(t => written(t)
          .filter(col("wins") < 0 || col("uses") < 0 || col("wins") > col("uses"))
          .isEmpty)
    }
    check("meta_deck_types non-empty") {
      written("meta_deck_types").limit(1).count() == 1
    }
    check("player count <= topN") {
      written("player").count() <= topN
    }
    check("topn_obs <= meta_obs <= 2*topn_obs") {
      val topnObs = written("player_decks")
        .agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      val metaObs = written("meta_deck_types")
        .agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      topnObs <= metaObs && metaObs <= 2 * topnObs
    }
    check("unknown-archetype ratio <= 0.30") {
      val m = written("meta_deck_types")
      val total = m.agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      def ratioOf(label: String): Double =
        if (total == 0L) 0.0
        else m.filter(lower(col("deck_type")) === label)
          .agg(coalesce(sum("uses"), lit(0L))).head().getLong(0).toDouble / total
      ratioOf("unknown") <= 0.30
    }
    failures
  }

  def againstManifest(spark: SparkSession, out: String,
      m: SnapshotInputs.Manifest): List[String] = {
    def t(n: String) = spark.read.parquet(s"$out/$n")
    val meta = t("meta_deck_types").agg(sum("uses"), sum("wins")).head()
    val got = Map(
      "meta_obs" -> meta.getLong(0), "wins" -> meta.getLong(1),
      "topn_obs" -> t("player_decks").agg(sum("uses")).head().getLong(0),
      "matchup_obs" -> t("meta_type_matchups").agg(sum("uses")).head().getLong(0),
      "players" -> t("player").count(), "decks" -> t("decks").count(),
      "deck_cards" -> t("deck_cards").count(), "cards" -> t("cards").count())
    val want = Map(
      "meta_obs" -> m.metaObs, "wins" -> m.wins, "topn_obs" -> m.topnObs,
      "matchup_obs" -> m.metaObs, "players" -> m.players, "decks" -> m.decks,
      "deck_cards" -> 8 * m.decks, "cards" -> m.cards)
    want.toList.sortBy(_._1).collect {
      case (k, v) if got(k) != v => s"manifest $k: expected $v, got ${got(k)}"
    }
  }
}

/** `batch_queries_<sf>`: a fixed mix of batch SparkEntry queries on one
  * fixture dir, run as a long-lived session runs a query mix: the warmup
  * runs each query once, then [[Passes]] timed passes run them again, each
  * pass in an order drawn from the seed; `pass_s` takes each query at its
  * fastest pass. Every result is collected on the
  * driver and checked against its recorded fingerprint, and no query may
  * start a streaming query. The traced run also runs `streamMix` (each
  * loop must start a streaming query) for the streaming.* layers. */
final class QueryMixWorkload(spark: SparkSession, tracer: Tracer, dir: String,
    mix: Seq[String], streamMix: Seq[String], expected: Map[(String, String), String],
    seed: Long) extends Workload(spark, tracer) {
  import Workload._

  val Passes = 5
  private val fixture = new File(dir).getName
  private val rnd = new java.util.Random(seed)

  private def settled(): Counts = { tracer.drain(); tracer.listeners.snapshot() }

  /** Run `q`, collect and check its result; returns its wall seconds. */
  private def checked(q: String, span: String, stream: Boolean = false): Double = {
    var t = 0.0
    attempt(q) {
      val before = settled()("streams_started")
      var df: DataFrame = null
      var rows: Array[org.apache.spark.sql.Row] = null
      t = tracer.timed(span) {
        df = SparkEntry.queries(q)(spark, dir)
        rows = df.collect()
      }
      val isStream = settled()("streams_started") > before
      val fp = Fingerprint.of(df.columns.toSeq, rows)
      val want = expected((fixture, q))
      if (fp != want) System.err.println(s"[perfbench] $q: fingerprint $fp, expected $want")
      if (isStream != stream) System.err.println(s"[perfbench] $q: starts a stream = $isStream")
      spark.catalog.clearCache()
      fp == want && isStream == stream
    }
    t
  }

  override def warmup(): Unit = mix.foreach(q => checked(q, s"warmup.$q"))

  def pass(): Unit = for (_ <- 1 to Passes) {
    val order = mix.map(q => (rnd.nextDouble(), q)).sortBy(_._1).map(_._2)
    tracer.span("pass") {
      order.foreach(q => ops += q -> checked(q, s"SparkEntry.$q"))
    }
  }

  /** Each query at its fastest of the passes, summed: slowdowns from
    * whatever else shares the host only ever add time, so the fastest
    * pass is the steadiest estimate of the query's own cost. */
  override def passSeconds: Double = ops.groupBy(_._1).values.map(_.map(_._2).min).sum

  def layers(): Map[String, Double] = {
    // each query again through the noop sink, then under count() as
    // graft.Bench times it: the gap is the per-row work a count hides
    def leg(name: String)(run: DataFrame => Unit): Map[String, Double] = mix.map { q =>
      val t = tracer.timed(s"$name.$q")(run(SparkEntry.queries(q)(spark, dir)))
      spark.catalog.clearCache()
      q -> t
    }.toMap
    val materialized = leg("noop")(noop)
    val countLeg = leg("count")(df => df.count())
    details("queries") = mix.map { q =>
      val sp = tracer.named(s"SparkEntry.$q")
      def med(k: String) = median(sp.map(_.counts(k)))
      q -> (Map("wall_s" -> median(sp.map(_.seconds)), "noop_s" -> materialized(q),
        "count_leg_s" -> countLeg(q)) ++
        Seq("plan_s", "jobs", "task_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
          "gc_s", "driver_gap_s").map(k => k -> med(k)))
    }.toMap
    val passes = tracer.named("pass")
    sparkLayers(passes(passes.size / 2)) ++ streamLayers() ++ Map(
      "SparkEntry.noop_total_s" -> materialized.values.sum,
      "SparkEntry.count_leg_total_s" -> countLeg.values.sum)
  }

  /** The stream loops once to warm up, then once with their micro-batch
    * progress recorded. */
  private def streamLayers(): Map[String, Double] = {
    streamMix.foreach(q => checked(q, s"warmup.$q", stream = true))
    def progressSize(): Int = {
      tracer.drain()
      tracer.listeners.synchronized(tracer.listeners.progress.size)
    }
    val from = progressSize()
    val loops = streamMix.map(q => checked(q, s"stream.$q", stream = true)).sum
    val progress = tracer.listeners.synchronized(
      tracer.listeners.progress.slice(from, progressSize()).toList)
    def phase(k: String) = median(progress.flatMap(_._1.get(k)).map(_.toDouble))
    val triggers = progress.flatMap(_._1.get("triggerExecution")).map(_.toDouble)
    Map(
      "streaming.loops_s" -> loops,
      "streaming.triggers" -> progress.size.toDouble,
      "streaming.rows_in" -> progress.map(_._2).sum.toDouble,
      "streaming.trigger_p50_ms" -> median(triggers),
      "streaming.trigger_p90_ms" -> quantile(triggers, 0.9),
      "streaming.add_batch_p50_ms" -> phase("addBatch"),
      "streaming.wal_commit_p50_ms" -> phase("walCommit"),
      "streaming.commit_offsets_p50_ms" -> phase("commitOffsets"),
      "streaming.latest_offset_p50_ms" -> phase("latestOffset"),
      "streaming.query_planning_p50_ms" -> phase("queryPlanning"))
  }

  /** Run the first two queries of the mix, then again with a delay inside
    * the first one's span: only the first may rise, by about the delay. */
  def selfCheck(): (Boolean, Double) = {
    val Seq(a, b) = mix.take(2)
    def once(delayed: Boolean): (Double, Double) = {
      val ta = tracer.timed("selfcheck.delayed") {
        if (delayed) Thread.sleep((CheckDelayS * 1000).toLong)
        noop(SparkEntry.queries(a)(spark, dir))
      }
      val tb = tracer.timed("selfcheck.other")(noop(SparkEntry.queries(b)(spark, dir)))
      spark.catalog.clearCache()
      (ta, tb)
    }
    // the delayed round is bracketed by two plain ones, so warming or
    // drift between rounds does not read as a rise or a fall
    val (a0, b0) = once(delayed = false)
    val (a1, b1) = once(delayed = true)
    val (a2, b2) = once(delayed = false)
    val (aBase, bBase) = ((a0 + a2) / 2, (b0 + b2) / 2)
    details("self_check") = Map("delayed" -> a, "other" -> b, "delay_s" -> CheckDelayS,
      "rise_s" -> Map(a -> (a1 - aBase), b -> (b1 - bBase)))
    (attributed(a1 - aBase, Seq(bBase -> (b1 - bBase))), a1 - aBase)
  }
}
