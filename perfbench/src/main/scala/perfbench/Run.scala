package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.io.Source

import graft.Calib

/** One benchmark run: `Run --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --fixtures <dir> --fingerprints <file>
  * --out <file>`.
  *
  * Builds the session on local[nproc], warms up, runs the workload's timed
  * pass (`pass_s`) and writes one JSON file: the result
  * (`correct`, `attempted`, `failed`, `metrics`), the recording's stamps
  * and, when traced, the spans and the per-query records. `--seconds` is
  * only recorded: a run measures one pass, however long it takes.
  */
object Run {
  /** The batch queries of `batch_queries_sf0.1` and the stream loops its
    * traced run measures the streaming layers with (see BENCHMARK.json). */
  val BatchMix: Seq[String] = Seq("q52_repetition", "q130_model_quality_gate", "q40_quantiles")
  val StreamMix: Seq[String] = Seq(
    "q104_incremental_rollup", "q161_streaming_topn", "q159_streaming_quota")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val fixtures = opts("fixtures")
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val expected = Source.fromFile(opts("fingerprints"), "UTF-8").getLines()
      .map(_.split('\t')).collect { case Array(sf, q, fp) => (sf, q) -> fp }.toMap

    // inputs are generated before the session exists; setup_s excludes them
    val snapInputs = workload match {
      case "snapshot_topn1000" => Some(SnapshotWorkload.prepare(work, seed, 1000))
      case "batch_queries_sf0.1" => None
      case other => sys.error(s"unknown workload $other")
    }
    val genS = snapInputs.map(_.seconds).getOrElse(0.0)
    val spark = Session.build(cpus, work)
    val tracer = new Tracer(spark, traced)
    val bench: Workload = snapInputs match {
      case Some(in) => new SnapshotWorkload(spark, tracer, work, in)
      case None => new QueryMixWorkload(spark, tracer, fixtures, BatchMix, StreamMix, expected, seed)
    }
    bench.warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

    bench.pass()
    val passS = bench.passSeconds
    val named = bench.ops.toSeq
    val ops = named.map(_._2)
    val peakRss = peakRssMb()

    val metrics: Map[String, (Double, String)] =
      if (!traced) Map("setup_s" -> (setupS -> "s"), "pass_s" -> (passS -> "s"))
      else {
        val layers = bench.layers()
        val (ok, seen) = bench.selfCheck()
        bench.attempt("self-check")(ok)
        (layers ++ Map(
          "trace.setup_s" -> setupS,
          "trace.pass_s" -> passS,
          "ops.p50_s" -> Workload.median(ops),
          "ops.max_s" -> (0.0 +: ops).max,
          "jvm.peak_rss_mb" -> peakRss,
          "selfcheck.attribution_ok" -> (if (ok) 1.0 else 0.0),
          "selfcheck.delay_seen_s" -> seen,
          "ops.fail_ratio" -> bench.failed.toDouble / bench.attempted))
          .map { case (k, v) => k -> (v -> unitOf(k)) }
      }

    // graft.Calib's two probes, one rep each
    val calib = f"""{"spin1":${Calib.spin1()}%.3f,"scan32":${Calib.scanAll(spark, fixtures)}%.3f}"""
    val result = Map(
      "correct" -> (bench.failed == 0),
      "attempted" -> bench.attempted,
      "failed" -> bench.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)
    val stamps = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark_version" -> spark.version, "calib_sec" -> RawJson(calib),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "input_generation_s" -> genS, "setup_s" -> setupS, "pass_s" -> passS,
      "ops" -> ops.size, "ops_p50_s" -> Workload.median(ops),
      "peak_rss_mb" -> peakRss,
      "fail_ratio" -> bench.failed.toDouble / math.max(1, bench.attempted),
      "failures" -> bench.failures.toSeq)
    val body = Map("result" -> result, "stamps" -> stamps, "ops" -> named) ++ bench.details ++
      (if (traced) Map("spans" -> tracer.spans.toSeq) else Map.empty)
    Files.write(new File(opts("out")).toPath, Json(body).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Unit of a per-layer metric, from its name. */
  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio")) "ratio"
    else if (name.endsWith("_ok")) "flag"
    else "count"

  def loadavg(): String =
    try Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1e3).getOrElse(0.0)
    finally src.close()
  }
}
