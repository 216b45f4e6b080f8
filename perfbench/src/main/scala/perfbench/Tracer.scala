package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter totals; a span stores the difference of two snapshots. */
final case class Counts(values: Map[String, Double]) {
  def -(o: Counts): Counts =
    Counts(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** Counters fed by the three Spark listener kinds. Events arrive on the
  * listener-bus thread; readers drain the bus first (see [[Tracer]]). */
final class Listeners {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) epoch millis of every finished job. */
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Output path and duration of every successful file write command. */
  val writes: mutable.ArrayBuffer[(String, Long)] = mutable.ArrayBuffer.empty
  /** `durationMs` of every micro-batch progress, with its input rows. */
  val progress: mutable.ArrayBuffer[(Map[String, Long], Long)] = mutable.ArrayBuffer.empty

  private def add(k: String, v: Double): Unit = synchronized { totals(k) += v }

  def snapshot(): Counts = synchronized { Counts(totals.toMap) }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Listeners.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Listeners.this.synchronized {
      jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
      totals("jobs") += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Listeners.this.synchronized {
        totals("tasks") += 1
        totals("task_s") += m.executorRunTime / 1e3
        totals("task_cpu_s") += m.executorCpuTime / 1e9
        totals("gc_s") += m.jvmGCTime / 1e3
        totals("scan_mb") += m.inputMetrics.bytesRead / 1e6
        totals("records_in") += m.inputMetrics.recordsRead
        totals("output_mb") += m.outputMetrics.bytesWritten / 1e6
        totals("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        totals("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        totals("spill_mb") += (m.diskBytesSpilled + m.memoryBytesSpilled) / 1e6
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      add("plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3)
      add("actions", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planned(qe)
      qe.logical.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w.outputPath }
        .foreach(p => Listeners.this.synchronized { writes += ((p.toString, durationNs)) })
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("streams_started", 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        val p = e.progress
        progress += ((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
        totals("triggers") += 1
        totals("rows_in") += p.numInputRows
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Milliseconds of [start, end] covered by no job. */
  def driverGapMs(startMs: Long, endMs: Long): Long = synchronized {
    val clipped = jobs.iterator
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    clipped.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    (endMs - startMs) - covered
  }
}

/** One timed call into a layer: name, start, end, the span it ran inside,
  * the bus waits inside it (nested spans' boundaries, which are not the
  * program's work) and the listener counters of its interval. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    busNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs - busNs) / 1e9
}

/** Records spans around the benchmark's calls into the program. Spans and
  * counters live in memory until the run ends. When disabled, `span` only
  * runs its body: the untraced run pays neither bus drains nor listeners
  * beyond the streaming one. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val listeners = new Listeners
  spark.streams.addListener(listeners.streams)
  if (enabled) {
    spark.sparkContext.addSparkListener(listeners.spark)
    spark.listenerManager.register(listeners.queries)
  }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Int] = Nil
  private var nextId = 0
  private var drainedNs = 0L

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = {
    val t0 = System.nanoTime()
    BusDrain(spark.sparkContext)
    drainedNs += System.nanoTime() - t0
  }

  /** The span's end is read before the closing drain, and the drains
    * inside it are subtracted, so its time is the program's alone; its
    * counters are read after the drain, so they hold all its events. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val c0 = listeners.snapshot()
      val bus0 = drainedNs
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        val bus = drainedNs - bus0
        drain()
        val d = listeners.snapshot() - c0
        val gap = math.max(0.0, listeners.driverGapMs(ms0, ms1) / 1e3 - bus / 1e9)
        spans += Span(id, parent, name, t0, t1, bus, Counts(d.values + ("driver_gap_s" -> gap)))
        open = open.tail
      }
    }

  /** Run `body` as a span; its wall seconds, less the bus waits inside. */
  def timed(name: String)(body: => Unit): Double =
    if (!enabled) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    } else {
      span(name)(body)
      spans.last.seconds
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}
