package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkEntry

/** Records the result fingerprint of SparkEntry queries on a fixture dir,
  * as `fingerprints.tsv` lines (`<fixture dir name> <query> <fingerprint>`,
  * tab-separated). Each query runs twice; stderr shows per query whether
  * it starts a streaming query (seen by the listener), whether its two
  * fingerprints agree, and one materialized wall time.
  *
  * Usage: Record <fixtureDir> <out.tsv> <workDir> [query,...]
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, work) = args.take(3)
    val only = args.lift(3).map(_.split(",").toSet)
    val spark = Session.build(Runtime.getRuntime.availableProcessors, new File(work))
    val tracer = new Tracer(spark, enabled = false)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n)))
    val sf = new File(dir).getName
    val lines = names.map { name =>
      val fn = SparkEntry.queries(name)
      val line = try {
        tracer.drain()
        val before = tracer.listeners.snapshot()("streams_started")
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        tracer.drain()
        val stream = tracer.listeners.snapshot()("streams_started") > before
        val fp1 = Fingerprint.of(df)
        spark.catalog.clearCache()
        val fp2 = Fingerprint.of(fn(spark, dir))
        System.err.println(
          f"""{"query":"$name","stream":$stream,"stable":${fp1 == fp2},"noop_s":$wall%.3f}""")
        Some(s"$sf\t$name\t$fp1")
      } catch { case e: Throwable =>
        System.err.println(s"""{"query":"$name","error":${Json.str(String.valueOf(e.getMessage))}}""")
        None
      }
      spark.catalog.clearCache()
      line
    }.flatten
    Files.write(new File(out).toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
