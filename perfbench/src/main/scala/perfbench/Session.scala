package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: the confs of the program's own
  * timing entry point (graft.Bench) on local[nproc] with nproc shuffle
  * partitions, and every scratch path inside the benchmark's work dir. */
object Session {
  def build(cpus: Int, work: File): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass", "graft.NioCheckpointFileManager")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
