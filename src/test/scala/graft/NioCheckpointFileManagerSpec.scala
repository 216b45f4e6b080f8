package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The nio-backed checkpoint manager must honor the CheckpointFileManager
  * contract the streaming metadata logs rely on: atomic publish on close,
  * first-writer-wins without overwrite, cancel discards, read-back and
  * listing see exactly the committed files. */
class NioCheckpointFileManagerSpec extends SparkSpecBase {

  private def withManager(f: (NioCheckpointFileManager, java.nio.file.Path) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_niocfm_")
    try f(new NioCheckpointFileManager(new Path(dir.toString), new Configuration()), dir)
    finally operators.Maintenance.rmTree(dir.toFile)
  }

  test("createAtomic publishes on close, nothing visible before") {
    withManager { (fm, dir) =>
      val target = new Path(dir.toString, "offsets/0")
      val out = fm.createAtomic(target, overwriteIfPossible = false)
      out.write("v1\npayload".getBytes("UTF-8"))
      fm.exists(target) shouldBe false
      out.close()
      fm.exists(target) shouldBe true
      val in = fm.open(target)
      val bytes = new Array[Byte](64)
      val n = in.read(bytes, 0, bytes.length)
      in.close()
      new String(bytes, 0, n, "UTF-8") shouldBe "v1\npayload"
      // no stray temp files left behind
      val strays = java.nio.file.Files.list(dir.resolve("offsets")).toArray.toSeq
      strays.map(_.toString) shouldBe Seq(dir.resolve("offsets/0").toString)
    }
  }

  test("no-overwrite close throws FileAlreadyExistsException (first writer wins)") {
    withManager { (fm, dir) =>
      val target = new Path(dir.toString, "commits/5")
      val first = fm.createAtomic(target, overwriteIfPossible = false)
      first.write("a".getBytes); first.close()
      val second = fm.createAtomic(target, overwriteIfPossible = false)
      second.write("b".getBytes)
      an[org.apache.hadoop.fs.FileAlreadyExistsException] should be thrownBy second.close()
      val in = fm.open(target)
      in.read() shouldBe 'a'.toInt
      in.close()
      // overwriteIfPossible=true replaces (state-store delta semantics)
      val third = fm.createAtomic(target, overwriteIfPossible = true)
      third.write("c".getBytes); third.close()
      val in2 = fm.open(target)
      in2.read() shouldBe 'c'.toInt
      in2.close()
    }
  }

  test("cancel discards the write; close after cancel is a no-op") {
    withManager { (fm, dir) =>
      val target = new Path(dir.toString, "state/1.delta")
      val out = fm.createAtomic(target, overwriteIfPossible = true)
      out.write("junk".getBytes)
      out.cancel()
      out.close() // must not resurrect the write
      fm.exists(target) shouldBe false
      java.nio.file.Files.list(dir.resolve("state")).count() shouldBe 0L
    }
  }

  test("list returns committed files with names and sizes; delete is recursive") {
    withManager { (fm, dir) =>
      fm.mkdirs(new Path(dir.toString, "log"))
      (0 until 3).foreach { i =>
        val o = fm.createAtomic(new Path(dir.toString, s"log/$i"), false)
        o.write(("x" * (i + 1)).getBytes); o.close()
      }
      val statuses = fm.list(new Path(dir.toString, "log")).sortBy(_.getPath.getName)
      statuses.map(_.getPath.getName).toSeq shouldBe Seq("0", "1", "2")
      statuses.map(_.getLen).toSeq shouldBe Seq(1L, 2L, 3L)
      an[java.io.FileNotFoundException] should be thrownBy
        fm.list(new Path(dir.toString, "absent"))
      fm.delete(new Path(dir.toString, "log"))
      fm.exists(new Path(dir.toString, "log")) shouldBe false
      fm.delete(new Path(dir.toString, "log")) // idempotent on missing
    }
  }

  test("open supports seek and positioned reads (FSDataInputStream contract)") {
    withManager { (fm, dir) =>
      val target = new Path(dir.toString, "seekable")
      val o = fm.createAtomic(target, false)
      o.write("0123456789".getBytes); o.close()
      val in = fm.open(target)
      in.seek(4L)
      in.getPos shouldBe 4L
      in.read() shouldBe '4'.toInt
      val buf = new Array[Byte](3)
      in.readFully(7L, buf)
      new String(buf) shouldBe "789"
      in.getPos shouldBe 5L // positioned read must not move the cursor
      in.close()
    }
  }

  test("a non-local scheme fails fast, naming the conf; file: and bare paths round-trip") {
    val conf = "spark.sql.streaming.checkpointFileManagerClass"
    val badRoot = the[IllegalArgumentException] thrownBy
      new NioCheckpointFileManager(new Path("hdfs://nn/ckpt"), new Configuration())
    badRoot.getMessage should include(conf)
    withManager { (fm, dir) =>
      val s3 = new Path("s3a://b/x")
      (the[IllegalArgumentException] thrownBy fm.exists(s3))
        .getMessage should include(conf)
      an[IllegalArgumentException] should be thrownBy
        fm.createAtomic(s3, overwriteIfPossible = true)
      an[IllegalArgumentException] should be thrownBy fm.mkdirs(s3)
      // written through a file: URI, read back through the bare path
      val o = fm.createAtomic(new Path(s"file://$dir/f"), false)
      o.write("via-file".getBytes); o.close()
      val in = fm.open(new Path(s"$dir/f"))
      in.read() shouldBe 'v'.toInt
      in.close()
      // and the other way round
      val o2 = fm.createAtomic(new Path(s"$dir/b"), false)
      o2.write("bare".getBytes); o2.close()
      fm.exists(new Path(s"file://$dir/b")) shouldBe true
      fm.list(new Path(s"file://$dir")).map(_.getPath.getName).toSet shouldBe
        Set("f", "b")
    }
  }

  test("streaming query checkpoints and restarts through the nio manager") {
    import spark.implicits._
    // the spec session registers graft.NioCheckpointFileManager; prove the
    // offset/commit logs it wrote are readable by a fresh query run
    spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") shouldBe
      "graft.NioCheckpointFileManager"
    val landing = java.nio.file.Files.createTempDirectory("graft_niocfm_land_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_niocfm_ckpt_")
    try {
      def addFile(i: Int): Unit = {
        val tmp = landing.resolve(s"tmp$i")
        Seq((i.toLong, s"row$i")).toDF("id", "v")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.move(part, landing.resolve(s"f$i.parquet"))
        operators.Maintenance.rmTree(tmp.toFile)
      }
      addFile(0); addFile(1)
      val schema = spark.read.parquet(landing.toString).schema
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      def runOnce(): Unit =
        streaming.MicroBatchRunner.run(
          spark.readStream.schema(schema).parquet(landing.toString),
          "graft_niocfm_unused_", Some(ckpt.toString), () => ()) { (b, _) =>
          seen ++= b.select("id").collect().map(_.getLong(0))
        }
      runOnce()
      seen.sorted.toSeq shouldBe Seq(0L, 1L)
      addFile(2)
      runOnce() // restart from the checkpoint: only the new file arrives
      seen.sorted.toSeq shouldBe Seq(0L, 1L, 2L)
    } finally {
      operators.Maintenance.rmTree(landing.toFile)
      operators.Maintenance.rmTree(ckpt.toFile)
    }
  }
}
