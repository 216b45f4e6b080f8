package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Sessions are built only by [[GraftSession]] and micro-batch sinks are
  * attached only by [[graft.streaming.MicroBatchRunner]]: a copied
  * builder or lifecycle drifts from the original (the confs and cleanup
  * each copy once had to repeat). Scans the main and test sources. */
class SingleEntryPointsSpec extends AnyFunSuite with Matchers {

  private def sources: Seq[Path] =
    Seq("src/main/scala", "src/test/scala").map(Paths.get(_)).flatMap { root =>
      withClue(s"run from the repository root: $root") {
        Files.isDirectory(root) shouldBe true
      }
      val s = Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.toString.endsWith(".scala"))
      finally s.close()
    }

  /** `file:line` of every occurrence of `needle` outside `owner`. */
  private def strays(needle: String, owner: String): Seq[String] =
    sources.filter(_.getFileName.toString != owner).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .collect { case (line, i) if line.contains(needle) => s"$f:${i + 1}" }
    }

  test("sessions are built only in GraftSession") {
    strays("SparkSession" + ".builder", "GraftSession.scala") shouldBe empty
  }

  test("foreachBatch sinks are attached only in MicroBatchRunner") {
    strays("." + "foreachBatch", "MicroBatchRunner.scala") shouldBe empty
  }
}
