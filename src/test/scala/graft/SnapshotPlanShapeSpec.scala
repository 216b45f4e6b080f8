package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.SnapshotPipeline
import graft.sources.{CardMetadata, Tables}
import graft.sources.CardMetadata.Card

/** Plan-shape guard for the Top-N refresh's per-row path (no execution):
  * every expression of the side-observation plan and of each warehouse
  * table's plan generates code — a lambda higher-order function
  * (`transform`, `filter`, `array_sort`, `aggregate`, …) is a
  * `CodegenFallback` that Spark interprets row by row — and the sides are
  * one projection with one shuffle, the match-hash dedup, not a union
  * that recomputes every deck kernel per branch. */
class SnapshotPlanShapeSpec extends SparkSpecBase {

  private val meta = CardMetadata.Meta(
    Card(1, "X-Bow", None, Some(6), isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false) +:
      (2L to 16L).map(i => Card(i, s"C$i", None, Some(4),
        isBigTank = i == 2, isBaitPiece = i < 6, isBridgeSpamPiece = i > 12)))

  private lazy val battles = {
    def side(tag: String, ids: Seq[Int]) =
      s"""[{"tag":"$tag","crowns":1,"cards":[${ids.map(i =>
        s"""{"id":$i,"name":"C$i","evolutionLevel":0}""").mkString(",")}]}]"""
    val line = s"""{"battleTime":"t1","type":"pathOfLegend",""" +
      s""""gameMode":{"id":72000006,"name":"Ranked1v1"},""" +
      s""""team":${side("#A", 1 to 8)},"opponent":${side("#B", 9 to 16)}}"""
    val file = Files.createTempFile("graft_plan_shape_", ".json")
    Files.write(file, line.getBytes(StandardCharsets.UTF_8))
    file.toFile.deleteOnExit()
    Tables.readBattlesJson(spark, file.toString)
  }

  private def leaderboard = {
    import spark.implicits._
    Seq(("#A", "Alice", 1, 3300, 0)).toDF("tag", "name", "rank", "trophies", "eloRating")
  }

  /** Every physical node, looking through adaptive wrappers and into the
    * plans that fill persisted frames. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def expressions(p: SparkPlan): Seq[Expression] =
    nodes(p).flatMap(_.expressions).flatMap(_.collect { case e => e })

  private def fallbacks(p: SparkPlan): Seq[String] =
    expressions(p).collect { case f: CodegenFallback => f.nodeName }

  test("sides plan: every expression generates code, no union, at most 500 expression nodes") {
    val plan = SnapshotPipeline.sideObservations(battles, meta, Map.empty)
      .queryExecution.sparkPlan
    val n = expressions(plan).size
    info(s"sideObservations: $n expression nodes")
    fallbacks(plan) shouldBe empty
    nodes(plan).collect { case u: UnionExec => u } shouldBe empty
    n should be <= 500
  }

  test("sides plan: exactly one shuffle, the dedup on match_hash") {
    val exchanges = nodes(SnapshotPipeline.sideObservations(battles, meta, Map.empty)
      .queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
    exchanges should have size 1
    exchanges.head.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } shouldBe Seq("match_hash")
      case other => fail(s"dedup exchange partitioned by $other")
    }
  }

  test("every warehouse table of the refresh plans without an interpreted expression") {
    val snap = SnapshotPipeline.build(spark, battles, leaderboard, meta, topN = 1)
    try {
      snap.all should have size 11
      for ((name, df) <- snap.all) withClue(s"$name: ") {
        fallbacks(df.queryExecution.sparkPlan) shouldBe empty
      }
    } finally snap.release()
  }
}
