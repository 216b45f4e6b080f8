package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Hashing
import graft.operators.{BattleOps, Classifier}
import graft.sources.{CardMetadata, Tables}
import graft.sources.CardMetadata.Card

/** The native deck and match kernels against their reference model, the
  * lambda higher-order-function definitions in [[HofReference]]: on
  * generated battles and decks full of edge cases, every row must come out
  * identical — deck extraction, deck signature and hash, classification,
  * the side rendering and both match hashes. Each property runs twice:
  * interpreted (`NO_CODEGEN`, whole-stage codegen off) and generated
  * (`CODEGEN_ONLY`, whole-stage codegen on). */
class DeckKernelsSpec extends SparkSpecBase {

  private val Rows = 400

  private def card(id: Long, name: String, elixir: Option[Int], bait: Boolean = false,
      bridge: Boolean = false, tank: Boolean = false): Card =
    Card(id, name, None, elixir, isBigTank = tank, isBaitPiece = bait,
      isBridgeSpamPiece = bridge)

  private val meta = CardMetadata.Meta(Seq(
    card(1, "X-Bow", Some(6)), card(2, "Mortar", Some(4)),
    card(3, "Goblin Barrel", Some(3), bait = true),
    card(4, "Princess", Some(3), bait = true),
    card(5, "Log", Some(2), bait = true),
    card(6, "Bandit", Some(3), bridge = true),
    card(7, "Battle Ram", Some(4), bridge = true),
    card(8, "Golem", Some(8), tank = true),
    card(9, "Giant", Some(5), tank = true),
    card(10, "Skeletons", Some(1)), card(11, "Ice Spirit", Some(1)),
    card(12, "Électro Wizard", Some(4)), card(13, "Mystery", None),
    card(14, null, None), card(15, "Zap", Some(2)), card(16, "Fireball", Some(4)),
    card(17, "Hog Rider", Some(4), bridge = true)))

  private val metaNames = meta.cards.map(_.name).filter(_ != null)

  // ---- generators -------------------------------------------------------

  private def seqOf[T](gens: Seq[Gen[T]]): Gen[List[T]] =
    gens.foldRight(Gen.const(List.empty[T]))((g, acc) => for (x <- g; xs <- acc) yield x :: xs)

  private def orNull[T >: Null](weight: Int, g: Gen[T]): Gen[T] =
    Gen.frequency(1 -> Gen.const(null), weight -> g)

  private val nameGen: Gen[String] = Gen.frequency(
    12 -> Gen.oneOf(metaNames),
    2 -> Gen.const(null), 1 -> Gen.const(""), 1 -> Gen.const("   "),
    2 -> Gen.oneOf(metaNames).map(n => s"  $n "),
    1 -> Gen.const("\tLog"), 1 -> Gen.const("Log "),
    1 -> Gen.const("Unknown Card"), 1 -> Gen.const("Ünïcödé 🗡"))

  private val evoGen: Gen[java.lang.Integer] =
    Gen.oneOf[java.lang.Integer](0, 1, 2, null, 7)

  private def cardRow(ids: Gen[java.lang.Long]): Gen[Row] =
    for (id <- ids; n <- nameGen; e <- evoGen) yield Row(id, n, e)

  private val anyId: Gen[java.lang.Long] = Gen.frequency(
    8 -> Gen.choose(1L, 18L).map(Long.box), 1 -> Gen.const(null), 1 -> Gen.const(99L))

  private val cardsGen: Gen[Seq[Row]] = Gen.frequency(
    // 8+ distinct ids: valid unless an element or id is null
    5 -> (for {
      ids <- Gen.pick(8, 1L to 18L)
      extra <- Gen.choose(0, 2)
      cs <- seqOf(ids.toSeq.map(i => cardRow(Gen.const(Long.box(i)))))
      tail <- Gen.listOfN(extra, cardRow(anyId))
    } yield cs ++ tail),
    // few ids: duplicate (id, variant) pairs, or one id in two variants
    2 -> Gen.listOfN(8, cardRow(Gen.choose(1L, 5L).map(Long.box))),
    // any size, null ids and null cards
    3 -> Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, orNull(12, cardRow(anyId)))),
    1 -> Gen.const(null))

  private val namesGen: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(Nil),
    8 -> Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, nameGen)))

  private val textGen: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(6)),
    1 -> Gen.const(null), 1 -> Gen.const(""),
    1 -> Gen.const("a\"b\\c/d"), 1 -> Gen.const("\u0001\u001f\n\t\r\b\f\u007f"),
    1 -> Gen.const("éÄ12"), 1 -> Gen.const("Überfall-Modus 🗡"), 1 -> Gen.const("x y"))

  private val tagGen: Gen[String] = Gen.frequency(
    5 -> textGen.map(t => if (t == null) null else "#" + t),
    1 -> Gen.const("#abc"), 1 -> Gen.const("#ABC"), 1 -> Gen.const("#straße"))

  private val participantGen: Gen[Row] = for {
    tag <- tagGen
    crowns <- Gen.oneOf[java.lang.Integer](null, 0, 1, 2, 3, -1)
    cards <- Gen.oneOf(null, Seq(Row(1L, "X-Bow", 0)))
  } yield Row(tag, crowns, cards)

  private val sideGen: Gen[Seq[Row]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(Nil),
    6 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, orNull(9, participantGen))))

  private val battleGen: Gen[Row] = for {
    time <- textGen
    tpe <- textGen
    modeId <- Gen.oneOf[java.lang.Long](null, 0L, 72000006L, 72000464L)
    modeName <- textGen
    team <- sideGen
    opp <- sideGen
  } yield Row(time, tpe, Row(modeId, modeName), team, opp)

  private def sample[T](g: Gen[T], seed: Long): Seq[T] =
    Gen.listOfN(Rows, g).pureApply(Gen.Parameters.default, Seed(seed))

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val cardsType = Tables.participantSchema("cards").dataType

  // ---- harness ------------------------------------------------------------

  private val Modes = Seq("NO_CODEGEN" -> false, "CODEGEN_ONLY" -> true)

  private def withCodegen[T](mode: String, wholeStage: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), wholeStage.toString)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Evaluate each (name, native, reference) pair over `df` and require
    * equal values on every row; returns the rows (inputs first). */
  private def agree(df: DataFrame, wholeStage: Boolean,
      pairs: (String, Column, Column)*): Seq[Row] = {
    val inputs = df.columns.map(col)
    val out = df.select(inputs ++ pairs.flatMap { case (n, a, b) =>
      Seq(a.as(s"${n}_native"), b.as(s"${n}_reference")) }: _*)
    out.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) shouldBe
      wholeStage
    val rows = out.collect().toSeq
    rows should have size Rows.toLong
    for (r <- rows; ((name, _, _), i) <- pairs.zipWithIndex) {
      val at = inputs.length + 2 * i
      withClue(s"$name on input ${r.toSeq.take(inputs.length).mkString("[", ", ", "]")}: ") {
        r.get(at) shouldBe r.get(at + 1)
      }
    }
    rows
  }

  // ---- properties ---------------------------------------------------------

  for ((mode, wholeStage) <- Modes) {

    test(s"deckObs, deck hash and classifier over extracted decks match the HOFs [$mode]") {
      withCodegen(mode, wholeStage) {
        val df = frame(StructType(Seq(StructField("cards", cardsType))),
          sample(cardsGen, 11).map(Row(_)))
        val cards = col("cards")
        val native = BattleOps.deckObs(cards, meta.nameById)
        val reference = HofReference.deckObs(cards, meta.nameById)
        val rows = agree(df, wholeStage,
          ("deckObs", native, reference),
          ("deckHash", BattleOps.deckHashOf(native), HofReference.deckHashOf(reference)),
          ("classifyDeck",
            Classifier.classifyDeck(BattleOps.classifierNames(native), meta),
            HofReference.classifyDeck(HofReference.classifierNames(reference), meta)))
        // the generator reaches both outcomes and most of the cascade
        val extracted = rows.count(!_.isNullAt(1))
        extracted should be > Rows / 4
        extracted should be < Rows
        rows.map(_.getString(5)).toSet.size should be >= 4
      }
    }

    test(s"classifyDeck over raw name arrays matches the HOF cascade [$mode]") {
      withCodegen(mode, wholeStage) {
        val df = frame(StructType(Seq(StructField("names", ArrayType(StringType)))),
          sample(namesGen, 12).map(Row(_)))
        val rows = agree(df, wholeStage, ("classifyDeck",
          Classifier.classifyDeck(col("names"), meta),
          HofReference.classifyDeck(col("names"), meta)))
        rows.map(_.getString(1)).toSet should contain allOf (
          Classifier.Siege, Classifier.Bait, Classifier.Hybrid)
      }
    }

    test(s"deck signature and hash over (id, variant) pairs match the HOFs [$mode]") {
      withCodegen(mode, wholeStage) {
        val idGen: Gen[String] = Gen.frequency(
          6 -> Gen.oneOf("9", "10001", "26000021", "26000000", "5"), 1 -> Gen.const(null))
        val variantGen: Gen[String] = Gen.frequency(
          6 -> Gen.oneOf("normal", "evo", "hero"), 1 -> Gen.const(null))
        val pair = orNull(9, for (i <- idGen; v <- variantGen) yield Row(i, v))
        val pairs = Gen.frequency(1 -> Gen.const(null),
          9 -> Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, pair)))
        val stringPairs = StructType(Seq(StructField("_1", StringType), StructField("_2", StringType)))
        val longPairs = StructType(Seq(StructField("_1", LongType), StructField("_2", StringType)))
        val df = frame(StructType(Seq(StructField("pairs", ArrayType(stringPairs)))),
          sample(pairs, 13).map(Row(_)))
          .withColumn("longPairs", col("pairs").cast(ArrayType(longPairs)))
        agree(df, wholeStage,
          ("signature", Hashing.canonicalDeckSignature(col("pairs")),
            HofReference.canonicalDeckSignature(col("pairs"))),
          ("hash", Hashing.deckHash(col("pairs")), HofReference.deckHash(col("pairs"))),
          ("longSignature", Hashing.canonicalDeckSignature(col("longPairs")),
            HofReference.canonicalDeckSignature(col("longPairs"))))
      }
    }

    test(s"match hashes and the side rendering match the HOFs [$mode]") {
      withCodegen(mode, wholeStage) {
        val df = frame(Tables.battleSchema, sample(battleGen, 14))
        val args = Seq(col("battleTime"), col("gameMode.id"), col("gameMode.name"),
          col("type"), col("team"), col("opponent"))
        def call(f: (Column, Column, Column, Column, Column, Column) => Column) =
          f(args(0), args(1), args(2), args(3), args(4), args(5))
        agree(df, wholeStage,
          ("sideJson", graft.expressions.MatchSidesJson(col("team")),
            HofReference.sideJson(col("team"))),
          ("matchHash", call(Hashing.matchHash), call(HofReference.matchHash)),
          ("symmetricMatchHash", call(Hashing.symmetricMatchHash),
            call(HofReference.symmetricMatchHash)))
      }
    }
  }
}
