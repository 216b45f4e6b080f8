package graft.expressions

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The card-metadata dimension as the deck kernels read it: a constructor
  * field of [[DeckObs]] and [[ClassifyDeck]] (never a child), handed to
  * generated code through `ctx.addReferenceObj`, so one serialized copy
  * rides with each task and every card lookup is a hash probe (by name)
  * or a binary search (by id) instead of a scan of a literal map.
  *
  * Built from the same maps [[graft.sources.CardMetadata.Meta]] derives
  * (last record wins on a duplicate id or name); null names are never
  * matched. Equality is structural, so two kernels over equal metadata
  * are the same expression to Catalyst. */
final case class CardIndex(
    nameById: Map[Long, String],
    elixirByName: Map[String, Int],
    baitNames: Set[String],
    bridgeNames: Set[String],
    tankNames: Set[String]) {

  @transient private lazy val ids: Array[Long] =
    nameById.collect { case (id, n) if n != null => id }.toArray.sorted
  @transient private lazy val idNames: Array[UTF8String] =
    ids.map(id => UTF8String.fromString(nameById(id)))

  @transient private lazy val traits: java.util.HashMap[UTF8String, CardIndex.Traits] = {
    val m = new java.util.HashMap[UTF8String, CardIndex.Traits]()
    val names = elixirByName.keySet ++ baitNames ++ bridgeNames ++ tankNames ++
      ClassifyDeck.SiegeNames
    names.filter(_ != null).foreach { n =>
      m.put(UTF8String.fromString(n), CardIndex.Traits(
        elixir = elixirByName.getOrElse(n, CardIndex.NoElixir),
        siege = ClassifyDeck.SiegeNames(n), bait = baitNames(n),
        bridge = bridgeNames(n), tank = tankNames(n)))
    }
    m
  }

  /** Metadata name of a card id; null when the id is unknown. */
  def nameOf(id: Long): UTF8String = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) idNames(i) else null
  }

  /** Classifier traits of a card name; null when the name is unknown. */
  def traitsOf(name: UTF8String): CardIndex.Traits = traits.get(name)

  // plan strings show the size, not 121 entries
  override def toString: String =
    s"CardIndex(${nameById.size} ids, ${elixirByName.size} elixirs)"
}

object CardIndex {
  val NoElixir: Int = Int.MinValue

  final case class Traits(elixir: Int, siege: Boolean, bait: Boolean,
      bridge: Boolean, tank: Boolean)

  /** An index that only backfills names (no classifier traits). */
  def ofNames(nameById: Map[Long, String]): CardIndex =
    CardIndex(nameById, Map.empty, Set.empty, Set.empty, Set.empty)
}

/** 8-card deck extraction and validation in one pass over `cards[]`
  * (reference scripts/etl_snapshot_topn.py:77-108): take the first 8
  * cards, slot = 1..8, name = the card's name trimmed of spaces, else the
  * metadata name of its id, else ""; variant from evolutionLevel (1 evo,
  * 2 hero, anything else or null normal). The deck is null unless there
  * are at least 8 cards, each of the first 8 is non-null with an id, and
  * their 8 (card_id, card_variant) pairs are distinct.
  *
  * Input array<struct<id:bigint, name:string, evolutionLevel:int, …>>;
  * output array<struct<card_id:bigint, card_name:string,
  * card_variant:string, slot:int>>. */
case class DeckObs(child: Expression, index: CardIndex) extends UnaryExpression {

  override def dataType: DataType = DeckObs.ObsType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if DeckKernels.hasField(s, "id", LongType) &&
        DeckKernels.hasField(s, "name", StringType) &&
        DeckKernels.hasField(s, "evolutionLevel", IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "deck_obs requires array<struct<id:bigint,name:string,evolutionLevel:int>>, " +
        s"got ${other.simpleString}")
  }

  // (struct width, id, name, evolutionLevel ordinals)
  @transient private lazy val ords = DeckKernels.ordinals(child, "id", "name", "evolutionLevel")

  override def nullSafeEval(input: Any): Any =
    DeckObs.obsJava(input.asInstanceOf[ArrayData], ords(0), ords(1), ords(2), ords(3), index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("cardIndex", index, classOf[CardIndex].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.expressions.DeckObs.obsJava($c, ${ords.mkString(", ")}, $idx);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DeckObs =
    copy(child = newChild)
}

object DeckObs {
  val DeckSize = 8

  val ObsType: ArrayType = ArrayType(StructType(Seq(
    StructField("card_id", LongType),
    StructField("card_name", StringType, nullable = false),
    StructField("card_variant", StringType, nullable = false),
    StructField("slot", IntegerType, nullable = false))), containsNull = false)

  private val Variants = Array("normal", "evo", "hero").map(UTF8String.fromString)

  def obsJava(cards: ArrayData, nFields: Int, idOrd: Int, nameOrd: Int, evoOrd: Int,
      index: CardIndex): ArrayData = {
    if (cards.numElements() < DeckSize) return null
    val ids = new Array[Long](DeckSize)
    val variants = new Array[Int](DeckSize)
    val out = new Array[Any](DeckSize)
    var i = 0
    while (i < DeckSize) {
      if (cards.isNullAt(i)) return null
      val c = cards.getStruct(i, nFields)
      if (c.isNullAt(idOrd)) return null
      val id = c.getLong(idOrd)
      val variant =
        if (c.isNullAt(evoOrd)) 0
        else c.getInt(evoOrd) match { case 1 => 1; case 2 => 2; case _ => 0 }
      var j = 0
      while (j < i) {
        if (ids(j) == id && variants(j) == variant) return null
        j += 1
      }
      ids(i) = id
      variants(i) = variant
      val trimmed = if (c.isNullAt(nameOrd)) null else c.getUTF8String(nameOrd).trim()
      val name =
        if (trimmed != null && trimmed.numBytes() > 0) trimmed
        else {
          val backfill = index.nameOf(id)
          if (backfill != null) backfill else UTF8String.EMPTY_UTF8
        }
      out(i) = new GenericInternalRow(Array[Any](id, name, Variants(variant), i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(cards: Column, index: CardIndex): Column =
    ColumnBridge.column(DeckObs(ColumnBridge.expression(cards), index))
}

/** Canonical deck signature (reference src/clashdb/hash_utils.py:11-22):
  * each (id, variant) pair as strings — the id rendered as Spark casts it
  * — sorted in UTF8String byte order with null fields first (so
  * "10001" < "9", as the reference sorts string ids), each rendered
  * "id:variant" with a null side skipped, joined by "|". A null pair
  * counts as (null, null). The hash over it stays the built-in `sha1`.
  *
  * `idField` (bigint or string) and `variantField` (string) name the two
  * fields of the array's structs. */
case class DeckSignature(child: Expression, idField: String, variantField: String)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if (DeckKernels.hasField(s, idField, LongType) ||
        DeckKernels.hasField(s, idField, StringType)) &&
        DeckKernels.hasField(s, variantField, StringType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deck_signature requires array<struct<$idField:bigint|string," +
        s"$variantField:string>>, got ${other.simpleString}")
  }

  // (struct width, id, variant ordinals)
  @transient private lazy val ords = DeckKernels.ordinals(child, idField, variantField)
  @transient private lazy val longId =
    DeckKernels.elementStruct(child)(idField).dataType == LongType

  override def nullSafeEval(input: Any): Any =
    DeckSignature.signatureJava(input.asInstanceOf[ArrayData], ords(0), ords(1), longId, ords(2))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "graft.expressions.DeckSignature.signatureJava(" +
      s"$c, ${ords(0)}, ${ords(1)}, $longId, ${ords(2)})")

  override protected def withNewChildInternal(newChild: Expression): DeckSignature =
    copy(child = newChild)
}

object DeckSignature {
  private val Colon = UTF8String.fromString(":")
  private val Bar = UTF8String.fromString("|")

  def signatureJava(pairs: ArrayData, nFields: Int, idOrd: Int, longId: Boolean,
      varOrd: Int): UTF8String = {
    val n = pairs.numElements()
    val ids = new Array[UTF8String](n)
    val variants = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!pairs.isNullAt(i)) {
        val p = pairs.getStruct(i, nFields)
        if (!p.isNullAt(idOrd)) ids(i) =
          if (longId) UTF8String.fromString(java.lang.Long.toString(p.getLong(idOrd)))
          else p.getUTF8String(idOrd)
        if (!p.isNullAt(varOrd)) variants(i) = p.getUTF8String(varOrd)
      }
      i += 1
    }
    // insertion sort: decks are 8 pairs
    i = 1
    while (i < n) {
      val id = ids(i)
      val variant = variants(i)
      var j = i - 1
      while (j >= 0 && DeckKernels.compare(ids(j), variants(j), id, variant) > 0) {
        ids(j + 1) = ids(j)
        variants(j + 1) = variants(j)
        j -= 1
      }
      ids(j + 1) = id
      variants(j + 1) = variant
      i += 1
    }
    val rendered = new Array[UTF8String](n)
    i = 0
    while (i < n) {
      rendered(i) = UTF8String.concatWs(Colon, ids(i), variants(i))
      i += 1
    }
    UTF8String.concatWs(Bar, rendered: _*)
  }

  def apply(pairs: Column, idField: String, variantField: String): Column =
    ColumnBridge.column(DeckSignature(ColumnBridge.expression(pairs), idField, variantField))
}

/** Deck-archetype cascade over a deck's card names in one loop (reference
  * src/analysist/deck_type.py:38-152): each name is one hash probe for
  * its elixir and its siege/bait/bridge/tank traits, then first match
  * wins — Siege (X-Bow or Mortar) → Bait (≥3 pieces) → Cycle (4 cheapest
  * known elixirs sum ≤ 9.0) → Bridge Spam (≥2) → Beatdown (a big tank and
  * average elixir ≥ 3.5) → Hybrid. The reference's quirks are kept: the
  * average divides the known elixirs' sum by a fixed 8, and with no known
  * elixir the average is 3.0 and the 4-cheapest sum 12.0. Null names
  * match nothing; a null or empty deck is Hybrid. */
case class ClassifyDeck(child: Expression, index: CardIndex) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"classify_deck requires array<string>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any =
    ClassifyDeck.classifyJava(child.eval(input).asInstanceOf[ArrayData], index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("cardIndex", index, classOf[CardIndex].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = graft.expressions.ClassifyDeck.classifyJava(
        ${c.isNull} ? null : ${c.value}, $idx);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ClassifyDeck =
    copy(child = newChild)
}

object ClassifyDeck {
  val Siege      = "Siege"
  val Bait       = "Bait"
  val Cycle      = "Cycle"
  val BridgeSpam = "Bridge Spam"
  val Beatdown   = "Beatdown"
  val Hybrid     = "Hybrid"

  val SiegeNames: Set[String] = Set("X-Bow", "Mortar")

  private val Labels = Seq(Siege, Bait, Cycle, BridgeSpam, Beatdown, Hybrid)
    .map(l => l -> UTF8String.fromString(l)).toMap

  def classifyJava(names: ArrayData, index: CardIndex): UTF8String = {
    if (names == null || names.numElements() == 0) return Labels(Hybrid)
    val n = names.numElements()
    val elixirs = new Array[Int](n)
    var known = 0
    var bait = 0
    var bridge = 0
    var tank = 0
    var i = 0
    while (i < n) {
      if (!names.isNullAt(i)) {
        val t = index.traitsOf(names.getUTF8String(i))
        if (t != null) {
          if (t.siege) return Labels(Siege)
          if (t.elixir != CardIndex.NoElixir) { elixirs(known) = t.elixir; known += 1 }
          if (t.bait) bait += 1
          if (t.bridge) bridge += 1
          if (t.tank) tank += 1
        }
      }
      i += 1
    }
    if (bait >= 3) return Labels(Bait)
    java.util.Arrays.sort(elixirs, 0, known)
    var sum = 0.0
    var fourCycle = 0.0
    i = 0
    while (i < known) {
      sum += elixirs(i)
      if (i < 4) fourCycle += elixirs(i)
      i += 1
    }
    if (known == 0) fourCycle = 12.0
    if (fourCycle <= 9.0) return Labels(Cycle)
    if (bridge >= 2) return Labels(BridgeSpam)
    val avgElixir = if (known == 0) 3.0 else sum / 8.0
    if (tank >= 1 && avgElixir >= 3.5) Labels(Beatdown) else Labels(Hybrid)
  }

  def apply(names: Column, index: CardIndex): Column =
    ColumnBridge.column(ClassifyDeck(ColumnBridge.expression(names), index))
}

/** One side's participants rendered exactly as the reference's match
  * payload holds them (src/clashdb/hash_utils.py:29-65) and as Spark's
  * `to_json` would render them: each participant as
  * `{"crowns":N,"tag":"T"}` with T the upper-cased tag ("" when null,
  * upper-cased as Spark's `upper` does) and N the crowns (0 when null),
  * sorted by (T, N) in byte order, in a compact JSON array. A null side
  * or participant counts as empty. Strings are escaped by Jackson's
  * encoder, as `to_json`'s generator escapes them; non-ASCII stays raw,
  * for [[AsciiEscape]] over the whole document.
  *
  * Input array<struct<tag:string, crowns:int, …>>. */
case class MatchSidesJson(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if DeckKernels.hasField(s, "tag", StringType) &&
        DeckKernels.hasField(s, "crowns", IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"match_sides_json requires array<struct<tag:string,crowns:int>>, got ${other.simpleString}")
  }

  // read when first used, as `upper` reads it
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  // (struct width, tag, crowns ordinals)
  @transient private lazy val ords = DeckKernels.ordinals(child, "tag", "crowns")

  override def eval(input: InternalRow): Any =
    MatchSidesJson.renderJava(child.eval(input).asInstanceOf[ArrayData],
      ords(0), ords(1), ords(2), useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = graft.expressions.MatchSidesJson.renderJava(
        ${c.isNull} ? null : ${c.value}, ${ords.mkString(", ")}, $useICU);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MatchSidesJson =
    copy(child = newChild)
}

object MatchSidesJson {
  private val EmptySide = UTF8String.fromString("[]")

  def renderJava(side: ArrayData, nFields: Int, tagOrd: Int, crownsOrd: Int,
      useICU: Boolean): UTF8String = {
    if (side == null || side.numElements() == 0) return EmptySide
    val n = side.numElements()
    val tags = new Array[UTF8String](n)
    val crowns = new Array[Int](n)
    var i = 0
    while (i < n) {
      tags(i) = UTF8String.EMPTY_UTF8
      if (!side.isNullAt(i)) {
        val p = side.getStruct(i, nFields)
        if (!p.isNullAt(tagOrd)) tags(i) = CollationSupport.Upper.exec(
          p.getUTF8String(tagOrd), CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
        if (!p.isNullAt(crownsOrd)) crowns(i) = p.getInt(crownsOrd)
      }
      i += 1
    }
    // insertion sort: a side is one participant in 1v1, two in 2v2
    i = 1
    while (i < n) {
      val tag = tags(i)
      val crown = crowns(i)
      var j = i - 1
      while (j >= 0 && {
          val c = tags(j).compareTo(tag)
          c > 0 || (c == 0 && crowns(j) > crown)
        }) {
        tags(j + 1) = tags(j)
        crowns(j + 1) = crowns(j)
        j -= 1
      }
      tags(j + 1) = tag
      crowns(j + 1) = crown
      i += 1
    }
    val json = JsonStringEncoder.getInstance()
    val sb = new java.lang.StringBuilder(32 * n)
    sb.append('[')
    i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      sb.append("{\"crowns\":").append(crowns(i)).append(",\"tag\":\"")
      json.quoteAsString(tags(i).toString, sb)
      sb.append("\"}")
      i += 1
    }
    sb.append(']')
    UTF8String.fromString(sb.toString)
  }

  def apply(side: Column): Column =
    ColumnBridge.column(MatchSidesJson(ColumnBridge.expression(side)))
}

/** Type checks and orderings the deck kernels share. */
private[expressions] object DeckKernels {
  def hasField(s: StructType, name: String, t: DataType): Boolean =
    s.fields.exists(f => f.name == name && f.dataType == t)

  def elementStruct(child: Expression): StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** The width of the array's struct, then the ordinal of each field. */
  def ordinals(child: Expression, fields: String*): Array[Int] = {
    val s = elementStruct(child)
    (s.length +: fields.map(s.fieldIndex)).toArray
  }

  /** Struct order of two (string, string) pairs: field by field, byte
    * order, null first. */
  def compare(a1: UTF8String, a2: UTF8String, b1: UTF8String, b2: UTF8String): Int = {
    val c = compareNullsFirst(a1, b1)
    if (c != 0) c else compareNullsFirst(a2, b2)
  }

  private def compareNullsFirst(a: UTF8String, b: UTF8String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.compareTo(b)
}
