package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Classifier.{Bait, Beatdown, BridgeSpam, Cycle, Hybrid, Siege}
import graft.sources.CardMetadata

/** The reference model for the native deck and match kernels
  * (graft.expressions.DeckObs, DeckSignature, ClassifyDeck,
  * MatchSidesJson): the lambda higher-order-function definitions that
  * BattleOps, Classifier and Hashing used before the kernels replaced
  * them, kept unchanged. DeckKernelsSpec checks the kernels against them
  * on generated edge cases. */
object HofReference {

  // BattleOps (scripts/etl_snapshot_topn.py:50-66, 77-108, 140-143, 287-288)

  /** Card variant from evolutionLevel: 1→evo, 2→hero, else normal. */
  def cardVariant(evolutionLevel: Column): Column =
    when(evolutionLevel === 1, "evo")
      .when(evolutionLevel === 2, "hero")
      .otherwise("normal")

  def deckObs(cards: Column, nameById: Map[Long, String]): Column = {
    val nameMap =
      if (nameById.isEmpty) map()
      else map(nameById.toSeq.sortBy(_._1).flatMap {
        case (id, n) => Seq(lit(id), lit(n)) }: _*)
    val all = coalesce(cards, array())
    val first8 = slice(all, 1, 8)
    val obs = transform(first8, (c, i) => {
      val cid = c.getField("id").cast("long")
      struct(
        cid.as("card_id"),
        coalesce(nullif(trim(coalesce(c.getField("name"), lit(""))), lit("")),
          element_at(nameMap, cid), lit("")).as("card_name"),
        cardVariant(c.getField("evolutionLevel")).as("card_variant"),
        (i + 1).cast("int").as("slot"))
    })
    val valid = size(all) >= 8 &&
      !exists(first8, c => c.getField("id").isNull) &&
      size(array_distinct(transform(obs, o =>
        struct(o.getField("card_id"), o.getField("card_variant"))))) === 8
    when(valid, obs)
  }

  /** (card_id-as-string, variant) pairs feeding the canonical signature
    * (etl_snapshot_topn.py:140-143). */
  def deckPairs(obs: Column): Column =
    transform(obs, o => struct(
      o.getField("card_id").cast("string").as("_1"),
      o.getField("card_variant").as("_2")))

  /** Deck hash of an extracted observation array. */
  def deckHashOf(obs: Column): Column = deckHash(deckPairs(obs))

  /** Non-empty card names for the classifier
    * (etl_snapshot_topn.py:287-288). */
  def classifierNames(obs: Column): Column =
    filter(transform(obs, o => o.getField("card_name")), n => n =!= "")

  // Classifier (src/analysist/deck_type.py:38-152)

  final case class Features(avgElixir: Column, fourCycle: Column,
      hasXbow: Column, hasMortar: Column, baitPieces: Column,
      bridgeSpamCount: Column, bigTankCount: Column)

  def features(cardNames: Column, meta: CardMetadata.Meta): Features = {
    // elixirs = metadata elixir per card that HAS metadata (missing names
    // contribute nothing to the list but still count toward the ÷8).
    val elixirMap =
      if (meta.elixirByName.isEmpty) map()
      else map(meta.elixirByName.toSeq.sortBy(_._1).flatMap {
        case (n, e) => Seq(lit(n), lit(e.toDouble)) }: _*)
    val elixirs = filter(
      transform(cardNames, n => element_at(elixirMap, n)),
      e => e.isNotNull)
    val nElixirs = size(elixirs)
    // quirks preserved: ÷8 fixed denominator; defaults 3.0 / 12.0 when no
    // metadata matched (deck_type.py:54-61).
    val avgElixir = when(nElixirs === 0, lit(3.0))
      .otherwise(aggregate(elixirs, lit(0.0), (acc, e) => acc + e) / 8.0)
    val fourCycle = when(nElixirs === 0, lit(12.0))
      .otherwise(aggregate(slice(array_sort(elixirs), 1, 4), lit(0.0), (acc, e) => acc + e))
    def countFlag(names: Set[String]): Column =
      if (names.isEmpty) lit(0)
      else size(filter(cardNames, n => n.isInCollection(names.toSeq.sorted)))
    Features(
      avgElixir = avgElixir,
      fourCycle = fourCycle,
      hasXbow = array_contains(cardNames, "X-Bow"),
      hasMortar = array_contains(cardNames, "Mortar"),
      baitPieces = countFlag(meta.baitNames),
      bridgeSpamCount = countFlag(meta.bridgeNames),
      bigTankCount = countFlag(meta.tankNames))
  }

  /** The cascade (deck_type.py:89-152): Siege → Bait(≥3) → Cycle(4-cheapest
    * ≤9) → Bridge Spam(≥2) → Beatdown(tank ∧ avg≥3.5) → Hybrid; empty deck
    * → Hybrid (:97-98). */
  def classifyDeck(cardNames: Column, meta: CardMetadata.Meta): Column = {
    val f = features(cardNames, meta)
    when(cardNames.isNull || size(cardNames) === 0, Hybrid)
      .when(f.hasXbow || f.hasMortar, Siege)
      .when(f.baitPieces >= 3, Bait)
      .when(f.fourCycle <= 9.0, Cycle)
      .when(f.bridgeSpamCount >= 2, BridgeSpam)
      .when(f.bigTankCount >= 1 && f.avgElixir >= 3.5, Beatdown)
      .otherwise(Hybrid)
  }

  // Hashing (src/clashdb/hash_utils.py)

  def canonicalDeckSignature(pairs: Column): Column = {
    val normalized = transform(pairs, p =>
      struct(p.getField("_1").cast("string").as("cid"),
             p.getField("_2").cast("string").as("variant")))
    array_join(
      transform(array_sort(normalized),
        p => concat_ws(":", p.getField("cid"), p.getField("variant"))),
      "|")
  }

  /** sha1 hex of the utf-8 signature — bit-identical to Python
    * `hashlib.sha1(sig.encode()).hexdigest()` (hash_utils.py:25-26). */
  def deckHashFromSignature(sig: Column): Column = sha1(sig)

  /** Deck hash straight from an array<struct<card_id, card_variant>>. */
  def deckHash(pairs: Column): Column = deckHashFromSignature(canonicalDeckSignature(pairs))

  /** Match-dedup hash, stable across both players' battlelogs.
    * Reference src/clashdb/hash_utils.py:29-65: sha1 of the compact
    * sorted-key JSON
    * `{"battleTime":…,"mode":…,"opponent":[{"crowns":N,"tag":T}…],"team":[…]}`.
    *
    * Byte-compat notes:
    *  - Python `json.dumps(sort_keys=True, separators=(",",":"))` renders
    *    keys alphabetically with no whitespace; Spark `to_json` renders
    *    struct fields in declaration order with no whitespace, so we declare
    *    fields already alphabetical (battleTime < mode < opponent < team;
    *    crowns < tag).
    *  - `mode` = str(gameMode.id or gameMode.name or type or "") — Python
    *    `or` skips 0/""/null, reproduced with nullif+coalesce.
    *  - side payload participants are sorted by upper-cased tag; crowns
    *    coerced int(x or 0).
    *  - Python escapes non-ASCII (`ensure_ascii=True`) while `to_json`
    *    does not — closed by [[graft.expressions.AsciiEscape]] over the
    *    rendered JSON (every remaining non-ASCII char sits inside a string
    *    literal, exactly the set `ensure_ascii` escapes). ASCII payloads
    *    pass through byte-unchanged (zero-alloc fast path), so the escape
    *    costs nothing on the common case and a non-ASCII game-mode name
    *    hashes identically to the Python bytes (HashingSpec vector). */
  def matchHash(battleTime: Column, modeId: Column, modeName: Column,
                battleType: Column, team: Column, opponent: Column): Column = {
    def sidePayload(side: Column): Column = {
      // sort by tag (tag first in the sort struct), then re-shape to the
      // alphabetical {crowns, tag} field order the JSON needs.
      val sorted = array_sort(transform(coalesce(side, array()), p =>
        struct(upper(coalesce(p.getField("tag"), lit(""))).as("tag"),
               coalesce(p.getField("crowns").cast("int"), lit(0)).as("crowns"))))
      transform(sorted, p =>
        struct(p.getField("crowns").as("crowns"), p.getField("tag").as("tag")))
    }
    val modeKey = coalesce(
      nullif(modeId.cast("string"), lit("0")),
      nullif(coalesce(modeName, lit("")), lit("")),
      nullif(coalesce(battleType, lit("")), lit("")),
      lit(""))
    val payload = struct(
      coalesce(battleTime, lit("")).as("battleTime"),
      modeKey.as("mode"),
      sidePayload(opponent).as("opponent"),
      sidePayload(team).as("team"))
    sha1(graft.expressions.AsciiEscape(to_json(payload)))
  }

  /** Orientation-insensitive match hash — the dedup key the reference
    * *documents* but does not implement: hash_utils.py:29-33 claims the
    * hash is "stable across both players' battlelogs", yet renders team
    * and opponent under distinct JSON keys, so the same match seen from
    * the two players' logs hashes differently and never dedups. We keep
    * [[matchHash]] byte-compatible with the reference and give the
    * pipeline this symmetric variant: each side renders to its canonical
    * JSON and the two strings are ordered lexicographically before
    * hashing, so either perspective produces identical bytes. */
  def symmetricMatchHash(battleTime: Column, modeId: Column, modeName: Column,
                         battleType: Column, team: Column, opponent: Column): Column = {
    def sideJson(side: Column): Column = {
      val sorted = array_sort(transform(coalesce(side, array()), p =>
        struct(upper(coalesce(p.getField("tag"), lit(""))).as("tag"),
               coalesce(p.getField("crowns").cast("int"), lit(0)).as("crowns"))))
      to_json(transform(sorted, p =>
        struct(p.getField("crowns").as("crowns"), p.getField("tag").as("tag"))))
    }
    val modeKey = coalesce(
      nullif(modeId.cast("string"), lit("0")),
      nullif(coalesce(modeName, lit("")), lit("")),
      nullif(coalesce(battleType, lit("")), lit("")),
      lit(""))
    val a = sideJson(team)
    val b = sideJson(opponent)
    sha1(graft.expressions.AsciiEscape(concat_ws("|",
      coalesce(battleTime, lit("")), modeKey, least(a, b), greatest(a, b))))
  }

  /** The side rendering both match hashes share, as symmetricMatchHash
    * builds it. */
  def sideJson(side: Column): Column = {
    val sorted = array_sort(transform(coalesce(side, array()), p =>
      struct(upper(coalesce(p.getField("tag"), lit(""))).as("tag"),
             coalesce(p.getField("crowns").cast("int"), lit(0)).as("crowns"))))
    to_json(transform(sorted, p =>
      struct(p.getField("crowns").as("crowns"), p.getField("tag").as("tag"))))
  }
}
