package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.{AsciiEscape, DeckSignature, MatchSidesJson}

/** Deck / match identity hashing, byte-compatible with the reference
  * (src/clashdb/hash_utils.py). The per-row collection work is done by
  * two native kernels, [[graft.expressions.DeckSignature]] (sort and
  * render a deck's pairs) and [[graft.expressions.MatchSidesJson]] (sort
  * and render one side's participants); the rest is built-ins
  * (`concat_ws`, `least`/`greatest`, `to_json`, `sha1`). No lambda
  * higher-order function is involved — Spark evaluates those interpreted,
  * outside whole-stage codegen — so hashing generates code and scales
  * embarrassingly parallel (pure per-row work, no shuffle).
  */
object Hashing {

  /** Canonical deck signature: sort (card_id, variant) pairs as *strings*,
    * lexicographically, and render "id:variant|id:variant|…".
    * Reference src/clashdb/hash_utils.py:11-22 — note the Python sorts the
    * STRING form of card_id ("10001" < "26000"), reproduced by casting to
    * string before sorting (pairs compare field by field, in byte order).
    *
    * @param pairs array<struct<_1: card_id (bigint or string), _2: variant string>>
    */
  def canonicalDeckSignature(pairs: Column): Column = DeckSignature(pairs, "_1", "_2")

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
    *    struct fields in declaration order with no whitespace, so the head
    *    is `to_json` of (battleTime, mode), reopened, and the sides follow
    *    in key order (opponent < team) as
    *    [[graft.expressions.MatchSidesJson]] renders them (crowns < tag,
    *    escaped as `to_json` escapes).
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
    // {"battleTime":…,"mode":…} reopened to append the side arrays
    val head = to_json(struct(coalesce(battleTime, lit("")).as("battleTime"),
      modeKey(modeId, modeName, battleType).as("mode")))
    val payload = concat(head.substr(lit(1), length(head) - 1),
      lit(",\"opponent\":"), MatchSidesJson(opponent),
      lit(",\"team\":"), MatchSidesJson(team), lit("}"))
    sha1(AsciiEscape(payload))
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
    val a = MatchSidesJson(team)
    val b = MatchSidesJson(opponent)
    sha1(AsciiEscape(concat_ws("|", coalesce(battleTime, lit("")),
      modeKey(modeId, modeName, battleType), least(a, b), greatest(a, b))))
  }

  /** str(gameMode.id or gameMode.name or type or "") — Python `or` skips
    * 0/""/null. */
  private def modeKey(modeId: Column, modeName: Column, battleType: Column): Column =
    coalesce(
      nullif(modeId.cast("string"), lit("0")),
      nullif(coalesce(modeName, lit("")), lit("")),
      nullif(coalesce(battleType, lit("")), lit("")),
      lit(""))

  /** Content hash for generic exact dedup (md5 hex — cheap, codegen'd,
    * and reproducible in any SQL engine for oracle checks). */
  def contentHash(c: Column): Column = md5(c.cast("string"))
}
