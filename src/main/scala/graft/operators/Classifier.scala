package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.ClassifyDeck
import graft.sources.CardMetadata

/** Deck-archetype classifier: a priority rule cascade over card metadata,
  * first match wins (reference src/analysist/deck_type.py:85-152, features
  * precomputed at :38-82).
  *
  * Engine-native design: instead of a per-row UDF doing dict lookups (the
  * reference's shape), the whole cascade is one native expression,
  * [[graft.expressions.ClassifyDeck]], over the deck's `array<string>` of
  * card names. It walks the deck once, one hash probe per card into the
  * ~121-card metadata, which rides in the generated code of every task as
  * a referenced object. No join, no shuffle, no broadcast — the right
  * trade at any scale for a dimension this size.
  */
object Classifier {
  val Siege      = ClassifyDeck.Siege
  val Bait       = ClassifyDeck.Bait
  val Cycle      = ClassifyDeck.Cycle
  val BridgeSpam = ClassifyDeck.BridgeSpam
  val Beatdown   = ClassifyDeck.Beatdown
  val Hybrid     = ClassifyDeck.Hybrid

  /** The cascade (deck_type.py:89-152): Siege → Bait(≥3) → Cycle(4-cheapest
    * ≤9) → Bridge Spam(≥2) → Beatdown(tank ∧ avg≥3.5) → Hybrid; empty deck
    * → Hybrid (:97-98). The features keep the reference's quirks: the
    * average elixir divides by a fixed 8, and with no known elixir it is
    * 3.0 and the 4-cheapest sum 12.0 (deck_type.py:54-61). */
  def classifyDeck(cardNames: Column, meta: CardMetadata.Meta): Column =
    ClassifyDeck(cardNames, meta.index)

  /** Generic rule-cascade helper: first predicate that fires labels the row
    * (`when`-chain, same shape Catalyst codegens for CASE WHEN). Used for
    * classifier-style segmentation over arbitrary tables. */
  def cascade(rules: Seq[(Column, String)], fallback: String): Column =
    rules.foldLeft(Option.empty[Column]) {
      case (None, (p, label))      => Some(when(p, label))
      case (Some(acc), (p, label)) => Some(acc.when(p, label))
    }.map(_.otherwise(fallback)).getOrElse(lit(fallback))
}
