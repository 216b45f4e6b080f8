package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** Seeded generator for the snapshot refresh's three inputs, in the shapes
  * of FIXTURES.md A1-A3: battle-log JSON lines, leaderboard JSON lines and a
  * 121-card metadata JSON array.
  *
  * Every edge case of A1 is present: cross-side duplicate sightings (an
  * opponent who is also in the Top-N logs the same match), 2v2 lines,
  * non-ranked mode ids, 7-card decks, missing card ids, missing card names,
  * evolution levels 0/1/2/null and draws.
  *
  * The [[Manifest]] is the ground truth, counted while generating, without
  * Spark: which matches are valid and unique is known by construction, not
  * re-derived from the lines.
  *
  * Traffic properties (fixed here, stated in BENCHMARK.json):
  *  - a ranked match's opponent is another Top-N player with probability
  *    [[SharedOpponent]], and then the match is in both battle logs;
  *  - about 12% of lines are rejected (2v2, non-ranked, 7-card deck,
  *    missing card id);
  *  - each card entry lacks its name with probability [[MissingName]];
  *  - each player keeps 1-3 decks with fixed evolution levels, and decks
  *    are drawn Zipf-like from a pool of meta decks, so distinct decks stay
  *    far below observations.
  */
object SnapshotInputs {
  val BattlesPerPlayer = 20
  val SharedOpponent = 0.25
  val MissingName = 0.03
  val RankedModes: Seq[(Long, String)] = Seq(72000006L -> "Ladder", 72000464L -> "Ranked1v1_NewArena")
  val OtherModes: Seq[(Long, String)] = Seq(72000010L -> "Friendly", 72000007L -> "Challenge")
  val TeamMode: (Long, String) = 72000009L -> "TeamVsTeam"

  /** Ground truth of one generated input set. `metaObs` is 2 x matches,
    * `topnObs` the observations whose player is in the Top-N, `wins` the
    * matches that are not draws. */
  final case class Manifest(
      topN: Int, lines: Long, rejectedLines: Long, sharedLines: Long,
      cardEntries: Long, missingNames: Long, matches: Long, draws: Long,
      metaObs: Long, topnObs: Long, wins: Long, players: Long,
      decks: Long, cards: Long, deckObservations: Long) {
    def rejectedShare: Double = rejectedLines.toDouble / lines
    def sharedShare: Double = sharedLines.toDouble / lines
    def missingNameShare: Double = missingNames.toDouble / cardEntries
    def decksPerObservation: Double = decks.toDouble / deckObservations
  }

  final case class Card(id: Long, name: String, elixir: Option[Int],
      tank: Boolean, bait: Boolean, bridge: Boolean)

  /** The 121-card dimension: named archetype pieces plus filler cards. */
  val cards: IndexedSeq[Card] = {
    val named = Seq(
      ("X-Bow", 6, ""), ("Mortar", 4, ""),
      ("Goblin Barrel", 3, "bait"), ("Princess", 3, "bait"), ("Goblin Gang", 3, "bait"),
      ("Skeleton Barrel", 3, "bait"), ("Dart Goblin", 3, "bait"), ("Rascals", 5, "bait"),
      ("Minion Horde", 5, "bait"), ("Skeleton Army", 3, "bait"),
      ("Bandit", 3, "bridge"), ("Battle Ram", 4, "bridge"), ("Royal Ghost", 3, "bridge"),
      ("Ram Rider", 5, "bridge"), ("Dark Prince", 4, "bridge"), ("Elixir Golem", 3, "bridge"),
      ("Magic Archer", 4, "bridge"),
      ("Golem", 8, "tank"), ("Giant", 5, "tank"), ("Lava Hound", 7, "tank"),
      ("Electro Giant", 7, "tank"), ("Royal Giant", 6, "tank"), ("Goblin Giant", 6, "tank"),
      ("Mega Knight", 7, "tank"), ("P.E.K.K.A", 7, "tank"),
      ("Skeletons", 1, ""), ("Ice Spirit", 1, ""), ("Fire Spirit", 1, ""),
      ("Electro Spirit", 1, ""), ("The Log", 2, ""), ("Ice Golem", 2, ""), ("Zap", 2, ""),
      ("Bats", 2, ""), ("Heal Spirit", 1, ""), ("Goblins", 2, ""))
    val namedCards = named.zipWithIndex.map { case ((n, e, k), i) =>
      Card(26000000L + i, n, Some(e), k == "tank", k == "bait", k == "bridge") }
    val filler = (namedCards.size until 121).map { i =>
      // three filler cards carry no elixir, as in the reference metadata
      val elixir = if (i % 40 == 7) None else Some(2 + (i * 7) % 5)
      Card(26000000L + i, f"Card $i%03d", elixir, tank = false, bait = false, bridge = false)
    }
    (namedCards ++ filler).toIndexedSeq
  }
  private val byName = cards.map(c => c.name -> c).toMap
  private val byId = cards.map(c => c.id -> c).toMap

  /** A deck a player keeps: 8 card ids and their fixed evolution levels. */
  private final case class Deck(ids: IndexedSeq[Long], evo: IndexedSeq[Int]) {
    def signature: String = ids.indices
      .map(i => (ids(i).toString, variant(evo(i))))
      .sorted.map { case (id, v) => s"$id:$v" }.mkString("|")
  }
  private def variant(evo: Int): String = evo match {
    case 1 => "evo"
    case 2 => "hero"
    case _ => "normal"
  }

  private def sha1Hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Meta decks: a few archetype compositions, then filler. */
  private def metaDecks(rnd: java.util.Random, n: Int): IndexedSeq[IndexedSeq[Long]] = {
    def pick(names: Seq[String], k: Int): Seq[Long] =
      shuffled(rnd, names).take(k).map(byName(_).id)
    val bait = cards.filter(_.bait).map(_.name)
    val bridge = cards.filter(_.bridge).map(_.name)
    val tanks = cards.filter(_.tank).map(_.name)
    val cheap = Seq("Skeletons", "Ice Spirit", "Fire Spirit", "Electro Spirit",
      "The Log", "Ice Golem", "Zap", "Bats", "Heal Spirit", "Goblins")
    val filler = cards.drop(35).map(_.id)
    val seen = mutable.LinkedHashSet.empty[Seq[Long]]
    while (seen.size < n) {
      val core: Seq[Long] = rnd.nextInt(6) match {
        case 0 => pick(Seq("X-Bow", "Mortar"), 1) ++ pick(cheap, 2)
        case 1 => pick(bait, 3)
        case 2 => pick(cheap, 4)
        case 3 => pick(bridge, 2)
        case 4 => pick(tanks, 1)
        case _ => Seq.empty
      }
      val rest = shuffled(rnd, filler.filterNot(core.contains)).take(8 - core.size)
      seen += shuffled(rnd, core ++ rest)
    }
    seen.toIndexedSeq.map(_.toIndexedSeq)
  }

  private def shuffled[A](rnd: java.util.Random, xs: Seq[A]): Seq[A] = {
    val b = xs.toBuffer
    for (i <- b.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b.toSeq
  }

  /** Zipf-like sampler over ranks 0..n-1 (weight 1/(r+1)^1.1). */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(rnd: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private final case class Player(tag: String, decks: IndexedSeq[Deck])

  private def tagOf(prefix: Char, i: Int, rnd: java.util.Random): String = {
    val alphabet = "0289PYLQGRJCUV"
    val sb = new StringBuilder("#").append(prefix)
    var x = i.toLong * 7919L + rnd.nextInt(13)
    for (_ <- 0 until 7) { sb.append(alphabet((x % alphabet.length).toInt)); x /= alphabet.length }
    sb.append(i.toString).toString
  }

  private val timeFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'.000Z'").withZone(ZoneOffset.UTC)

  /** Write the three inputs under `dir` (battles.json, leaderboard.json,
    * card_metadata.json) and return their ground truth. */
  def generate(seed: Long, topN: Int, dir: File): Manifest = {
    val rnd = new java.util.Random(seed)
    dir.mkdirs()
    val pool = metaDecks(rnd, math.max(120, topN / 4))
    val zipf = new Zipf(pool.size)
    def deck(): Deck = {
      val ids = pool(zipf.draw(rnd))
      // fixed per player deck: an evolution on the first slot, sometimes a
      // hero on the second
      val evo = ids.indices.map { i =>
        if (i == 0 && rnd.nextDouble() < 0.5) 1
        else if (i == 1 && rnd.nextDouble() < 0.15) 2
        else 0
      }
      Deck(ids, evo)
    }
    def player(prefix: Char, i: Int, maxDecks: Int): Player =
      Player(tagOf(prefix, i, rnd), IndexedSeq.fill(1 + rnd.nextInt(maxDecks))(deck()))
    val top = IndexedSeq.tabulate(topN)(i => player('T', i, 3))
    // the leaderboard lists a tenth more than the Top-N; those players and
    // the rest of the outsiders only appear as opponents
    val outsiders = IndexedSeq.tabulate(2 * topN)(i => player('O', i, 2))
    val ladderExtra = topN / 10

    writeLeaderboard(new File(dir, "leaderboard.json"), top ++ outsiders.take(ladderExtra), rnd)
    writeMetadata(new File(dir, "card_metadata.json"))

    // battle logs, player by player; a match against another Top-N
    // player is queued for that player's log as well
    val logs = Array.fill(topN)(mutable.ArrayBuffer.empty[String])
    var lines, rejected, shared, entries, missing, matches, draws, topnObs = 0L
    val deckHashes = mutable.HashSet.empty[String]
    val cardIds = mutable.HashSet.empty[Long]
    val base = Instant.parse("2025-01-01T00:00:00Z").getEpochSecond
    var matchNo = 0L

    def participant(sb: StringBuilder, p: Player, d: Deck, crowns: Int, nCards: Int,
        nullId: Boolean): Unit = {
      sb.append("{\"tag\":\"").append(p.tag).append("\",\"name\":\"n").append(p.tag.drop(1))
        .append("\",\"startingTrophies\":").append(7000 + rnd.nextInt(2000))
        .append(",\"crowns\":").append(crowns).append(",\"cards\":[")
      for (i <- 0 until nCards) {
        if (i > 0) sb.append(',')
        val c = byId(d.ids(i))
        sb.append('{')
        rnd.nextInt(1000) match {
          case r if r < MissingName * 1000 =>
            missing += 1
            // a missing name is absent, null or blank
            r % 3 match {
              case 0 => ()
              case 1 => sb.append("\"name\":null,")
              case _ => sb.append("\"name\":\"\",")
            }
          case _ => sb.append("\"name\":\"").append(c.name).append("\",")
        }
        entries += 1
        if (nullId && i == 3) sb.append("\"id\":null")
        else sb.append("\"id\":").append(c.id)
        sb.append(",\"level\":").append(11 + rnd.nextInt(4)).append(",\"maxLevel\":14")
        // normal is written as 0, null or no field at all
        d.evo(i) match {
          case 0 => rnd.nextInt(3) match {
            case 0 => sb.append(",\"evolutionLevel\":0")
            case 1 => sb.append(",\"evolutionLevel\":null")
            case _ => ()
          }
          case e => sb.append(",\"evolutionLevel\":").append(e)
        }
        sb.append('}')
      }
      sb.append("]}")
    }

    def line(time: String, mode: (Long, String), team: Seq[(Player, Deck, Int, Int, Boolean)],
        opp: Seq[(Player, Deck, Int, Int, Boolean)]): String = {
      val sb = new StringBuilder(2048)
      sb.append("{\"type\":\"").append(if (team.size > 1) "teamVsTeam" else "PvP")
        .append("\",\"battleTime\":\"").append(time)
        .append("\",\"isLadderTournament\":false,\"arena\":{\"id\":54000012,\"name\":\"Legendary Arena\"}")
        .append(",\"gameMode\":{\"id\":").append(mode._1).append(",\"name\":\"").append(mode._2)
        .append("\"},\"deckSelection\":\"collection\",\"team\":[")
      team.zipWithIndex.foreach { case ((p, d, cr, n, nul), i) =>
        if (i > 0) sb.append(','); participant(sb, p, d, cr, n, nul) }
      sb.append("],\"opponent\":[")
      opp.zipWithIndex.foreach { case ((p, d, cr, n, nul), i) =>
        if (i > 0) sb.append(','); participant(sb, p, d, cr, n, nul) }
      sb.append("]}").toString
    }

    def pickDeck(p: Player): Deck =
      if (p.decks.size == 1 || rnd.nextDouble() < 0.6) p.decks.head
      else p.decks(1 + rnd.nextInt(p.decks.size - 1))

    for (i <- 0 until topN; _ <- 0 until BattlesPerPlayer) {
      val me = top(i)
      val time = timeFmt.format(Instant.ofEpochSecond(base + matchNo * 7))
      matchNo += 1
      val kind = rnd.nextDouble()
      if (kind < 0.03) {
        // 2v2: rejected, logged by the initiator only
        val mates = Seq(me, outsiders(rnd.nextInt(outsiders.size)))
        val foes = Seq.fill(2)(outsiders(rnd.nextInt(outsiders.size)))
        logs(i) += line(time, TeamMode, mates.map(p => (p, pickDeck(p), 1, 8, false)),
          foes.map(p => (p, pickDeck(p), 0, 8, false)))
        lines += 1; rejected += 1
      } else {
        val sharedWith =
          if (rnd.nextDouble() < SharedOpponent) {
            val j = rnd.nextInt(topN - 1)
            Some(if (j >= i) j + 1 else j)
          } else None
        val opp = sharedWith.map(top).getOrElse(outsiders(rnd.nextInt(outsiders.size)))
        val ranked = kind >= 0.08
        val mode = if (ranked) RankedModes(if (rnd.nextDouble() < 0.9) 0 else 1)
                   else OtherModes(rnd.nextInt(OtherModes.size))
        // deck defects reject the whole match: a 7-card deck or a card
        // without an id, on either side
        val defect = rnd.nextDouble()
        val (meCards, oppCards) = if (defect < 0.02) (8, 7) else if (defect < 0.03) (7, 8) else (8, 8)
        val nullId = defect >= 0.03 && defect < 0.04
        val (myCrowns, oppCrowns) =
          if (rnd.nextDouble() < 0.08) { val c = rnd.nextInt(2); (c, c) }
          else {
            val w = 1 + rnd.nextInt(3); val l = rnd.nextInt(w)
            if (rnd.nextBoolean()) (w, l) else (l, w)
          }
        val myDeck = pickDeck(me)
        val oppDeck = pickDeck(opp)
        val valid = ranked && defect >= 0.04
        val mine = (me, myDeck, myCrowns, meCards, false)
        val theirs = (opp, oppDeck, oppCrowns, oppCards, nullId)
        logs(i) += line(time, mode, Seq(mine), Seq(theirs))
        lines += 1
        sharedWith.foreach { j =>
          logs(j) += line(time, mode, Seq(theirs), Seq(mine))
          lines += 1; shared += 2
        }
        val sightings = if (sharedWith.isDefined) 2 else 1
        if (!valid) rejected += sightings
        else {
          matches += 1
          if (myCrowns == oppCrowns) draws += 1
          topnObs += sightings
          Seq(myDeck, oppDeck).foreach { d =>
            deckHashes += sha1Hex(d.signature)
            cardIds ++= d.ids
          }
        }
      }
    }

    val w = writer(new File(dir, "battles.json"))
    try logs.foreach(_.foreach { l => w.write(l); w.write('\n') })
    finally w.close()

    Manifest(topN = topN, lines = lines, rejectedLines = rejected, sharedLines = shared,
      cardEntries = entries, missingNames = missing, matches = matches, draws = draws,
      metaObs = 2 * matches, topnObs = topnObs, wins = matches - draws,
      players = topN, decks = deckHashes.size, cards = cardIds.size,
      deckObservations = 2 * matches)
  }

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  /** Leaderboard lines: tags sometimes lower-case, unprefixed or padded
    * (normalized by the program); a tenth carry eloRating instead of
    * trophies. */
  private def writeLeaderboard(f: File, ladder: IndexedSeq[Player], rnd: java.util.Random): Unit = {
    val w = writer(f)
    try ladder.zipWithIndex.foreach { case (p, i) =>
      val score = 9000 - i
      val tag = rnd.nextInt(10) match {
        case 0 => p.tag.drop(1).toLowerCase
        case 1 => s"  ${p.tag} "
        case _ => p.tag
      }
      val ladderField =
        if (rnd.nextInt(10) == 0) s"\"eloRating\":$score" else s"\"trophies\":$score"
      w.write(s"""{"tag":"$tag","name":"n${p.tag.drop(1)}","rank":${i + 1},$ladderField,"expLevel":60}""")
      w.write('\n')
    } finally w.close()
  }

  private def writeMetadata(f: File): Unit = {
    val w = writer(f)
    try {
      w.write("[\n")
      w.write(cards.map { c =>
        val elixir = c.elixir.map(_.toString).getOrElse("null")
        s"""  {"id": ${c.id}, "name": "${c.name}", "maxLevel": 14, "elixir": $elixir, "is_big_tank": ${c.tank}, "is_bait_piece": ${c.bait}, "is_bridge_spam_piece": ${c.bridge}}"""
      }.mkString(",\n"))
      w.write("\n]\n")
    } finally w.close()
  }
}
