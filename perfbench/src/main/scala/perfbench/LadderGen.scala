package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.battle.{BattleFixtures, DeckType}
import graft.sources.RestClient

/** What the generator knows about one player's battle log: battles
  * generated, battles a ranked-1v1 8-card filter must keep, and the
  * archetype of every kept deck (both sides) by the reference's
  * tier-1 classifier. */
final case class LogTruth(generated: Int, kept: Int, types: Map[String, Long])

/** Seeded ladder generator in the nested battle-log shape
  * (`BattleSchema.raw`). Every player's log is derived from (seed, tag)
  * alone, so bodies are byte-identical whatever order or thread asks
  * for them, and the same seed always yields the same ladder.
  *
  * Mix per battle: 2v2 and non-ranked modes (dropped by Phase 0's
  * filter), 7-card decks and empty card names (dropped by the 8-card
  * guard), unknown cards and padded names (kept), Mirror's null elixir
  * (kept), null mode names. Decks start from the fixture archetype
  * decks with up to two cards swapped; Siege decks are drawn at
  * `rareRate` only, so Phase 0's per-archetype floor needs many loops.
  */
final case class LadderGen(seed: Long, players: Int, logSize: Int, rareRate: Double) {
  import LadderGen._

  val tags: IndexedSeq[String] = (0 until players).map(i => tagOf(seed, i))

  def leaderboardBody(limit: Int): String = {
    val sb = new StringBuilder("""{"items": [""")
    tags.take(limit).zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(", ")
      sb.append(s"""{"tag": "$t", "name": "player$i", "rank": ${i + 1}, "eloRating": ${4000 - i}}""")
    }
    sb.append("]}").toString
  }

  /** The JSON battle log of one player and its ground truth. */
  def battlelog(tag: String): (String, LogTruth) = {
    val rng = new java.util.SplittableRandom(mix(seed, tag.hashCode.toLong))
    val sb = new StringBuilder("[")
    var kept = 0
    val types = scala.collection.mutable.Map.empty[String, Long]
    (0 until logSize).foreach { i =>
      if (i > 0) sb.append(", ")
      val r = rng.nextDouble()
      val teamSize = if (r < 0.06) 2 else 1
      val ranked = !(r >= 0.06 && r < 0.12)
      val my = deck(rng)
      val opp = deck(rng)
      // the 8-card guard's two failure shapes: a 7-card deck and a blank name
      val mySent: Seq[String] =
        if (r >= 0.12 && r < 0.15) my.take(7)
        else if (r >= 0.15 && r < 0.17) my.updated(3, "  ")
        else my
      val (modeId, modeName, typ) =
        if (!ranked) (72000010L, "\"Challenge\"", "challenge")
        else if (rng.nextBoolean()) (72000006L, if (rng.nextDouble() < 0.03) "null" else "\"Ladder\"", "PvP")
        else (72000464L, "\"Ranked1v1\"", "pathOfLegend")
      val myCrowns = rng.nextInt(4)
      val oppCrowns = rng.nextInt(4)
      val time = f"202512${1 + rng.nextInt(28)}%02dT${rng.nextInt(24)}%02d${rng.nextInt(60)}%02d${rng.nextInt(60)}%02d.000Z"
      def side(t: String, crowns: Int, cards: Seq[String]): String =
        s"""{"tag": "$t", "crowns": $crowns, "cards": ${cards.map(n => s"""{"name": "$n"}""").mkString("[", ", ", "]")}}"""
      val team = (side(tag, myCrowns, mySent) +: Seq.fill(teamSize - 1)(side("#MATE", myCrowns, my)))
        .mkString("[", ", ", "]")
      sb.append(s"""{"battleTime": "$time", "type": "$typ", "gameMode": {"id": $modeId, "name": $modeName}, """)
      sb.append(s""""team": $team, "opponent": [${side("#O" + rng.nextInt(1000000), oppCrowns, opp)}]}""")
      val myClean = clean(mySent)
      if (teamSize == 1 && ranked && myClean.size == 8) {
        kept += 1
        Seq(myClean, clean(opp)).foreach { d =>
          val t = DeckType.classifyDeck(d, BattleFixtures.metaByName)
          types(t) = types.getOrElse(t, 0L) + 1
        }
      }
    }
    (sb.append("]").toString, LogTruth(logSize, kept, types.toMap))
  }

  private def deck(rng: java.util.SplittableRandom): Seq[String] = {
    val base =
      if (rng.nextDouble() < rareRate) BattleFixtures.siegeDeck
      else Templates(rng.nextInt(Templates.size))
    // position 0 of the siege deck is X-Bow: never swapped, so a Siege
    // deck stays Siege, and no other deck ever gains a siege card
    var cards = base.toVector
    (0 until rng.nextInt(3)).foreach { _ =>
      val pos = 1 + rng.nextInt(7)
      val pool = SwapPool.filterNot(cards.contains)
      cards = cards.updated(pos, pool(rng.nextInt(pool.size)))
    }
    if (rng.nextDouble() < 0.03) cards = cards.updated(7, UnknownCard)
    if (rng.nextDouble() < 0.05) cards = cards.updated(2, " " + cards(2) + " ")
    cards
  }
}

object LadderGen {
  val UnknownCard = "Mystery Card"
  private val Templates: IndexedSeq[Seq[String]] = IndexedSeq(
    BattleFixtures.baitDeck, BattleFixtures.cycleDeck, BattleFixtures.bridgeDeck,
    BattleFixtures.beatdownDeck, BattleFixtures.hybridDeck, BattleFixtures.mirrorDeck)
  private val SwapPool: IndexedSeq[String] =
    BattleFixtures.cardMeta.map(_.name).filterNot(Set("X-Bow", "Mortar")).toIndexedSeq

  /** The trim + drop-blank cleaning the battle normalizer applies. */
  def clean(cards: Seq[String]): Seq[String] = cards.map(_.trim).filter(_.nonEmpty)

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def tagOf(seed: Long, i: Int): String =
    "#P" + java.lang.Long.toString(mix(seed, i.toLong) & 0xFFFFFFFFL, 36).toUpperCase + "X" + i
}

/** JVM-wide counters of the benchmark's REST boundary. Spark ships the
  * client to tasks by serialization, so the counters live here rather
  * than in the client instance. */
object SourceStats {
  val gets = new AtomicLong()
  val getNs = new AtomicLong()
  val bodyBytes = new AtomicLong()
  /** battle-log tag -> nanoTime of its first request */
  val firstSeen = new ConcurrentHashMap[String, java.lang.Long]()

  def reset(): Unit = { gets.set(0); getNs.set(0); bodyBytes.set(0); firstSeen.clear() }
}

/** The Clash Royale API boundary served by [[LadderGen]]. `failTag`
  * makes one player's battle log answer like a non-200 response
  * (failure injection for the benchmark's self-test). */
final class LadderClient(gen: LadderGen, failTag: Option[String] = None) extends RestClient {
  override def get(path: String): String = {
    val t0 = System.nanoTime()
    try {
      val body =
        if (path.startsWith("/leaderboard/"))
          gen.leaderboardBody(path.split("limit=").last.toInt)
        else if (path.startsWith("/players/") && path.endsWith("/battlelog")) {
          val tag = java.net.URLDecoder.decode(path.stripPrefix("/players/").stripSuffix("/battlelog"), "UTF-8")
          SourceStats.firstSeen.putIfAbsent(tag, t0)
          if (failTag.contains(tag)) throw new RuntimeException(s"Clash Royale API error 503: $path")
          gen.battlelog(tag)._1
        } else throw new RuntimeException(s"Clash Royale API error 404: $path")
      SourceStats.bodyBytes.addAndGet(body.length.toLong)
      body
    } finally {
      SourceStats.gets.incrementAndGet()
      SourceStats.getNs.addAndGet(System.nanoTime() - t0)
    }
  }
}
