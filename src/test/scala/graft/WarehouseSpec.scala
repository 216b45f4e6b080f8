package graft

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame
import graft.operators.SnapshotPipeline.Snapshot
import graft.sources.Warehouse

/** JDBC warehouse sink (S7/S8), DB→DB publish (S9) and drop-all reset
  * (S10) against embedded Derby — a real SQL engine shipped with Spark, so
  * the test exercises genuine DriverManager/metadata/batch-INSERT paths,
  * not a mock. */
class WarehouseSpec extends SparkSpecBase {
  import spark.implicits._

  private def url(db: String) = s"jdbc:derby:memory:$db;create=true"
  private val props = new Properties

  /** Tiny FK-consistent snapshot (same shape the pipeline emits). */
  private def snapshot: Snapshot = Snapshot(
    players = Seq(("#A", "Alice", 3300, 1), ("#B", "Bob", 3200, 2))
      .toDF("player_tag", "player_name", "trophies", "rank_global"),
    cards = Seq((1L, "X-Bow"), (2L, "C2")).toDF("card_id", "card_name"),
    decks = Seq(("h1", "Siege"), ("h2", "Hybrid")).toDF("deck_hash", "deck_type"),
    deckCards = Seq(("h1", 1L, "", 0), ("h1", 2L, "", 1), ("h2", 2L, "", 0))
      .toDF("deck_hash", "card_id", "card_variant", "slot"),
    playerDecks = Seq(("#A", "h1", 2L, 1L), ("#B", "h2", 1L, 0L))
      .toDF("player_tag", "deck_hash", "uses", "wins"),
    deckTypes = Seq("Siege", "Hybrid").toDF("deck_type"),
    metaDeckTypes = Seq(("Siege", 2L, 1L), ("Hybrid", 2L, 1L))
      .toDF("deck_type", "uses", "wins"),
    metaTypeDeckIds = Seq(("Siege", "h1", 2L, 1L), ("Hybrid", "h2", 2L, 1L))
      .toDF("deck_type", "deck_hash", "uses", "wins"),
    metaTypeCards = Seq(("Siege", 1L, "", 2L, 1L))
      .toDF("deck_type", "card_id", "card_variant", "uses", "wins"),
    playerTypeCards = Seq(("#A", "Siege", 1L, "", 2L, 1L))
      .toDF("player_tag", "deck_type", "card_id", "card_variant", "uses", "wins"),
    metaTypeMatchups = Seq(("Siege", "Hybrid", 2L, 1L), ("Hybrid", "Siege", 2L, 1L))
      .toDF("deck_type", "opp_deck_type", "uses", "wins"),
    cached = Nil)

  private def readBack(dbUrl: String, table: String): DataFrame =
    spark.read.jdbc(dbUrl, table, props)

  private def assertEqual(a: DataFrame, b: DataFrame): Unit = {
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  test("loadOrder covers exactly the snapshot tables, parents first") {
    Warehouse.loadOrder.toSet shouldBe snapshot.all.keySet
    // FK sanity: every parent precedes its children
    val pos = Warehouse.loadOrder.zipWithIndex.toMap
    pos("deck_types") should be < pos("decks")
    pos("decks") should be < pos("deck_cards")
    pos("cards") should be < pos("deck_cards")
    pos("player") should be < pos("player_decks")
    pos("decks") should be < pos("player_decks")
  }

  test("writeSnapshot roundtrips through Derby and reloads idempotently") {
    val db = url("wh_roundtrip")
    val snap = snapshot
    Warehouse.writeSnapshot(snap, db, props)
    for ((name, df) <- snap.all) assertEqual(readBack(db, name), df)
    // second load: cleared-then-appended, NOT doubled
    Warehouse.writeSnapshot(snap, db, props)
    for ((name, df) <- snap.all) assertEqual(readBack(db, name), df)
  }

  test("writeSnapshot releases the snapshot's cached frames") {
    val base = snapshot
    val pinned = base.decks.cache()
    pinned.storageLevel should not be org.apache.spark.storage.StorageLevel.NONE
    Warehouse.writeSnapshot(base.copy(cached = Seq(pinned)), url("wh_release"), props)
    pinned.storageLevel shouldBe org.apache.spark.storage.StorageLevel.NONE
  }

  test("reload preserves the deck_type_overrides config table") {
    val db = url("wh_config")
    Warehouse.writeSnapshot(snapshot, db, props)
    val conn = DriverManager.getConnection(db)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE deck_type_overrides (deck_hash VARCHAR(64), deck_type VARCHAR(64))")
      st.executeUpdate(
        "INSERT INTO deck_type_overrides VALUES ('h2', 'Bait')")
      st.close()
    } finally conn.close()
    Warehouse.writeSnapshot(snapshot, db, props)
    readBack(db, "deck_type_overrides").as[(String, String)].collect().toSeq shouldBe
      Seq(("h2", "Bait"))
  }

  test("publishSnapshot copies the warehouse DB->DB in FK order") {
    val src = url("wh_pub_src")
    val dst = url("wh_pub_dst")
    val snap = snapshot
    Warehouse.writeSnapshot(snap, src, props)
    Warehouse.publishSnapshot(spark, src, dst, props, props)
    for ((name, df) <- snap.all) assertEqual(readBack(dst, name), df)
    // re-publish over a stale target replaces, never duplicates
    Warehouse.publishSnapshot(spark, src, dst, props, props)
    for ((name, df) <- snap.all) assertEqual(readBack(dst, name), df)
  }

  test("resetAll drops every snapshot table including config") {
    val db = url("wh_reset")
    Warehouse.writeSnapshot(snapshot, db, props)
    val conn = DriverManager.getConnection(db)
    try {
      conn.createStatement().executeUpdate(
        "CREATE TABLE deck_type_overrides (deck_hash VARCHAR(64), deck_type VARCHAR(64))")
    } finally conn.close()
    Warehouse.resetAll(db, props)
    val conn2 = DriverManager.getConnection(db)
    try {
      val rs = conn2.getMetaData.getTables(null, "APP", "%", Array("TABLE"))
      val remaining = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      remaining shouldBe empty
    } finally conn2.close()
  }
}
