package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.SparkSession
import graft.operators.SnapshotPipeline.Snapshot

/** JDBC warehouse sink for the snapshot star schema — the Spark-first port
  * of the reference's single-transaction Postgres load
  * (scripts/etl_snapshot_topn.py:361-527), its cloud publish
  * (Makefile:89-94, pg_dump local → restore remote) and its drop-all reset
  * (db/cloud_reset.sql:1-13).
  *
  * Shape differences from the reference, by design:
  *  - The reference INSERTs row-by-row from driver dicts inside ONE
  *    transaction. A Spark load is distributed — each executor opens its
  *    own connection — so cross-table atomicity is not available from
  *    `DataFrameWriter.jdbc`. Instead the load is FK-SAFE AT EVERY INSTANT:
  *    children are cleared before parents (reverse [[loadOrder]]), parents
  *    are loaded before children ([[loadOrder]]), so no reader ever
  *    observes a dangling reference. For an atomic cutover at production
  *    scale, load into a staging schema and swap search_path / rename —
  *    the same staged-swap idea as [[graft.operators.Upsert.mergeParquet]].
  *  - TRUNCATE ... CASCADE (etl:182) is replaced by portable DELETEs in
  *    reverse FK order inside one clearing transaction: CASCADE semantics
  *    without engine-specific SQL (Derby, the embedded test engine, has no
  *    TRUNCATE CASCADE).
  *  - `deck_type_overrides` is config, NOT snapshot state: reloads leave it
  *    alone (schema.sql:37-40 — the reference never truncates it either);
  *    only [[resetAll]] drops it.
  *
  * Scale notes: per-table writes use `batchsize` (JDBC batch INSERTs) and
  * cap connections via `numPartitions` — a 1000-executor cluster must not
  * open 1000 connections against one warehouse; the bottleneck is the DB,
  * so `maxConnections` defaults small. Dims are tiny (≤ thousands of rows);
  * the fact tables are TopN-bounded (player_type_cards ≤ topN × 8 × types),
  * so the snapshot load is never the scale problem — the upstream dedup is.
  */
object Warehouse {

  /** Parent-before-child insert order (db/schema.sql FK graph; matches the
    * reference's INSERT sequence at etl:361-527). Clearing runs in the
    * exact reverse. */
  val loadOrder: Seq[String] = Seq(
    "deck_types", "cards", "player", "decks", "deck_cards", "player_decks",
    "meta_deck_types", "meta_type_deck_ids", "meta_type_cards",
    "player_type_cards", "meta_type_matchups")

  /** Config table preserved across snapshot reloads, dropped only by
    * [[resetAll]] (schema.sql:37-40). */
  val configTables: Seq[String] = Seq("deck_type_overrides")

  private def withConnection[A](url: String, props: Properties)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** Case-insensitive existence check via JDBC metadata (Derby folds
    * unquoted identifiers to upper case, Postgres to lower). */
  private def tableExists(conn: Connection, name: String): Boolean = {
    def probe(n: String): Boolean = {
      val rs = conn.getMetaData.getTables(null, null, n, Array("TABLE"))
      try rs.next() finally rs.close()
    }
    probe(name) || probe(name.toUpperCase) || probe(name.toLowerCase)
  }

  /** Clears all snapshot tables in ONE transaction, children first — the
    * portable replacement for the reference's per-table
    * `TRUNCATE ... RESTART IDENTITY CASCADE` (etl:182). Missing tables are
    * skipped (first load into an empty database). */
  def clearSnapshotTables(url: String, props: Properties = new Properties): Unit =
    withConnection(url, props) { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        loadOrder.reverse.foreach { t =>
          if (tableExists(conn, t)) st.executeUpdate(s"DELETE FROM $t")
        }
        conn.commit()
      } catch { case e: Throwable => conn.rollback(); throw e }
      finally st.close()
    }

  /** TRUNCATE+reload of the full snapshot into a JDBC warehouse — S6/S7
    * as `write.jdbc`. Tables are created by Spark on first load (engine
    * dialect picks the column types); subsequent loads append into the
    * just-cleared tables, so DDL (and any constraints/indexes added by the
    * DBA from db/schema.sql) survives. The snapshot's cached frames are
    * released after the last table. */
  def writeSnapshot(snapshot: Snapshot, url: String,
      props: Properties = new Properties, batchSize: Int = 1000,
      maxConnections: Int = 8): Unit = {
    clearSnapshotTables(url, props)
    val tables = snapshot.all
    loadOrder.foreach { name =>
      tables(name).coalesce(maxConnections).write
        .mode("append")
        .option("batchsize", batchSize.toString)
        .jdbc(url, name, props)
    }
    snapshot.release()
  }

  /** S9 — DB→DB publish: copy the snapshot from a local warehouse to a
    * cloud warehouse (reference `make publish`: pg_dump → psql restore,
    * Makefile:89-94). Spark replaces the dump file with a distributed
    * read→write per table, in FK order against a cleared target, so the
    * published warehouse is FK-consistent at every instant. */
  def publishSnapshot(spark: SparkSession, srcUrl: String, dstUrl: String,
      srcProps: Properties = new Properties,
      dstProps: Properties = new Properties,
      batchSize: Int = 1000, maxConnections: Int = 8): Unit = {
    clearSnapshotTables(dstUrl, dstProps)
    loadOrder.foreach { name =>
      spark.read.jdbc(srcUrl, name, srcProps)
        .coalesce(maxConnections).write
        .mode("append")
        .option("batchsize", batchSize.toString)
        .jdbc(dstUrl, name, dstProps)
    }
  }

  /** S10 — drop-all reset (db/cloud_reset.sql): removes every snapshot
    * table AND the config tables, children first. Unlike a reload this
    * destroys `deck_type_overrides` — exactly the reference's cloud reset
    * semantics (it drops the whole public schema's tables). */
  def resetAll(url: String, props: Properties = new Properties): Unit =
    withConnection(url, props) { conn =>
      val st = conn.createStatement()
      try {
        (configTables ++ loadOrder.reverse).foreach { t =>
          if (tableExists(conn, t)) st.executeUpdate(s"DROP TABLE $t")
        }
      } finally st.close()
    }
}
