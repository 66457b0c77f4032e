package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Queries q01-q05 + q73: the reference engine's own operator semantics
  * (SURVEY.md §2.1/§2.2) demonstrated over the driver's test tables.
  * The real implementations live in graft.core (table format + MVCC scan)
  * and graft.sources (the SQL catalog q73 commits and reads through);
  * these express the same semantics relationally so the DuckDB oracle can
  * check them. */
object CoreOps {

  val entries: Seq[Entry] = Seq(

    // #2 MVCC version resolution: newest event wins per key point — the
    // engine's upsert dedup (reference scan.rs:212-236) with events as the
    // versioned row set, event_id as the commit order.
    Entry("q01_upsert_latest", Some(
      """SELECT user_id, event_type,
        |       arg_max(value, event_id) AS latest_value,
        |       max(event_id) AS latest_event_id
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)) { (s, d) =>
      table(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          max_by(col("value"), col("event_id")).as("latest_value"),
          max(col("event_id")).as("latest_event_id"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // #1 full key-ordered scan (reference scan.rs:183-238): the merge's
    // emergent key order as an explicit ORDER BY over the composite key.
    Entry("q02_ordered_scan", Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // #9 snapshot-horizon visibility (reference database.rs:85-89): rows
    // below a horizon fixed by a scalar subquery over the same table.
    Entry("q03_snapshot_horizon", Some(
      """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE event_id * 2 < (SELECT max(event_id) FROM events)
        |ORDER BY event_id""".stripMargin)) { (s, d) =>
      sql(s, d, Seq("events"),
        """SELECT event_id, user_id, event_type
          |FROM events
          |WHERE event_id * 2 < (SELECT max(event_id) FROM events)
          |ORDER BY event_id""".stripMargin)
    },

    // #3 block/segment skipping: a dimension range predicate, answered by
    // parquet min/max pruning (reference's zone maps, segment.rs:173-193).
    Entry("q04_range_prune", Some(
      """SELECT l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // #11 count aggregation (reference sensor-log.rs:340-349).
    Entry("q05_grouped_count", Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)) { (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // END-TO-END MVCC upsert through the SQL catalog: three transactions
    // upsert per-user aggregates of the events table into a catalog table
    // chunked on the key (GraftInsert.append, one claimed txn each); the
    // catalog read resolves newest-txn-wins, and under v2 bucketing that
    // resolve plans with ZERO exchanges (GraftCatalogSpec pins the plan;
    // this entry makes the whole write→commit→resolve path oracle-checked).
    // Batches are per-key pre-aggregated (arg_max by event_id) because
    // duplicate keys WITHIN one batch resolve arbitrarily by contract; the
    // oracle replays txn precedence as arg_max over (k, then event_id).
    Entry("q73_bucketed_upsert", Some(
      """WITH b AS (SELECT user_id, event_id % 3 AS k, value, event_id FROM events),
        |m AS (SELECT user_id, k, arg_max(value, event_id) v
        |      FROM b GROUP BY user_id, k)
        |SELECT user_id, arg_max(v, k) AS v
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q73-catalog")
      val dir = root.resolve("t")
      graft.core.Storage.deleteRecursively(dir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g73").isEmpty) {
        s.conf.set("spark.sql.catalog.g73", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g73.root", root.toString)
      }
      s.sql("CREATE TABLE g73.t (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      val ev = table(s, d, "events")
      (0 to 2).foreach { k =>
        graft.sources.GraftInsert.append(s, dir.toString,
          ev.where(col("event_id") % 3 === k)
            .groupBy(col("user_id"))
            .agg(max_by(col("value"), col("event_id")).as("v")))
      }
      s.sql("SELECT user_id, v FROM g73.t ORDER BY user_id")
    },

    // #9 again, SQL-NATIVE: the same upsert history written as a
    // directory-layout graft table and read back through the DSv2
    // GraftCatalog with `VERSION AS OF 2` — the whole
    // write→commit→catalog-resolve→time-travel path oracle-checked from
    // plain SQL (GraftCatalogSpec pins the plan/semantics details). Txn k
    // upserts the per-user arg_max of events with event_id % 3 == k-1, so
    // the horizon-2 snapshot = txn precedence replayed as arg_max over
    // (k, then event_id) for k <= 1.
    Entry("q76_sql_time_travel", Some(
      """WITH b AS (SELECT user_id, event_id % 3 AS k, value, event_id
        |           FROM events WHERE event_id % 3 <= 1),
        |m AS (SELECT user_id, k, arg_max(value, event_id) v
        |      FROM b GROUP BY user_id, k)
        |SELECT user_id, arg_max(v, k) AS v
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      // fixed location per session: the catalog object binds its root at
      // first use, so re-runs (Bench reps) must land at the same place
      val root = Q.fixture("q76-catalog")
      val tableDir = root.resolve("tt")
      graft.core.Storage.deleteRecursively(tableDir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g76").isEmpty) {
        s.conf.set("spark.sql.catalog.g76", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g76.root", root.toString)
      }
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val db = MatDb.create(s, sch, tableDir.toString)
      val ev = table(s, d, "events")
      (0 to 2).foreach { k =>
        val txn = db.newTransaction()
        txn.addRows(ev.where(col("event_id") % 3 === k)
          .groupBy(col("user_id"))
          .agg(max_by(col("value"), col("event_id")).as("v")))
        txn.commit()
      }
      s.sql("SELECT user_id, v FROM g76.tt VERSION AS OF 2 ORDER BY user_id")
    },

    // #1 again, ZERO-EXCHANGE: the same upsert history in the RANGE
    // layout (graft.sources.RangedGraft) — fixed leading-dim boundaries,
    // piece i of every segment holds the same key slice, the scan declares
    // RangePartitioning, and the ordered MVCC resolve plans with no
    // Exchange at all (RangedGraftSpec pins the plan; this entry
    // oracle-checks the whole route→append→resolve→order path).
    Entry("q77_ranged_ordered_scan", Some(
      """WITH b AS (SELECT user_id, event_id % 3 AS k, value, event_id FROM events),
        |m AS (SELECT user_id, k, arg_max(value, event_id) v
        |      FROM b GROUP BY user_id, k)
        |SELECT user_id, arg_max(v, k) AS v
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatSchema, ValueCol}
      import graft.sources.RangedGraft
      val dir = Q.fixture("q77-ranged")
      graft.core.Storage.deleteRecursively(dir)
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val ev = table(s, d, "events")
      RangedGraft.create(s, dir.toString, sch,
        RangedGraft.boundariesFromSample(ev, "user_id", pieces = 4))
      (0 to 2).foreach { k =>
        RangedGraft.append(s, dir.toString, sch,
          ev.where(col("event_id") % 3 === k)
            .groupBy(col("user_id"))
            .agg(max_by(col("value"), col("event_id")).as("v")))
      }
      RangedGraft.orderedScan(s, dir.toString, sch)
    },

    // ---- SQL WRITE path (sources.GraftCatalog + GraftInsert) -----------
    // q76's upsert history driven ENTIRELY from SQL: CREATE TABLE with
    // chunked dims via TBLPROPERTIES, three INSERT INTO statements (one
    // committed transaction each, txn ids claimed put-if-absent), then a
    // VERSION AS OF read — the full SQL write→time-travel round trip is
    // the gate. Oracle identical in shape to q76: the expected rows are
    // recomputed from the SOURCE events table, so the claim, the
    // chunk-routed write, the manifest publish, and the MVCC resolve all
    // have to reproduce them exactly.
    Entry("q101_sql_insert", Some(
      """WITH b AS (SELECT user_id, event_id % 3 AS k, value, event_id
        |           FROM events WHERE event_id % 3 <= 1),
        |m AS (SELECT user_id, k, arg_max(value, event_id) v
        |      FROM b GROUP BY user_id, k)
        |SELECT user_id, arg_max(v, k) AS v
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q101-catalog")
      val tableDir = root.resolve("ti")
      graft.core.Storage.deleteRecursively(tableDir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g101").isEmpty) {
        s.conf.set("spark.sql.catalog.g101", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g101.root", root.toString)
      }
      s.sql("CREATE TABLE g101.ti (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      (0 to 2).foreach { k =>
        s.sql(s"""INSERT INTO g101.ti
                 |SELECT user_id, max_by(value, event_id) AS v
                 |FROM events WHERE event_id % 3 = $k GROUP BY user_id""".stripMargin)
      }
      s.sql("SELECT user_id, v FROM g101.ti VERSION AS OF 2 ORDER BY user_id")
    },

    // ---- SQL DELETE path (MVCC tombstones; GraftCatalog SupportsDelete) -
    // The engine's delete semantic driven from SQL: seed the table with
    // each user's latest value (txn 1), DELETE a dimension range (txn 2 —
    // tombstones, pushed to the scan), DELETE by a VALUE predicate (txn 3 —
    // applied post-resolve: a superseded version matching the predicate
    // must not doom its key), then re-INSERT a subset (txn 4 — newest wins
    // over tombstones, resurrecting the keys). The oracle replays all four
    // transactions relationally from the source events table, so the
    // tombstone write, the post-resolve predicate split, and the
    // resurrect-by-upsert all have to reproduce exactly. The reference has
    // no delete (its only write is add_values, transaction.rs:67-85) —
    // this gate covers the engine-extension half of upsert.
    Entry("q103_sql_delete", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |d1 AS (SELECT * FROM base WHERE user_id NOT BETWEEN 10 AND 59),
        |d2 AS (SELECT * FROM d1 WHERE NOT (v < 100.0)),
        |re AS (SELECT DISTINCT user_id, CAST(-1.0 AS DOUBLE) AS v
        |       FROM events WHERE user_id BETWEEN 10 AND 29),
        |fin AS (SELECT user_id, v FROM d2
        |        WHERE user_id NOT IN (SELECT user_id FROM re)
        |        UNION ALL SELECT user_id, v FROM re)
        |SELECT user_id, v FROM fin ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q103-catalog")
      val tableDir = root.resolve("td")
      graft.core.Storage.deleteRecursively(tableDir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g103").isEmpty) {
        s.conf.set("spark.sql.catalog.g103", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g103.root", root.toString)
      }
      s.sql("CREATE TABLE g103.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g103.td
              |SELECT user_id, max_by(value, event_id) AS v
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("DELETE FROM g103.td WHERE user_id BETWEEN 10 AND 59")
      s.sql("DELETE FROM g103.td WHERE v < 100.0")
      s.sql("""INSERT INTO g103.td
              |SELECT DISTINCT user_id, CAST(-1.0 AS DOUBLE)
              |FROM events WHERE user_id BETWEEN 10 AND 29""".stripMargin)
      s.sql("SELECT user_id, v FROM g103.td ORDER BY user_id")
    },

    // ---- MERGE / UPDATE (MVCC upsert algebra; core.Transaction) --------
    // The full DML algebra over one fixture table: seed even-keyed users
    // (txn 1), MERGE insert-if-absent at a sentinel value (txn 2 — one
    // anti-join against the snapshot's KEY columns), MERGE update
    // combining target and source values (txn 3 — aliased inner join,
    // t.v + s.bonus), MERGE matched-delete (txn 4 — semi-join →
    // tombstones). The oracle replays the four transactions relationally,
    // so join matching, the combine arithmetic, and tombstone resolution
    // all have to reproduce exactly. The (Update, Insert) clause pair is
    // deliberately absent here: it is the ZERO-join upsert fast path
    // already gated by q01/q76/q101.
    Entry("q106_merge", Some(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |seed AS (SELECT user_id, arg_max(value, event_id) AS v
        |         FROM events WHERE user_id % 2 = 0 GROUP BY user_id),
        |ins AS (SELECT * FROM seed
        |        UNION ALL
        |        SELECT user_id, CAST(-5.0 AS DOUBLE) FROM u
        |        WHERE user_id NOT IN (SELECT user_id FROM seed)),
        |upd AS (SELECT user_id,
        |               CASE WHEN user_id < 20 THEN v + 7.5 ELSE v END AS v
        |        FROM ins),
        |fin AS (SELECT * FROM upd WHERE user_id NOT BETWEEN 100 AND 119)
        |SELECT user_id, v FROM fin ORDER BY user_id""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, MergeAction, ValueCol}
      val dir = Q.fixture("q106-merge")
      graft.core.Storage.deleteRecursively(dir)
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val db = MatDb.create(s, sch, dir.toString)
      val ev = table(s, d, "events")
      val users = ev.select(col("user_id")).distinct()
      val t1 = db.newTransaction()
      t1.addRows(ev.where(col("user_id") % 2 === 0)
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("v")))
      t1.commit()
      val t2 = db.newTransaction()
      t2.mergeRows(users.withColumn("v", lit(-5.0)),
        MergeAction.Ignore, MergeAction.Insert)
      t2.commit()
      val t3 = db.newTransaction()
      t3.mergeUpdate(users.where(col("user_id") < 20).withColumn("bonus", lit(7.5)),
        Map("v" -> (col("t.v") + col("s.bonus"))))
      t3.commit()
      val t4 = db.newTransaction()
      t4.mergeRows(users.where(col("user_id").between(100, 119)),
        MergeAction.Delete, MergeAction.Ignore)
      t4.commit()
      db.snapshot().orderBy(col("user_id"))
    },

    // ---- CDC read side (core.MatDb.changesBetween) ---------------------
    // The minimal I/U/D delta between two horizons: seed (txn 1), then in
    // txn 2 overwrite users < 30 to a sentinel, REWRITE users 30..39 to
    // their unchanged value (must emit NOTHING — the feed is the net
    // delta, not the write log) and insert one synthetic user; txn 3
    // deletes a range. The oracle replays the delta relationally, so the
    // touched-keys restriction, the null-safe value diff, and the
    // tombstone-as-absence semantics all have to reproduce exactly.
    // ChangesSpec additionally pins the round-trip law with the apply
    // side: replica@from + changes = table@to.
    Entry("q108_cdc_changes", Some(
      """WITH seed AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |ch AS (
        |  SELECT 'U' AS op, user_id, CAST(-1.0 AS DOUBLE) AS v
        |  FROM seed WHERE user_id < 30
        |  UNION ALL
        |  SELECT 'I', 100000, CAST(9.0 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'D', user_id, CAST(NULL AS DOUBLE)
        |  FROM seed WHERE user_id BETWEEN 40 AND 49)
        |SELECT op, user_id, v FROM ch ORDER BY user_id, op""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val dir = Q.fixture("q108-changes")
      graft.core.Storage.deleteRecursively(dir)
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val db = MatDb.create(s, sch, dir.toString)
      val seed = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      val t1 = db.newTransaction(); t1.addRows(seed); t1.commit()
      val t2 = db.newTransaction()
      t2.addRows(seed.where(col("user_id") < 30).withColumn("v", lit(-1.0)))
      t2.addRows(seed.where(col("user_id").between(30, 39))) // same-value rewrite
      t2.addRows(s.range(1).select(lit(100000L).as("user_id"), lit(9.0).as("v")))
      t2.commit()
      val t3 = db.newTransaction()
      t3.deleteRows(seed.where(col("user_id").between(40, 49)).select(col("user_id")))
      t3.commit()
      db.changesBetween(1L, 3L).orderBy(col("user_id"), col("op"))
    },

    // ---- schema evolution (GraftCatalog ALTER TABLE) -------------------
    // ADD COLUMN is metadata-only at any scale: schema.json is rewritten,
    // no segment is touched, and every pre-alter row reads the new column
    // as null through the explicit read schema (the same mechanism that
    // keeps pre-delete segments byte-compatible with `_del`). The gate
    // drives it from SQL end-to-end — create, insert, ALTER ADD, insert
    // WITH the new column, read — and the oracle replays the two
    // generations relationally (nulls for the old one).
    Entry("q109_schema_evolution", Some(
      """WITH olds AS (SELECT user_id, arg_max(value, event_id) AS v,
        |                     CAST(NULL AS DOUBLE) AS w
        |              FROM events WHERE user_id < 50 GROUP BY user_id),
        |news AS (SELECT DISTINCT user_id, CAST(-2.0 AS DOUBLE) AS v,
        |                CAST(1.5 AS DOUBLE) AS w
        |         FROM events WHERE user_id >= 50),
        |fin AS (SELECT * FROM olds UNION ALL SELECT * FROM news)
        |SELECT user_id, v, w FROM fin ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q109-catalog")
      graft.core.Storage.deleteRecursively(root.resolve("te"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g109").isEmpty) {
        s.conf.set("spark.sql.catalog.g109", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g109.root", root.toString)
      }
      s.sql("CREATE TABLE g109.te (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g109.te
              |SELECT user_id, max_by(value, event_id) AS v
              |FROM events WHERE user_id < 50 GROUP BY user_id""".stripMargin)
      s.sql("ALTER TABLE g109.te ADD COLUMNS (w DOUBLE)")
      s.sql("""INSERT INTO g109.te
              |SELECT DISTINCT user_id, CAST(-2.0 AS DOUBLE), CAST(1.5 AS DOUBLE)
              |FROM events WHERE user_id >= 50""".stripMargin)
      s.sql("SELECT user_id, v, w FROM g109.te ORDER BY user_id")
    },

    // ---- schema-evolution lifecycle: DROP → compact → re-ADD -----------
    // The dropped name is TOMBSTONED (pre-drop segments still hold its
    // bytes and segments are read by NAME, so an immediate re-ADD would
    // silently resurrect the old values); compact() rewrites every live
    // row without the column and lifts the tombstone, after which the
    // re-added column reads null for every pre-add row — which is exactly
    // what the oracle's relational replay asserts.
    Entry("q111_alter_compact_readd", Some(
      """WITH olds AS (SELECT user_id, arg_max(value, event_id) AS v,
        |                     CAST(NULL AS DOUBLE) AS w
        |              FROM events WHERE user_id < 60 GROUP BY user_id),
        |news AS (SELECT DISTINCT user_id, CAST(-3.0 AS DOUBLE) AS v,
        |                CAST(7.5 AS DOUBLE) AS w
        |         FROM events WHERE user_id >= 60 AND user_id < 90),
        |fin AS (SELECT * FROM olds UNION ALL SELECT * FROM news)
        |SELECT user_id, v, w FROM fin ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q111-catalog")
      graft.core.Storage.deleteRecursively(root.resolve("tc"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g111").isEmpty) {
        s.conf.set("spark.sql.catalog.g111", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g111.root", root.toString)
      }
      s.sql("CREATE TABLE g111.tc (user_id BIGINT, v DOUBLE, w DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g111.tc
              |SELECT user_id, max_by(value, event_id) AS v,
              |       max_by(value, event_id) * 2.0 AS w
              |FROM events WHERE user_id < 60 GROUP BY user_id""".stripMargin)
      s.sql("ALTER TABLE g111.tc DROP COLUMN w")
      // immediate re-ADD is rejected — w's bytes are still in the segment
      val err = try { s.sql("ALTER TABLE g111.tc ADD COLUMNS (w DOUBLE)"); null }
        catch { case e: Exception => e }
      require(err != null && err.getMessage.contains("previously dropped"),
        "re-ADD of a dropped column must be rejected before compaction")
      graft.core.MatDb.open(s, root.resolve("tc").toString).compact()
      s.sql("ALTER TABLE g111.tc ADD COLUMNS (w DOUBLE)")
      s.sql("""INSERT INTO g111.tc
              |SELECT DISTINCT user_id, CAST(-3.0 AS DOUBLE), CAST(7.5 AS DOUBLE)
              |FROM events WHERE user_id >= 60 AND user_id < 90""".stripMargin)
      s.sql("SELECT user_id, v, w FROM g111.tc ORDER BY user_id")
    },

    // ---- checkpoint compaction with time-travel retention --------------
    // MatDb.checkpoint(horizon): fold every txn <= horizon into one
    // baseline under the horizon's own txn id, leaving newer txns — and
    // their time travel — untouched (compact() flattens everything; the
    // reference accumulates forever). The gate reads BOTH the horizon
    // snapshot and the current snapshot after checkpointing and the
    // oracle replays both relationally: retained upserts and tombstones
    // must keep meaning exactly what they meant over the folded baseline.
    Entry("q115_checkpoint_horizon", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |h AS (SELECT user_id,
        |             CASE WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |      FROM base),
        |cur AS (SELECT user_id,
        |               CASE WHEN user_id < 10 THEN CAST(-5.0 AS DOUBLE)
        |                    WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |        FROM base WHERE user_id NOT BETWEEN 40 AND 49
        |        UNION ALL SELECT 100000, CAST(9.0 AS DOUBLE))
        |SELECT 'at_horizon' AS gen, user_id, v FROM h
        |UNION ALL SELECT 'current' AS gen, user_id, v FROM cur
        |ORDER BY gen, user_id""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val dir = Q.fixture("q115-ckpt")
      graft.core.Storage.deleteRecursively(dir)
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val db = MatDb.create(s, sch, dir.toString)
      val seed = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      val t1 = db.newTransaction(); t1.addRows(seed); t1.commit()
      val t2 = db.newTransaction()
      t2.addRows(seed.where(col("user_id") < 30)
        .withColumn("v", col("v") + lit(1.0)))
      t2.commit()
      val t3 = db.newTransaction()
      t3.deleteRows(seed.where(col("user_id").between(40, 49)).select(col("user_id")))
      t3.addRows(s.range(1).select(lit(100000L).as("user_id"), lit(9.0).as("v")))
      t3.commit()
      val t4 = db.newTransaction()
      t4.addRows(seed.where(col("user_id") < 10).withColumn("v", lit(-5.0)))
      t4.commit()
      require(db.checkpoint(2L) == 2L)
      require(db.committedSegments.count(_.txnId <= 2L) == 1,
        "txns 1 and 2 must fold into one baseline segment")
      db.asOf(2L).select(lit("at_horizon").as("gen"), col("user_id"), col("v"))
        .unionByName(db.snapshot()
          .select(lit("current").as("gen"), col("user_id"), col("v")))
        .orderBy(col("gen"), col("user_id"))
    },

    // ---- incremental aggregate view (operators.IncrementalAgg) ---------
    // A materialized GROUP BY view maintained from changesBetween's
    // minimal delta — retract pre-image, apply post-image — never by
    // rescanning the base. Three maintenance steps (insert; value updates
    // + a group-moving update; deletes), then the view is read and the
    // oracle recomputes the SAME aggregate relationally from the final
    // base state: incremental == full recompute, exactly (DECIMAL sums
    // are order-free).
    Entry("q117_incremental_agg", Some(
      """WITH b AS (SELECT event_id, user_id, value FROM events WHERE event_id < 800),
        |fin AS (SELECT event_id,
        |               CASE WHEN event_id >= 200 AND event_id < 300
        |                    THEN user_id + 100000 ELSE user_id END AS grp,
        |               CASE WHEN event_id < 200
        |                    THEN CAST(value + 10.0 AS DECIMAL(18,4))
        |                    ELSE CAST(value AS DECIMAL(18,4)) END AS v
        |        FROM b WHERE NOT (event_id >= 400 AND event_id < 500))
        |SELECT grp, CAST(sum(v) AS DOUBLE) AS sum_v, count(*) AS cnt
        |FROM fin GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val root = Q.fixture("q117-iagg")
      graft.core.Storage.deleteRecursively(root)
      val dec = DecimalType(18, 4)
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp", LongType), ValueCol("v", dec))),
        root.resolve("base").toString)
      val view = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("view").toString)
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 800).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value")).as("v")))
      t1.commit()
      graft.operators.IncrementalAgg.maintain(base, view, 0L, 1L, "grp", "v")
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 200).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value") + lit(10.0)).as("v")))
      t2.addRows(e.where(col("event_id").between(200, 299)).select(col("event_id"),
        (col("user_id") + lit(100000L)).as("grp"), Q.dec4(col("value")).as("v")))
      t2.commit()
      graft.operators.IncrementalAgg.maintain(base, view, 1L, 2L, "grp", "v")
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(400, 499)).select(col("event_id")))
      t3.commit()
      graft.operators.IncrementalAgg.maintain(base, view, 2L, 3L, "grp", "v")
      view.snapshot()
        .select(col("grp"), col("sum_v").cast("double").as("sum_v"), col("cnt"))
        .orderBy(col("grp"))
    },

    // ---- streaming materialized view (Streams.viewMaintSink) -----------
    // The streaming composition of q117: the base table's own transaction
    // stream (format("graft-stream"), one txn per micro-batch) drives
    // replay-absorbable view maintenance (maintainAbsolute — tail replays
    // land byte-identical rows, so the resolved view is exactly-once).
    // The oracle recomputes the aggregate relationally from the final
    // base state: streamed-incremental == full recompute, exactly.
    Entry("q118_stream_view", Some(
      """WITH b AS (SELECT event_id, user_id, value FROM events WHERE event_id < 600),
        |fin AS (SELECT user_id AS grp,
        |               CASE WHEN event_id < 150
        |                    THEN CAST(value + 5.0 AS DECIMAL(18,4))
        |                    ELSE CAST(value AS DECIMAL(18,4)) END AS v
        |        FROM b WHERE NOT (event_id >= 300 AND event_id < 380))
        |SELECT grp, CAST(sum(v) AS DOUBLE) AS sum_v, count(*) AS cnt
        |FROM fin GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val root = Q.fixture("q118-sview")
      graft.core.Storage.deleteRecursively(root)
      java.nio.file.Files.createDirectories(root)
      val dec = DecimalType(18, 4)
      val basePath = root.resolve("base").toString
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp", LongType), ValueCol("v", dec))), basePath)
      val view = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("view").toString)
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 600).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value")).as("v")))
      t1.commit()
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 150).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value") + lit(5.0)).as("v")))
      t2.commit()
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(300, 379)).select(col("event_id")))
      t3.commit()
      val q = graft.streaming.Streams.viewMaintSink(
        s.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
          .load(basePath),
        basePath, view, "grp", "v", root.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      view.snapshot()
        .select(col("grp"), col("sum_v").cast("double").as("sum_v"), col("cnt"))
        .orderBy(col("grp"))
    },

    // ---- multi-view streaming maintenance (round 10) --------------------
    // One base-table transaction stream drives TWO materialized views in
    // the same sink — different group columns, different aggregate sets
    // (A: per-grp SUM+COUNT; B: per-src MIN+MAX+COUNT), each view's schema
    // being its spec (IncrementalAgg.maintainAbsoluteMulti). The oracle
    // recomputes both views relationally from the final base state:
    // streamed-incremental == full recompute for every aggregate, exactly
    // (DECIMAL sums, order-free MIN/MAX/COUNT).
    Entry("q123_multi_view", Some(
      """WITH b AS (SELECT event_id, user_id, value FROM events WHERE event_id < 600),
        |fin AS (SELECT user_id AS grp, user_id % 10 AS src,
        |               CASE WHEN event_id < 150
        |                    THEN CAST(value + 5.0 AS DECIMAL(18,4))
        |                    ELSE CAST(value AS DECIMAL(18,4)) END AS v
        |        FROM b WHERE NOT (event_id >= 300 AND event_id < 380)),
        |va AS (SELECT 'a' AS vw, grp AS g, CAST(sum(v) AS DOUBLE) AS x1,
        |              CAST(NULL AS DOUBLE) AS x2, count(*) AS cnt
        |       FROM fin GROUP BY grp),
        |vb AS (SELECT 'b' AS vw, src AS g, CAST(min(v) AS DOUBLE) AS x1,
        |              CAST(max(v) AS DOUBLE) AS x2, count(*) AS cnt
        |       FROM fin GROUP BY src)
        |SELECT vw, g, x1, x2, cnt
        |FROM (SELECT * FROM va UNION ALL SELECT * FROM vb)
        |ORDER BY vw, g""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val root = Q.fixture("q123-mview")
      graft.core.Storage.deleteRecursively(root)
      java.nio.file.Files.createDirectories(root)
      val dec = DecimalType(18, 4)
      val basePath = root.resolve("base").toString
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp", LongType), ValueCol("src", LongType), ValueCol("v", dec))),
        basePath)
      val viewA = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("va").toString)
      val viewB = MatDb.create(s, MatSchema(Seq(Dimension("src", 10)),
        Seq(ValueCol("min_v", dec), ValueCol("max_v", dec), ValueCol("cnt", LongType))),
        root.resolve("vb").toString)
      val e = table(s, d, "events")
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(col("event_id"),
        col("user_id").as("grp"), (col("user_id") % 10).as("src"),
        Q.dec4(col("value")).as("v"))
      val t1 = base.newTransaction()
      t1.addRows(rows(e.where(col("event_id") < 600)))
      t1.commit()
      val t2 = base.newTransaction()
      t2.addRows(rows(e.where(col("event_id") < 150))
        .withColumn("v", Q.dec4(col("v") + lit(5.0))))
      t2.commit()
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(300, 379)).select(col("event_id")))
      t3.commit()
      val q = graft.streaming.Streams.viewMaintSink(
        s.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
          .load(basePath),
        basePath, Seq(viewA -> "grp", viewB -> "src"),
        root.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      viewA.snapshot()
        .select(lit("a").as("vw"), col("grp").as("g"),
          col("sum_v").cast("double").as("x1"),
          lit(null).cast("double").as("x2"), col("cnt"))
        .unionByName(viewB.snapshot()
          .select(lit("b").as("vw"), col("src").as("g"),
            col("min_v").cast("double").as("x1"),
            col("max_v").cast("double").as("x2"), col("cnt")))
        .orderBy(col("vw"), col("g"))
    },

    // ---- SQL row-level DML (sources.GraftRowLevel, round 10) -----------
    // The q106 MERGE algebra, now from PURE SQL: Spark's
    // SupportsRowLevelOperations (delta-based) plans UPDATE and MERGE as
    // one-transaction MVCC delta commits. Scenario: seed per-user rows
    // (SQL INSERT ... GROUP BY), statement UPDATE over a key range, then
    // one MERGE exercising matched-DELETE (first-clause-wins, n % 2 = 0),
    // matched-UPDATE combining both sides (t.v + s.sv), not-matched-INSERT
    // and NOT-MATCHED-BY-SOURCE-UPDATE. The oracle replays all four
    // statements relationally; all arithmetic is per-row IEEE +/* and
    // order-independent aggregates (min / arg_max / count), so the result
    // is hash-exact cross-engine.
    Entry("q120_sql_merge", Some(
      """WITH seed AS (SELECT user_id, arg_max(value, event_id) AS v,
        |                     count(*) AS n
        |              FROM events GROUP BY user_id),
        |upd AS (SELECT user_id,
        |               CASE WHEN user_id < 40 THEN v * 2 ELSE v END AS v,
        |               CASE WHEN user_id < 40 THEN n + 1 ELSE n END AS n
        |        FROM seed),
        |src AS (SELECT user_id, min(value) AS sv
        |        FROM events WHERE user_id BETWEEN 20 AND 79 GROUP BY user_id),
        |merged AS (SELECT t.user_id,
        |                  CASE WHEN s.user_id IS NOT NULL THEN t.v + s.sv
        |                       ELSE t.v END AS v,
        |                  CASE WHEN s.user_id IS NOT NULL THEN t.n + 1
        |                       ELSE CAST(0 AS BIGINT) END AS n,
        |                  CASE WHEN s.user_id IS NOT NULL AND t.n % 2 = 0
        |                       THEN 1 ELSE 0 END AS del
        |           FROM upd t LEFT JOIN src s USING (user_id)),
        |ins AS (SELECT user_id, sv AS v, CAST(0 AS BIGINT) AS n FROM src
        |        WHERE user_id NOT IN (SELECT user_id FROM upd)),
        |fin AS (SELECT user_id, v, n FROM merged WHERE del = 0
        |        UNION ALL SELECT user_id, v, n FROM ins)
        |SELECT user_id, v, n FROM fin ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q120-rowlevel")
      val tableDir = root.resolve("td")
      graft.core.Storage.deleteRecursively(tableDir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g120").isEmpty) {
        s.conf.set("spark.sql.catalog.g120", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g120.root", root.toString)
      }
      s.sql("CREATE TABLE g120.td (user_id BIGINT, v DOUBLE, n BIGINT) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g120.td
              |SELECT user_id, max_by(value, event_id), count(*)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("UPDATE g120.td SET v = v * 2, n = n + 1 WHERE user_id < 40")
      s.sql(
        """MERGE INTO g120.td t
          |USING (SELECT user_id, min(value) AS sv FROM events
          |       WHERE user_id BETWEEN 20 AND 79 GROUP BY user_id) s
          |ON t.user_id = s.user_id
          |WHEN MATCHED AND t.n % 2 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = t.v + s.sv, n = t.n + 1
          |WHEN NOT MATCHED THEN INSERT (user_id, v, n) VALUES (s.user_id, s.sv, 0)
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n = 0""".stripMargin)
      s.sql("SELECT user_id, v, n FROM g120.td ORDER BY user_id")
    },

    // ---- MERGE WITH SCHEMA EVOLUTION (round 10) -------------------------
    // The source carries a column the target lacks; the evolution clause
    // turns it into a metadata-only ADD COLUMNS (same tombstone-guarded
    // ALTER path as q109/q111) and the merge lands values for its rows
    // while every pre-evolution row reads null. The oracle replays the
    // widened state relationally.
    Entry("q125_merge_evolution", Some(
      """WITH seed AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |src AS (SELECT user_id, min(value) AS nv, count(*) AS n
        |        FROM events WHERE user_id < 60 GROUP BY user_id),
        |fin AS (SELECT t.user_id,
        |               CASE WHEN s.user_id IS NOT NULL THEN s.nv ELSE t.v END AS v,
        |               s.n AS n
        |        FROM seed t LEFT JOIN src s USING (user_id))
        |SELECT user_id, v, n FROM fin ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q125-evo")
      val tableDir = root.resolve("td")
      graft.core.Storage.deleteRecursively(tableDir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g125").isEmpty) {
        s.conf.set("spark.sql.catalog.g125", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g125.root", root.toString)
      }
      s.sql("CREATE TABLE g125.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g125.td
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO g125.td t
          |USING (SELECT user_id, min(value) AS nv, count(*) AS n FROM events
          |       WHERE user_id < 60 GROUP BY user_id) s
          |ON t.user_id = s.user_id
          |WHEN MATCHED THEN UPDATE SET v = s.nv, n = s.n""".stripMargin)
      s.sql("SELECT user_id, v, n FROM g125.td ORDER BY user_id")
    },

    // ---- SQL CALL maintenance procedures (sources.GraftProcedures) ------
    // Spark 4 ProcedureCatalog: CALL <cat>.system.checkpoint / vacuum
    // drive the same fold machinery as q115, from PURE SQL — the last
    // Scala-only surface (table maintenance) made SQL-first. Four SQL
    // write txns, CALL checkpoint('td', 2) folds txns 1-2 into a baseline
    // (the CALL's one-row result is the baseline txn id), CALL vacuum
    // sweeps exactly the two superseded segment dirs, and the gate then
    // reads the horizon snapshot and the current snapshot exactly like
    // q115 — fold + sweep must not change a single value.
    Entry("q126_sql_call_maintenance", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |h AS (SELECT user_id,
        |             CASE WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |      FROM base),
        |cur AS (SELECT user_id,
        |               CASE WHEN user_id < 10 THEN CAST(-5.0 AS DOUBLE)
        |                    WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |        FROM base WHERE user_id NOT BETWEEN 40 AND 49)
        |SELECT 'at_horizon' AS gen, user_id, v FROM h
        |UNION ALL SELECT 'current' AS gen, user_id, v FROM cur
        |ORDER BY gen, user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q126-call")
      graft.core.Storage.deleteRecursively(root.resolve("td"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g126").isEmpty) {
        s.conf.set("spark.sql.catalog.g126", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g126.root", root.toString)
      }
      s.sql("CREATE TABLE g126.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g126.td
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("""INSERT INTO g126.td
              |SELECT user_id, max_by(value, event_id) + 1.0
              |FROM events WHERE user_id < 30 GROUP BY user_id""".stripMargin)
      s.sql("DELETE FROM g126.td WHERE user_id BETWEEN 40 AND 49")
      s.sql("""INSERT INTO g126.td
              |SELECT DISTINCT user_id, CAST(-5.0 AS DOUBLE)
              |FROM events WHERE user_id < 10""".stripMargin)
      require(s.sql("CALL g126.system.checkpoint('td', 2)").head().getLong(0) == 2L,
        "checkpoint must fold txns 1-2 and report the horizon id")
      require(s.sql("CALL g126.system.vacuum('td')").head().getInt(0) == 2,
        "vacuum must sweep exactly the two superseded segment dirs")
      require(s.sql("CALL g126.system.vacuum('td')").head().getInt(0) == 0,
        "a second vacuum has nothing left to sweep")
      s.sql(
        """SELECT gen, user_id, v FROM (
          |  SELECT 'at_horizon' AS gen, user_id, v FROM g126.td VERSION AS OF 2
          |  UNION ALL
          |  SELECT 'current' AS gen, user_id, v FROM g126.td)
          |ORDER BY gen, user_id""".stripMargin)
    },

    // ---- SQL TRUNCATE TABLE (MVCC tombstone-all, round 10) --------------
    // Spark routes TRUNCATE TABLE through SupportsDelete's default
    // truncateTable() = deleteWhere(no filters), which graft implements as
    // ONE dim-only tombstone-all transaction — so unlike a replace-style
    // truncate, time travel to pre-truncate transactions KEEPS WORKING and
    // txn ids stay monotone (stream offsets never rewind). The gate reads
    // the pre-truncate state via VERSION AS OF and the post-truncate
    // reseed; the oracle replays both.
    Entry("q128_sql_truncate", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |pre AS (SELECT user_id,
        |              CASE WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |        FROM base),
        |post AS (SELECT DISTINCT user_id, CAST(2.5 AS DOUBLE) AS v
        |         FROM events WHERE user_id < 40)
        |SELECT 'pre' AS gen, user_id, v FROM pre
        |UNION ALL SELECT 'post' AS gen, user_id, v FROM post
        |ORDER BY gen, user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q128-trunc")
      graft.core.Storage.deleteRecursively(root.resolve("td"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g128").isEmpty) {
        s.conf.set("spark.sql.catalog.g128", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g128.root", root.toString)
      }
      s.sql("CREATE TABLE g128.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g128.td
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("""INSERT INTO g128.td
              |SELECT user_id, max_by(value, event_id) + 1.0
              |FROM events WHERE user_id < 30 GROUP BY user_id""".stripMargin)
      s.sql("TRUNCATE TABLE g128.td")
      require(s.sql("SELECT count(*) FROM g128.td").head().getLong(0) == 0L,
        "truncate must empty the current snapshot")
      s.sql("""INSERT INTO g128.td
              |SELECT DISTINCT user_id, CAST(2.5 AS DOUBLE)
              |FROM events WHERE user_id < 40""".stripMargin)
      s.sql(
        """SELECT gen, user_id, v FROM (
          |  SELECT 'pre' AS gen, user_id, v FROM g128.td VERSION AS OF 2
          |  UNION ALL
          |  SELECT 'post' AS gen, user_id, v FROM g128.td)
          |ORDER BY gen, user_id""".stripMargin)
    },

    // ---- SQL INSERT OVERWRITE (one-txn MVCC replace, round 10) ----------
    // OverwriteByExpression(true) → the write builder's SupportsTruncate →
    // GraftInsert.overwrite: tombstones for every live key (_seq 0) + the
    // new rows (_seq 1) in ONE claimed transaction — readers flip
    // atomically, VERSION AS OF below the overwrite keeps reading, txn
    // ids stay monotone. Keys 10.. overlap live keys, so the gate also
    // exercises the within-txn seq rule (the new row outranks its own
    // txn's tombstone). Oracle replays the pre state and the post state.
    Entry("q130_sql_insert_overwrite", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |pre AS (SELECT user_id,
        |              CASE WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |        FROM base),
        |post AS (SELECT DISTINCT user_id, CAST(3.5 AS DOUBLE) AS v
        |         FROM events WHERE user_id BETWEEN 10 AND 59)
        |SELECT 'pre' AS gen, user_id, v FROM pre
        |UNION ALL SELECT 'post' AS gen, user_id, v FROM post
        |ORDER BY gen, user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q130-ovw")
      graft.core.Storage.deleteRecursively(root.resolve("td"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g130").isEmpty) {
        s.conf.set("spark.sql.catalog.g130", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g130.root", root.toString)
      }
      s.sql("CREATE TABLE g130.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g130.td
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("""INSERT INTO g130.td
              |SELECT user_id, max_by(value, event_id) + 1.0
              |FROM events WHERE user_id < 30 GROUP BY user_id""".stripMargin)
      s.sql("""INSERT OVERWRITE g130.td
              |SELECT DISTINCT user_id, CAST(3.5 AS DOUBLE)
              |FROM events WHERE user_id BETWEEN 10 AND 59""".stripMargin)
      s.sql(
        """SELECT gen, user_id, v FROM (
          |  SELECT 'pre' AS gen, user_id, v FROM g130.td VERSION AS OF 2
          |  UNION ALL
          |  SELECT 'post' AS gen, user_id, v FROM g130.td)
          |ORDER BY gen, user_id""".stripMargin)
    },

    // ---- catalog change stream (round 10) --------------------------------
    // `spark.readStream.table("<cat>.<t>.stream")` — the catalog face of
    // format("graft-stream"): tail a table's committed transactions with
    // no path plumbing (the `.stream` sub-table, like `.history`). The
    // gate streams three txns (seed, upsert, tombstone-delete) through a
    // complete-mode per-txn aggregation and the oracle replays the same
    // order-free statistics per transaction (counts, key min/max,
    // tombstone count) — off by one txn or a missed/duplicated batch and
    // any row mismatches.
    Entry("q129_catalog_stream", Some(
      """WITH seed AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id)
        |SELECT CAST(1 AS BIGINT) AS txn_id, count(*) AS n,
        |       min(user_id) AS min_u, max(user_id) AS max_u,
        |       CAST(0 AS BIGINT) AS dels
        |FROM seed
        |UNION ALL
        |SELECT 2, count(*), min(user_id), max(user_id), CAST(0 AS BIGINT)
        |FROM seed WHERE user_id < 30
        |UNION ALL
        |SELECT 3, count(*), min(user_id), max(user_id), count(*)
        |FROM seed WHERE user_id < 5
        |ORDER BY txn_id""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val root = Q.fixture("q129-catstream")
      graft.core.Storage.deleteRecursively(root.resolve("td"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g129").isEmpty) {
        s.conf.set("spark.sql.catalog.g129", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g129.root", root.toString)
      }
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val db = MatDb.create(s, sch, root.resolve("td").toString)
      val seed = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      val t1 = db.newTransaction(); t1.addRows(seed); t1.commit()
      val t2 = db.newTransaction()
      t2.addRows(seed.where(col("user_id") < 30).withColumn("v", col("v") + lit(1.0)))
      t2.commit()
      val t3 = db.newTransaction()
      t3.deleteRows(seed.where(col("user_id") < 5).select(col("user_id")))
      t3.commit()
      // Stateful streaming disables AQE, so the aggregation's STATE STORE
      // partition count is pinned to spark.sql.shuffle.partitions at the
      // first batch — 32 HDFS-backed state stores per micro-batch for an
      // aggregate whose group key is the TXN ID (cardinality = txns per
      // batch, bounded by maxTxnsPerBatch regardless of data scale; r16
      // driver measured 8 cores BEATING 32 on this query, ratio 0.68 —
      // pure per-store overhead). Size the state shuffle to the bounded
      // key space, not the core count: a data-scale-free constant.
      val stateParts = 4
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", stateParts)
      val q = try s.readStream
        .option("maxTxnsPerBatch", "1")
        .table("g129.td.stream")
        .groupBy(col(graft.core.Scan.TxnCol))
        .agg(count(lit(1)).as("n"),
          min(col("user_id")).as("min_u"), max(col("user_id")).as("max_u"),
          sum(when(coalesce(col(graft.core.Scan.DelCol), lit(false)), 1L)
            .otherwise(0L)).as("dels"))
        .writeStream.format("memory").queryName("q129_catalog_stream_sink")
        .outputMode("complete").start()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try q.processAllAvailable() finally q.stop()
      s.table("q129_catalog_stream_sink")
        .select(col(graft.core.Scan.TxnCol).as("txn_id"), col("n"),
          col("min_u"), col("max_u"), col("dels"))
        .orderBy(col("txn_id"))
    },

    // ---- TIMESTAMP AS OF time travel (round 10) -------------------------
    // Commit wall-clock stamps (_commit_ts, monotone by txn order) make
    // point-in-time reads first-class: the gate reads the SAME mid-history
    // state twice — once as VERSION AS OF 2, once as TIMESTAMP AS OF txn
    // 2's own commit timestamp — and the oracle replays that state twice.
    // Resolution off by one txn fails the gate (txn 3 deletes a key range,
    // so state@3 != state@2 by construction).
    Entry("q121_timestamp_asof", Some(
      """WITH s2 AS (
        |  SELECT user_id,
        |         CASE WHEN user_id < 20 THEN CAST(-1.0 AS DOUBLE) ELSE v END AS v
        |  FROM (SELECT user_id, arg_max(value, event_id) AS v
        |        FROM events WHERE user_id < 50 GROUP BY user_id)
        |  UNION ALL SELECT 100000, CAST(7.0 AS DOUBLE))
        |SELECT src, user_id, v FROM (
        |  SELECT 'v' AS src, user_id, v FROM s2
        |  UNION ALL
        |  SELECT 't' AS src, user_id, v FROM s2)
        |ORDER BY src, user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q121-tsasof")
      val tableDir = root.resolve("td")
      graft.core.Storage.deleteRecursively(tableDir)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g121").isEmpty) {
        s.conf.set("spark.sql.catalog.g121", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g121.root", root.toString)
      }
      s.sql("CREATE TABLE g121.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g121.td
              |SELECT user_id, max_by(value, event_id)
              |FROM events WHERE user_id < 50 GROUP BY user_id""".stripMargin)
      Thread.sleep(10) // commit stamps are millis; separate the txns' clocks
      s.sql("""INSERT INTO g121.td
              |SELECT DISTINCT user_id, CAST(-1.0 AS DOUBLE)
              |FROM events WHERE user_id < 20
              |UNION ALL SELECT 100000, CAST(7.0 AS DOUBLE)""".stripMargin)
      Thread.sleep(10)
      s.sql("DELETE FROM g121.td WHERE user_id BETWEEN 30 AND 39")
      val ts2 = graft.core.MatDb.open(s, tableDir.toString).history()
        .where(col("txn_id") === 2).head().getTimestamp(3).getTime
      val lit2 = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ts2))
      s.sql(
        s"""SELECT src, user_id, v FROM (
           |  SELECT 'v' AS src, user_id, v FROM g121.td VERSION AS OF 2
           |  UNION ALL
           |  SELECT 't' AS src, user_id, v FROM g121.td TIMESTAMP AS OF '$lit2')
           |ORDER BY src, user_id""".stripMargin)
    },

    // ---- z-order clustered layout (sources.ZOrderLayout) ---------------
    // lineitem rewritten in Morton order of (l_orderkey, l_partkey), then
    // a range predicate on the NON-leading key answered off the clustered
    // copy. The RESULT is layout-independent (the oracle filters the base
    // table — that equivalence is the gate); the layout's point is that
    // matching rows concentrate into few z-files so parquet min-max stats
    // prune the rest, measured by ZOrderSpec (x-sorted baseline: all 16
    // files; z-layout: ≤8 either dim, ~1 for a box).
    Entry("q92_zorder_prune", Some(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 120
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, d) =>
      import graft.sources.ZOrderLayout
      val dir = Q.fixture("q92-zorder")
      graft.core.Storage.deleteRecursively(dir)
      ZOrderLayout.write(table(s, d, "lineitem"),
        "l_orderkey", "l_partkey", dir.toString, files = 16)
      s.read.parquet(dir.toString)
        .where(col("l_partkey").between(100, 120))
        .select(col("l_orderkey"), col("l_linenumber").cast("long"),
          col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- zero-copy SHALLOW CLONE (round 11) ------------------------------
    // CALL system.clone hard-links a table into a new independent root
    // (MatDb.shallowClone): the gate forks a 2-txn table, MODIFIES the
    // fork (delete + insert), then compact+vacuum's the SOURCE — which
    // unlinks every pre-compact segment the two tables SHARED. The gate
    // reads: the source (must still be the pre-fork state), the modified
    // fork, and the fork VERSION AS OF 2 (time-travel parity carried by
    // the cloned manifest log — and physically backed by hard links the
    // source's vacuum must not be able to destroy). The oracle replays
    // all three states relationally; any cross-contamination — a fork
    // write visible in the source, or source GC corrupting the fork's
    // shared bytes — breaks a row.
    Entry("q132_shallow_clone", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |pre AS (SELECT user_id,
        |               CASE WHEN user_id < 30 THEN v + 1.0 ELSE v END AS v
        |        FROM base),
        |fork AS (SELECT user_id, v FROM pre WHERE user_id >= 10
        |         UNION ALL
        |         SELECT 900000 + r.range AS user_id, CAST(5.5 AS DOUBLE)
        |         FROM range(0, 5) r)
        |SELECT side, user_id, v FROM (
        |  SELECT 'src' AS side, user_id, v FROM pre
        |  UNION ALL SELECT 'fork' AS side, user_id, v FROM fork
        |  UNION ALL SELECT 'fork@2' AS side, user_id, v FROM pre)
        |ORDER BY side, user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q132-clone")
      graft.core.Storage.deleteRecursively(root.resolve("src"))
      graft.core.Storage.deleteRecursively(root.resolve("fork"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g132").isEmpty) {
        s.conf.set("spark.sql.catalog.g132", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g132.root", root.toString)
      }
      s.sql("CREATE TABLE g132.src (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g132.src
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin) // txn 1
      s.sql("""INSERT INTO g132.src
              |SELECT user_id, max_by(value, event_id) + 1.0
              |FROM events WHERE user_id < 30 GROUP BY user_id""".stripMargin) // txn 2
      s.sql("CALL g132.system.clone('src', 'fork')")
      s.sql("DELETE FROM g132.fork WHERE user_id < 10")                     // fork txn 3
      s.sql("""INSERT INTO g132.fork
              |SELECT 900000 + id, CAST(5.5 AS DOUBLE) FROM range(0, 5)""".stripMargin)
      // source-side GC: compact rewrites + vacuum UNLINKS every shared
      // pre-compact segment — the fork's hard links must keep its bytes
      s.sql("CALL g132.system.compact('src')")
      s.sql("CALL g132.system.vacuum('src')")
      s.sql(
        """SELECT side, user_id, v FROM (
          |  SELECT 'src' AS side, user_id, v FROM g132.src
          |  UNION ALL SELECT 'fork' AS side, user_id, v FROM g132.fork
          |  UNION ALL SELECT 'fork@2' AS side, user_id, v
          |  FROM g132.fork VERSION AS OF 2)
          |ORDER BY side, user_id""".stripMargin)
    },

    // ---- ANALYZE statistics (round 11) -----------------------------------
    // CALL system.analyze computes RESOLVED-snapshot statistics — the gate
    // pins that the row count / size / dim min-max describe the post-MVCC
    // state (the table holds 2 versions for half its keys; raw-row
    // counting would double them), by replaying the resolved aggregate
    // relationally. size_bytes = rowCount × 16 (one BIGINT dim + one
    // DOUBLE value — Spark's defaultSize row width).
    Entry("q133_analyze_stats", Some(
      """WITH resolved AS (SELECT user_id, arg_max(value, event_id) AS v
        |                  FROM events GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS row_count,
        |       CAST(count(*) * 16 AS BIGINT) AS size_bytes,
        |       min(user_id) AS user_min, max(user_id) AS user_max
        |FROM resolved""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q133-analyze")
      graft.core.Storage.deleteRecursively(root.resolve("td"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g133").isEmpty) {
        s.conf.set("spark.sql.catalog.g133", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g133.root", root.toString)
      }
      s.sql("CREATE TABLE g133.td (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("""INSERT INTO g133.td
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("""INSERT INTO g133.td
              |SELECT user_id, max_by(value, event_id) + 1.0
              |FROM events WHERE user_id % 2 = 0 GROUP BY user_id""".stripMargin)
      val a = s.sql("CALL g133.system.analyze('td')").collect()(0)
      val props = s.sql("SHOW TBLPROPERTIES g133.td").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      import s.implicits._
      Seq((a.getLong(0), a.getLong(1),
        props("graft.stats.dim.user_id.min").toLong,
        props("graft.stats.dim.user_id.max").toLong))
        .toDF("row_count", "size_bytes", "user_min", "user_max")
    },

    // ---- Storage-partitioned join (round 12) -----------------------------
    // Two chunk-aligned graft tables join under
    // spark.sql.sources.v2.bucketing.enabled with ZERO exchanges: GraftScan
    // reports KeyGroupedPartitioning(chunk_<size>(dim)) resolved through the
    // catalog's ChunkFunction, and each chunk's files (across ALL segments)
    // form one keyed input partition — Catalyst proves co-location, so
    // neither the MVCC dedup aggregates nor the join shuffle. The CTAS runs
    // while the confs are pinned (broadcast disabled to force the
    // co-located path); the gate replays the join relationally.
    // GraftCatalogSpec pins the zero-Exchange plan shape itself.
    Entry("q134_spj_join", Some(
      """WITH a AS (SELECT user_id, arg_max(value, event_id) AS v
        |           FROM events GROUP BY user_id),
        |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |      FROM events GROUP BY user_id)
        |SELECT a.user_id, a.v, b.cnt FROM a JOIN b USING (user_id)
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q134-spj")
      Seq("a", "b", "out").foreach(t =>
        graft.core.Storage.deleteRecursively(root.resolve(t)))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g134").isEmpty) {
        s.conf.set("spark.sql.catalog.g134", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g134.root", root.toString)
      }
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("CREATE TABLE g134.a (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      s.sql("""INSERT INTO g134.a
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("CREATE TABLE g134.b (user_id BIGINT, cnt BIGINT) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      s.sql("""INSERT INTO g134.b
              |SELECT user_id, CAST(count(*) AS BIGINT)
              |FROM events GROUP BY user_id""".stripMargin)
      val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.sql("""CREATE TABLE g134.out TBLPROPERTIES('graft.dims' = 'user_id:1000') AS
                |SELECT a.user_id, a.v, b.cnt
                |FROM g134.a a JOIN g134.b b ON a.user_id = b.user_id""".stripMargin)
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      s.sql("SELECT user_id, v, cnt FROM g134.out ORDER BY user_id")
    },

    // ---- OPTIMIZE file maintenance (round 12) ----------------------------
    // CALL system.optimize rewrites the whole table into one freshly-laid-
    // out baseline: small commits' files compact to one per chunk, rows
    // z-order-clustered within chunks (MatDb.optimize -> checkpoint at the
    // watermark). The gate: content is EXACTLY the pre-optimize resolved
    // state (the oracle replays the three commits relationally), and the
    // in-code assertion pins that files actually went down.
    // GraftProcedureSpec pins file-size bounding and .history diagnostics.
    Entry("q135_optimize", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |upd AS (SELECT user_id, user_id % 7 AS slot,
        |               CASE WHEN user_id % 3 = 0 THEN v * 2.0 ELSE v END AS v
        |        FROM base)
        |SELECT user_id, slot, v FROM upd WHERE user_id >= 3
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q135-optimize")
      graft.core.Storage.deleteRecursively(root.resolve("t"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g135").isEmpty) {
        s.conf.set("spark.sql.catalog.g135", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g135.root", root.toString)
      }
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("CREATE TABLE g135.t (user_id BIGINT, slot BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000,slot:1000')")
      s.sql("""INSERT INTO g135.t
              |SELECT user_id, user_id % 7, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)              // txn 1
      s.sql("""INSERT INTO g135.t
              |SELECT user_id, user_id % 7, max_by(value, event_id) * 2.0
              |FROM events WHERE user_id % 3 = 0 GROUP BY user_id""".stripMargin) // txn 2
      s.sql("DELETE FROM g135.t WHERE user_id < 3")                      // txn 3
      val o = s.sql(
        "CALL g135.system.optimize('t', target_file_size => 1048576, " +
          "zorder => 'user_id,slot')").collect()(0)
      require(o.getLong(2) <= o.getLong(1),
        s"optimize must not grow the file count: $o")
      s.sql("SELECT user_id, slot, v FROM g135.t ORDER BY user_id")
    },

    // ---- SPJ across COMPATIBLE chunk sizes (round 13) --------------------
    // q134's join with MISMATCHED but commensurate layouts: a is chunked
    // user_id:500, b user_id:1000. chunk_500 refines chunk_1000, so
    // ChunkFunction's ReducibleFunction reducer (SPARK-44647) REGROUPS the
    // finer side's key-grouped partitions to the coarser transform under
    // spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled —
    // the join still runs with zero exchanges instead of shuffling both
    // sides. The gate replays the join relationally; GraftCatalogSpec pins
    // the exchange-free plan shape and the incommensurate-size fallback.
    Entry("q137_spj_regroup", Some(
      """WITH a AS (SELECT user_id, arg_max(value, event_id) AS v
        |           FROM events GROUP BY user_id),
        |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |      FROM events GROUP BY user_id)
        |SELECT a.user_id, a.v, b.cnt FROM a JOIN b USING (user_id)
        |ORDER BY user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q137-spjr")
      Seq("a", "b", "out").foreach(t =>
        graft.core.Storage.deleteRecursively(root.resolve(t)))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g137").isEmpty) {
        s.conf.set("spark.sql.catalog.g137", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g137.root", root.toString)
      }
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("CREATE TABLE g137.a (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:500')")
      s.sql("""INSERT INTO g137.a
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)
      s.sql("CREATE TABLE g137.b (user_id BIGINT, cnt BIGINT) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      s.sql("""INSERT INTO g137.b
              |SELECT user_id, CAST(count(*) AS BIGINT)
              |FROM events GROUP BY user_id""".stripMargin)
      val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        s.conf.set(
          "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.sql("""CREATE TABLE g137.out TBLPROPERTIES('graft.dims' = 'user_id:1000') AS
                |SELECT a.user_id, a.v, b.cnt
                |FROM g137.a a JOIN g137.b b ON a.user_id = b.user_id""".stripMargin)
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      s.sql("SELECT user_id, v, cnt FROM g137.out ORDER BY user_id")
    },

    // ---- ANN index maintenance under DML (round 13) ----------------------
    // The persisted IVF index (q78's layout) folds an upsert/delete delta
    // WITHOUT a rebuild (IvfIndex.maintainIndex — only the touched buckets
    // rewrite): vec_id%7==1 upserts to its NEGATED vector (antipodal — a
    // guaranteed bucket move), disjoint vec_id%11==3 ids are deleted, then
    // searchIndex runs over the MAINTAINED index. The oracle replays the
    // exact search math over the post-DML corpus from the centroids
    // fixture: normalize (x/sqrt(Σx²), left folds), argmin-sqdist
    // assignment, 2-probe, dot score, per-query top-5 — hash-exact, so any
    // stale/missing/duplicated index row fails the gate. IvfSpec pins the
    // touched-buckets-only rewrite and recall floors.
    Entry("q138_ivf_maintain", Some {
      val fix = s"${Q.fixture("q138-ivfm")}/index/centroids/*.parquet"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$fix')),
         |post AS (SELECT vec_id,
         |                CASE WHEN vec_id % 7 = 1
         |                  THEN list_transform(embedding, x -> -CAST(x AS DOUBLE))
         |                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS e
         |         FROM embeddings
         |         WHERE NOT (vec_id % 11 = 3 AND vec_id % 7 != 1)),
         |nrm AS (SELECT vec_id,
         |               list_transform(e, x -> x / sqrt(
         |                 list_reduce(list_transform(range(1, 65), i -> e[i] * e[i]),
         |                             (x, y) -> x + y))) AS v
         |        FROM post),
         |dots AS (SELECT n.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  (n.v[i] - c.weights[i]) * (n.v[i] - c.weights[i])),
         |                  (x, y) -> x + y) AS dsq
         |         FROM nrm n CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(dsq ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |asg AS (SELECT n.vec_id, n.v, l.dl,
         |               list_position(l.dl, list_min(l.dl)) - 1 AS bucket
         |        FROM nrm n JOIN dlt l USING (vec_id)),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket,
         |             COALESCE(list_position(dl,
         |               list_min(list_filter(dl, x -> x <> list_min(dl)))) - 1, bucket) AS b2
         |      FROM asg WHERE vec_id < 3),
         |qp AS (SELECT qid, qv, unnest(list_value(bucket, b2)) AS bucket FROM q),
         |scored AS (
         |  SELECT qid, a.vec_id,
         |         list_reduce(list_transform(range(1, 65), i -> qp.qv[i] * a.v[i]),
         |                     (x, y) -> x + y) AS score
         |  FROM qp JOIN asg a USING (bucket) WHERE a.vec_id != qid)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.operators.IvfIndex
      graft.functions.VectorOps.register(s)
      val fixDir = Q.fixture("q138-ivfm")
      graft.core.Storage.deleteRecursively(fixDir)
      val emb = table(s, d, "embeddings")
      val trained = IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = 8, iters = 2).map(_.toSeq).toSeq
      val idx = fixDir.resolve("index").toString
      IvfIndex.writeIndex(emb, "vec_id", "embedding", trained, idx)
      val upserts = emb.where(col("vec_id") % 7 === 1)
        .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
      val deletes = emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"))
      // `trained` IS the index's persisted geometry (writeIndex wrote it;
      // doubles round-trip parquet bit-exactly) — skip the re-reads
      IvfIndex.maintainIndex(s, idx, "vec_id", upserts, deletes, Some(trained))
      val postQ = emb.where(col("vec_id") < 3)
        .select(col("vec_id"), when(col("vec_id") % 7 === 1,
          expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))
      IvfIndex.searchIndex(s, idx, postQ, "vec_id", "embedding", nprobe = 2, k = 5,
        knownCentroids = Some(trained))
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // ---- streaming index maintenance (round 13) ---------------------------
    // q138's maintenance driven by the TABLE's own transaction stream
    // (Streams.indexMaintSink): the base graft table takes three commits
    // (seed; antipodal upserts; deletes), the sink folds each micro-batch's
    // changesBetween delta into the persisted IVF index (empty-bootstrap
    // on the first batch, touched-buckets rewrite after), and the gate
    // searches the maintained index. The oracle is q138's: replay the
    // exact search math over the post-DML state from the centroids
    // fixture. StreamingSpec pins replay convergence and null-vector
    // retirement.
    Entry("q139_stream_index_maint", Some {
      val fix = s"${Q.fixture("q139-idxsink")}/index/centroids/*.parquet"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$fix')),
         |post AS (SELECT vec_id,
         |                CASE WHEN vec_id % 7 = 1
         |                  THEN list_transform(embedding, x -> -CAST(x AS DOUBLE))
         |                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS e
         |         FROM embeddings
         |         WHERE NOT (vec_id % 11 = 3 AND vec_id % 7 != 1)),
         |nrm AS (SELECT vec_id,
         |               list_transform(e, x -> x / sqrt(
         |                 list_reduce(list_transform(range(1, 65), i -> e[i] * e[i]),
         |                             (x, y) -> x + y))) AS v
         |        FROM post),
         |dots AS (SELECT n.vec_id, c.bucket,
         |                list_reduce(list_transform(range(1, 65), i ->
         |                  (n.v[i] - c.weights[i]) * (n.v[i] - c.weights[i])),
         |                  (x, y) -> x + y) AS dsq
         |         FROM nrm n CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(dsq ORDER BY bucket) AS dl FROM dots GROUP BY vec_id),
         |asg AS (SELECT n.vec_id, n.v, l.dl,
         |               list_position(l.dl, list_min(l.dl)) - 1 AS bucket
         |        FROM nrm n JOIN dlt l USING (vec_id)),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket,
         |             COALESCE(list_position(dl,
         |               list_min(list_filter(dl, x -> x <> list_min(dl)))) - 1, bucket) AS b2
         |      FROM asg WHERE vec_id < 3),
         |qp AS (SELECT qid, qv, unnest(list_value(bucket, b2)) AS bucket FROM q),
         |scored AS (
         |  SELECT qid, a.vec_id,
         |         list_reduce(list_transform(range(1, 65), i -> qp.qv[i] * a.v[i]),
         |                     (x, y) -> x + y) AS score
         |  FROM qp JOIN asg a USING (bucket) WHERE a.vec_id != qid)
         |SELECT qid, vec_id, score, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn
         |      FROM scored) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import graft.operators.IvfIndex
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      graft.functions.VectorOps.register(s)
      val root = Q.fixture("q139-idxsink")
      graft.core.Storage.deleteRecursively(root)
      java.nio.file.Files.createDirectories(root)
      val emb = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val trained = IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = 8, iters = 2).map(_.toSeq).toSeq
      val idx = root.resolve("index").toString
      IvfIndex.writeIndex(emb.limit(0), "vec_id", "embedding", trained, idx)
      val basePath = root.resolve("base").toString
      val base = MatDb.create(s, MatSchema(Seq(Dimension("vec_id", 1000)),
        Seq(ValueCol("embedding", ArrayType(FloatType)))), basePath)
      val t1 = base.newTransaction()
      t1.addRows(emb); t1.commit()
      val t2 = base.newTransaction()
      t2.addRows(emb.where(col("vec_id") % 7 === 1)
        .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding")))
      t2.commit()
      val t3 = base.newTransaction()
      t3.deleteRows(emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id")))
      t3.commit()
      val q = graft.streaming.Streams.indexMaintSink(
        s.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
          .load(basePath),
        basePath, idx, "embedding", root.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      base.refresh()
      val postQ = base.snapshot().where(col("vec_id") < 3)
      // `trained` is the geometry writeIndex persisted (no retrain ran)
      IvfIndex.searchIndex(s, idx, postQ, "vec_id", "embedding", nprobe = 2, k = 5,
        knownCentroids = Some(trained))
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // ---- persisted IVF-PQ index + maintenance (round 13) ------------------
    // The 100 TB ANN layout (PqIndex.writeIvfPq): coarse centroids + PQ
    // codebook fixtures, codes bucket-partitioned by the IVF assignment —
    // a probe reads (nprobe/k_ivf) of the corpus's 8 B/vector codes, and
    // the exact refine fetches only the per-query shortlist's raw vectors
    // from the caller's corpus relation. Same DML as q138, folded by
    // maintainIvfPq (re-encode the delta, rewrite touched buckets only),
    // searched via searchIvfPq. The oracle replays the full chain from
    // both fixtures over the post-DML state: normalize + argmin-sqdist
    // assignment (q138's pattern), argmin encode, 2-probe, ascending-sub
    // ADC fold, exact-refine fold, per-query top-5 (q98's pattern) —
    // hash-exact end to end. PqSpec pins layout pruning and
    // touched-buckets-only maintenance.
    Entry("q140_ivfpq_maintain", Some {
      val root = s"${Q.fixture("q140-ivfpqm")}/index"
      s"""WITH cent AS (SELECT bucket, weights FROM read_parquet('$root/centroids/*.parquet')),
         |cb AS (SELECT sub, code, weights FROM read_parquet('$root/codebook/*.parquet')),
         |post AS (SELECT vec_id,
         |                CASE WHEN vec_id % 7 = 1
         |                  THEN list_transform(embedding, x -> -CAST(x AS DOUBLE))
         |                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS e
         |         FROM embeddings
         |         WHERE NOT (vec_id % 11 = 3 AND vec_id % 7 != 1)),
         |nrm AS (SELECT vec_id,
         |               list_transform(e, x -> x / sqrt(
         |                 list_reduce(list_transform(range(1, 65), i -> e[i] * e[i]),
         |                             (x, y) -> x + y))) AS v
         |        FROM post),
         |cdots AS (SELECT n.vec_id, c.bucket,
         |                 list_reduce(list_transform(range(1, 65), i ->
         |                   (n.v[i] - c.weights[i]) * (n.v[i] - c.weights[i])),
         |                   (x, y) -> x + y) AS dsq
         |          FROM nrm n CROSS JOIN cent c),
         |dlt AS (SELECT vec_id, list(dsq ORDER BY bucket) AS dl FROM cdots GROUP BY vec_id),
         |asg AS (SELECT n.vec_id, l.dl,
         |               list_position(l.dl, list_min(l.dl)) - 1 AS bucket
         |        FROM nrm n JOIN dlt l USING (vec_id)),
         |sv AS (SELECT vec_id, s.sub,
         |              list_transform(range(1, 9), i -> e[s.sub * 8 + i]) AS v
         |       FROM post, (SELECT unnest(range(0, 8)) AS sub) s),
         |d AS (SELECT vec_id, sub, code,
         |             list_reduce(list_transform(range(1, 9),
         |               i -> (v[i] - weights[i]) * (v[i] - weights[i])),
         |               (x, y) -> x + y) AS dd
         |      FROM sv JOIN cb USING (sub)),
         |enc AS (SELECT vec_id, sub, code FROM (
         |          SELECT vec_id, sub, code,
         |                 row_number() OVER (PARTITION BY vec_id, sub
         |                   ORDER BY dd, code) AS rn
         |          FROM d) t WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, bucket,
         |             COALESCE(list_position(dl,
         |               list_min(list_filter(dl, x -> x <> list_min(dl)))) - 1, bucket) AS b2
         |      FROM asg WHERE vec_id < 3),
         |qp AS (SELECT qid, unnest(list_value(bucket, b2)) AS bucket FROM q),
         |cand AS (SELECT qp.qid, a.vec_id
         |         FROM qp JOIN asg a USING (bucket) WHERE a.vec_id <> qp.qid),
         |pairs AS (SELECT c.qid, c.vec_id, e.sub, dq.dd
         |          FROM cand c JOIN enc e ON e.vec_id = c.vec_id
         |          JOIN d dq ON dq.vec_id = c.qid AND dq.sub = e.sub AND dq.code = e.code),
         |adc AS (SELECT qid, vec_id,
         |               list_reduce(list(dd ORDER BY sub), (x, y) -> x + y) AS approx_dist
         |        FROM pairs GROUP BY qid, vec_id),
         |short AS (SELECT qid, vec_id FROM (
         |            SELECT *, row_number() OVER (PARTITION BY qid
         |              ORDER BY approx_dist, vec_id) AS srn
         |            FROM adc) t WHERE srn <= 10),
         |ref AS (SELECT sh.qid, sh.vec_id,
         |               list_reduce(list_transform(range(1, 65), i ->
         |                 (qe.e[i] - ce.e[i]) * (qe.e[i] - ce.e[i])),
         |                 (x, y) -> x + y) AS dist
         |        FROM short sh JOIN post qe ON qe.vec_id = sh.qid
         |                      JOIN post ce ON ce.vec_id = sh.vec_id)
         |SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY dist, vec_id) AS rn FROM ref) t
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    }) { (s, d) =>
      import graft.operators.{IvfIndex, PqIndex}
      graft.functions.VectorOps.register(s)
      val root = Q.fixture("q140-ivfpqm")
      graft.core.Storage.deleteRecursively(root)
      val emb = table(s, d, "embeddings")
      // the two trainers consume DISJOINT samples and share nothing:
      // overlap their per-iteration driver collects (Q.par2, guide §2.6)
      val (cent, cb) = Q.par2(
        IvfIndex.train(emb.where(col("vec_id") % 3 === 0),
          "vec_id", "embedding", k = 8, iters = 2).map(_.toSeq).toSeq,
        PqIndex.train(emb.where(col("vec_id") % 3 === 1),
          "vec_id", "embedding", m = 8, k = 16, iters = 2))
      val idx = root.resolve("index").toString
      PqIndex.writeIvfPq(emb, "vec_id", "embedding", cent, cb, idx)
      val upserts = emb.where(col("vec_id") % 7 === 1)
        .select(col("vec_id"), expr("transform(embedding, x -> -x)").as("embedding"))
      val deletes = emb.where(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"))
      // the models just trained ARE the index's geometry (writeIvfPq wrote
      // them; parquet round-trips doubles bit-exactly) — pass them down
      // instead of re-reading them twice per call
      PqIndex.maintainIvfPq(s, idx, "vec_id", upserts, deletes,
        knownCentroids = Some(cent), knownCodebook = Some(cb))
      val post = emb.where(!(col("vec_id") % 11 === 3 && col("vec_id") % 7 =!= 1))
        .select(col("vec_id"), when(col("vec_id") % 7 === 1,
          expr("transform(embedding, x -> -x)")).otherwise(col("embedding")).as("embedding"))
      PqIndex.searchIvfPq(s, idx, post, post.where(col("vec_id") < 3),
          "vec_id", "embedding", nprobe = 2, k = 5, shortlist = 10,
          knownCentroids = Some(cent), knownCodebook = Some(cb))
        .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },

    // ---- materialized-view AUTO-REWRITE (plans.MvRewriteRule, round 13) --
    // The read-side closure of incremental view maintenance: q117/q118/q123
    // made each maintenance step O(delta); this gate makes the QUERY side
    // O(groups) — a GROUP BY over base.snapshot() is answered from the
    // maintained view without touching the base (the lakehouse MV-rewrite,
    // scoped to the aggregate shapes graft views maintain). Scenario:
    // 3 base txns (insert / value-update + group-moving update / delete),
    // each folded by maintainAbsoluteMulti (which stamps the view with its
    // base + maintained txn); the query then filters on the group column,
    // groups, and SUMs — and the entry REQUIRES the optimized plan to scan
    // only view files, so a silently-broken rewrite turns this row red
    // rather than passing through the base. The oracle replays the DML
    // relationally: rewritten-read == full recompute, hash-exact (DECIMAL
    // sums are order-free).
    Entry("q141_mv_rewrite", Some(
      """WITH b AS (SELECT event_id, user_id, value FROM events WHERE event_id < 700),
        |fin AS (SELECT CASE WHEN event_id >= 500 AND event_id < 600
        |                    THEN user_id + 50000 ELSE user_id END AS grp,
        |               CASE WHEN event_id < 100
        |                    THEN CAST(value + 2.5 AS DECIMAL(18,4))
        |                    ELSE CAST(value AS DECIMAL(18,4)) END AS v
        |        FROM b WHERE NOT (event_id >= 200 AND event_id < 260))
        |SELECT grp, CAST(sum_v AS DOUBLE) AS sum_v, cnt
        |FROM (SELECT grp, sum(v) AS sum_v, count(*) AS cnt FROM fin GROUP BY grp)
        |WHERE grp % 3 = 0 ORDER BY grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val root = Q.fixture("q141-mvrw")
      graft.core.Storage.deleteRecursively(root)
      val dec = DecimalType(18, 4)
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp", LongType), ValueCol("v", dec))),
        root.resolve("base").toString)
      val view = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("view").toString)
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 700).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value")).as("v")))
      t1.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 0L, 1L, "grp")
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 100).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value") + lit(2.5)).as("v")))
      t2.addRows(e.where(col("event_id").between(500, 599)).select(col("event_id"),
        (col("user_id") + lit(50000L)).as("grp"), Q.dec4(col("value")).as("v")))
      t2.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 1L, 2L, "grp")
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(200, 259)).select(col("event_id")))
      t3.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 2L, 3L, "grp")
      base.registerMaterializedView(root.resolve("view").toString)
      // the user-facing query: base snapshot, group-column filter, GROUP BY
      val agg = base.snapshot().where(col("grp") % 3 === 0).groupBy("grp")
        .agg(sum("v").as("sum_v_dec"), count(lit(1)).as("cnt"))
      // the gate's teeth: the rewritten plan must read ONLY view files —
      // if the rewrite silently stops firing, this row goes red
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scanned.nonEmpty && scanned.forall(_.contains("/view/")),
        s"mv-rewrite did not fire: scans $scanned")
      graft.plans.MvRegistry.dropRoot(base.root.toAbsolutePath.toString)
      agg.select(col("grp"), col("sum_v_dec").cast("double").as("sum_v"), col("cnt"))
        .orderBy(col("grp"))
    },

    // ---- composite-key materialized view, streamed + rewritten (r13) ----
    // q141's rewrite generalized to a COMPOSITE group key, maintained by
    // the STREAMING sink: the view's dimensions are (grp, src) — two base
    // value columns — kept current by viewMaintSinkKeys from the base
    // table's own transaction stream (one txn per micro-batch, replay-safe
    // pinned commits), then a GROUP BY in the REVERSED column order
    // (src, grp) is answered from the view (the rewrite matches the key as
    // a SET). Plan-asserted like q141: only view files may be scanned. The
    // oracle replays the DML and aggregates relationally — streamed
    // maintenance + rewritten read == full recompute, hash-exact.
    Entry("q142_mv_rewrite_multikey", Some(
      """WITH b AS (SELECT event_id, user_id, value FROM events WHERE event_id < 500),
        |fin AS (SELECT user_id AS grp, user_id % 7 AS src,
        |               CASE WHEN event_id < 120
        |                    THEN CAST(value + 1.5 AS DECIMAL(18,4))
        |                    ELSE CAST(value AS DECIMAL(18,4)) END AS v
        |        FROM b WHERE NOT (event_id >= 300 AND event_id < 370))
        |SELECT src, grp, CAST(sum_v AS DOUBLE) AS sum_v, cnt
        |FROM (SELECT src, grp, sum(v) AS sum_v, count(*) AS cnt
        |      FROM fin GROUP BY src, grp)
        |ORDER BY src, grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val root = Q.fixture("q142-mvrwk")
      graft.core.Storage.deleteRecursively(root)
      java.nio.file.Files.createDirectories(root)
      val dec = DecimalType(18, 4)
      val basePath = root.resolve("base").toString
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp", LongType), ValueCol("src", LongType), ValueCol("v", dec))),
        basePath)
      val view = MatDb.create(s, MatSchema(
        Seq(Dimension("grp", 1000), Dimension("src", 10)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("view").toString)
      val e = table(s, d, "events")
      def rows(df: org.apache.spark.sql.DataFrame) = df.select(col("event_id"),
        col("user_id").as("grp"), (col("user_id") % 7).as("src"),
        Q.dec4(col("value")).as("v"))
      val t1 = base.newTransaction()
      t1.addRows(rows(e.where(col("event_id") < 500)))
      t1.commit()
      val t2 = base.newTransaction()
      t2.addRows(rows(e.where(col("event_id") < 120))
        .withColumn("v", Q.dec4(col("v") + lit(1.5))))
      t2.commit()
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(300, 369)).select(col("event_id")))
      t3.commit()
      val q = graft.streaming.Streams.viewMaintSinkKeys(
        s.readStream.format("graft-stream").option("maxTxnsPerBatch", "1")
          .load(basePath),
        basePath, Seq(view -> Seq("grp", "src")), root.resolve("ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      base.registerMaterializedView(root.resolve("view").toString)
      val agg = base.snapshot().groupBy("src", "grp")
        .agg(sum("v").as("sum_v_dec"), count(lit(1)).as("cnt"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scanned.nonEmpty && scanned.forall(_.contains("/view/")),
        s"composite-key mv-rewrite did not fire: scans $scanned")
      graft.plans.MvRegistry.dropRoot(base.root.toAbsolutePath.toString)
      agg.select(col("src"), col("grp"),
          col("sum_v_dec").cast("double").as("sum_v"), col("cnt"))
        .orderBy(col("src"), col("grp"))
    },

    // ---- SQL-first materialized-view lifecycle (round 13) ---------------
    // The whole MV loop from PURE SQL: CREATE both tables (the view's
    // schema IS its aggregate spec), INSERT, `CALL system.maintain_mview`
    // (first call backfills; the view's dims are its group key), `CALL
    // system.register_mview`, then UPDATE + INSERT more and re-maintain —
    // each maintenance is O(delta) — and finally a plain GROUP BY over the
    // BASE is answered from the view (plan-asserted, like q141/q142). The
    // oracle replays all four DML statements relationally: SQL-maintained
    // view + rewritten read == full recompute, hash-exact.
    Entry("q143_sql_mview", Some(
      """WITH b AS (SELECT event_id, user_id AS grp,
        |                  CAST(value AS DECIMAL(18,4)) AS v
        |           FROM events WHERE event_id < 400),
        |upd AS (SELECT event_id, grp,
        |               CASE WHEN event_id < 100
        |                    THEN CAST(v + 10.0 AS DECIMAL(18,4)) ELSE v END AS v
        |        FROM b),
        |ins AS (SELECT event_id, user_id + 100000 AS grp,
        |               CAST(value AS DECIMAL(18,4)) AS v
        |        FROM events WHERE event_id >= 400 AND event_id < 500),
        |fin AS (SELECT grp, v FROM upd UNION ALL SELECT grp, v FROM ins)
        |SELECT grp, CAST(sum_v AS DOUBLE) AS sum_v, cnt
        |FROM (SELECT grp, sum(v) AS sum_v, count(*) AS cnt FROM fin GROUP BY grp)
        |ORDER BY grp""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q143-sqlmv")
      graft.core.Storage.deleteRecursively(root)
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g143").isEmpty) {
        s.conf.set("spark.sql.catalog.g143", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g143.root", root.toString)
      }
      table(s, d, "events").createOrReplaceTempView("ev143")
      s.sql("CREATE TABLE g143.base (event_id BIGINT, grp BIGINT, v DECIMAL(18,4)) " +
        "TBLPROPERTIES('graft.dims'='event_id:100')")
      s.sql("INSERT INTO g143.base SELECT event_id, user_id, " +
        "CAST(value AS DECIMAL(18,4)) FROM ev143 WHERE event_id < 400")
      s.sql("CREATE TABLE g143.base_by_grp (grp BIGINT, sum_v DECIMAL(18,4), " +
        "cnt BIGINT) TBLPROPERTIES('graft.dims'='grp:1000')")
      s.sql("CALL g143.system.maintain_mview('base', 'base_by_grp')").collect()
      s.sql("CALL g143.system.register_mview('base', 'base_by_grp')").collect()
      s.sql("UPDATE g143.base SET v = v + 10.0 WHERE event_id < 100")
      s.sql("INSERT INTO g143.base SELECT event_id, user_id + 100000, " +
        "CAST(value AS DECIMAL(18,4)) FROM ev143 " +
        "WHERE event_id >= 400 AND event_id < 500")
      s.sql("CALL g143.system.maintain_mview('base', 'base_by_grp')").collect()
      val agg = s.sql(
        "SELECT grp, sum(v) AS sum_v_dec, count(*) AS cnt FROM g143.base GROUP BY grp")
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scanned.nonEmpty && scanned.forall(_.contains("base_by_grp")),
        s"SQL mv lifecycle: rewrite did not fire, scans $scanned")
      graft.plans.MvRegistry.dropRoot(
        root.resolve("base").toAbsolutePath.toString)
      agg.select(col("grp"), col("sum_v_dec").cast("double").as("sum_v"), col("cnt"))
        .orderBy(col("grp"))
    },

    // ---- vacuum + manifest-prune lifecycle (round 13) --------------------
    // The full storage-GC story through SQL: three commits build history,
    // CALL optimize replaces them with one baseline, one more append lands
    // on top, CALL vacuum reclaims the replaced directories AND prunes the
    // manifest versions that referenced them (metadata stays O(live), not
    // O(commits ever) — in-code requires pin both). The gate then reads
    // BOTH the current state and VERSION AS OF the baseline txn: post-
    // vacuum sub-replace time travel resolves through the documented
    // latest-manifest-filter fallback, so the as-of half of the result is
    // exactly the post-optimize state — replayed relationally by the
    // oracle. ManifestPruneSpec/CheckpointSpec pin the mechanism.
    Entry("q147_vacuum_lifecycle", Some(
      """WITH base AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events GROUP BY user_id),
        |opt AS (SELECT user_id,
        |               CASE WHEN user_id % 3 = 0 THEN v * 2.0 ELSE v END AS v
        |        FROM base WHERE user_id >= 3),
        |cur AS (SELECT user_id,
        |               CASE WHEN user_id % 5 = 4 THEN -1.0 ELSE v END AS v,
        |               0 AS src
        |        FROM opt),
        |snap AS (SELECT user_id, v, 1 AS src FROM opt)
        |SELECT user_id, v, src FROM cur
        |UNION ALL SELECT user_id, v, src FROM snap
        |ORDER BY src, user_id""".stripMargin)) { (s, d) =>
      val root = Q.fixture("q147-vacuum")
      graft.core.Storage.deleteRecursively(root.resolve("t"))
      java.nio.file.Files.createDirectories(root)
      if (s.conf.getOption("spark.sql.catalog.g147").isEmpty) {
        s.conf.set("spark.sql.catalog.g147", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.g147.root", root.toString)
      }
      table(s, d, "events").createOrReplaceTempView("events")
      s.sql("CREATE TABLE g147.t (user_id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES('graft.dims' = 'user_id:1000')")
      s.sql("""INSERT INTO g147.t
              |SELECT user_id, max_by(value, event_id)
              |FROM events GROUP BY user_id""".stripMargin)              // txn 1
      s.sql("""INSERT INTO g147.t
              |SELECT user_id, max_by(value, event_id) * 2.0
              |FROM events WHERE user_id % 3 = 0 GROUP BY user_id""".stripMargin) // txn 2
      s.sql("DELETE FROM g147.t WHERE user_id < 3")                      // txn 3
      s.sql("CALL g147.system.optimize('t')").collect()                  // baseline
      val baseTxn = s.sql("SELECT max(txn_id) FROM g147.t.history")
        .head.getLong(0)
      s.sql("""INSERT INTO g147.t
              |SELECT user_id, -1.0 FROM events
              |WHERE user_id % 5 = 4 AND user_id >= 3
              |GROUP BY user_id""".stripMargin)                          // on top
      val removed = s.sql("CALL g147.system.vacuum('t')").head.getInt(0)
      require(removed > 0, s"vacuum must reclaim the replaced history")
      val versions = graft.core.Storage.listDir(root.resolve("t/_log"))
        .count(_.getFileName.toString.matches("[0-9a-f]{8}\\.json"))
      require(versions <= 2,
        s"manifest prune must leave O(live) versions, found $versions")
      val cur = s.sql("SELECT user_id, v FROM g147.t")
        .withColumn("src", lit(0))
      val asof = s.sql(s"SELECT user_id, v FROM g147.t VERSION AS OF $baseTxn")
        .withColumn("src", lit(1))
      cur.unionByName(asof).orderBy(col("src"), col("user_id"))
    },

    // ---- MV rewrite under TIME TRAVEL (plans.MvRewriteRule, round 14) ----
    // q141's rewrite extended to VERSION AS OF: maintenance commits are
    // PINNED to base txn ids, so a view version ending exactly at the
    // snapshot's txn answers the HISTORICAL aggregate (view.asOf(t) is the
    // aggregate of base.asOf(t) verbatim). Scenario: txn 1 maintained
    // alone, txns 2+3 maintained as ONE range, txn 4 maintained — the view
    // has pinned versions at 1, 3, 4. The gate queries asOf(3) (aligned:
    // MUST rewrite, plan-asserted view-only scan — and must answer the
    // txn-3 state, not the current one) and asOf(2) (mid-batch: MUST fall
    // back to base files, same oracle replay). Both states recomputed
    // relationally by the oracle, hash-exact.
    Entry("q149_mv_rewrite_asof", Some(
      """WITH b AS (SELECT event_id, user_id, value FROM events WHERE event_id < 500),
        |s2 AS (SELECT user_id AS grp,
        |              CASE WHEN event_id < 100
        |                   THEN CAST(value + 3.0 AS DECIMAL(18,4))
        |                   ELSE CAST(value AS DECIMAL(18,4)) END AS v,
        |              event_id
        |       FROM b),
        |v3 AS (SELECT 3 AS as_of, grp, CAST(sum(v) AS DOUBLE) AS sum_v,
        |              count(*) AS cnt
        |       FROM s2 WHERE NOT (event_id >= 200 AND event_id < 250)
        |       GROUP BY grp),
        |v2 AS (SELECT 2 AS as_of, grp, CAST(sum(v) AS DOUBLE) AS sum_v,
        |              count(*) AS cnt
        |       FROM s2 GROUP BY grp)
        |SELECT as_of, grp, sum_v, cnt
        |FROM (SELECT * FROM v3 UNION ALL SELECT * FROM v2)
        |ORDER BY as_of, grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      import org.apache.spark.sql.types.{DecimalType, LongType}
      val root = Q.fixture("q149-mvasof")
      graft.core.Storage.deleteRecursively(root)
      val dec = DecimalType(18, 4)
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp", LongType), ValueCol("v", dec))),
        root.resolve("base").toString)
      val view = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_v", dec), ValueCol("cnt", LongType))),
        root.resolve("view").toString)
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 500).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value")).as("v")))
      t1.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 0L, 1L, "grp")
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 100).select(col("event_id"),
        col("user_id").as("grp"), Q.dec4(col("value") + lit(3.0)).as("v")))
      t2.commit()
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(200, 249)).select(col("event_id")))
      t3.commit()
      // txns 2+3 folded as ONE range: the view has NO pinned version at 2
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 1L, 3L, "grp")
      val t4 = base.newTransaction()
      t4.addRows(e.where(col("event_id").between(500, 599)).select(col("event_id"),
        (col("user_id") + lit(70000L)).as("grp"), Q.dec4(col("value")).as("v")))
      t4.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 3L, 4L, "grp")
      base.registerMaterializedView(root.resolve("view").toString)
      def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
      def agg(df: org.apache.spark.sql.DataFrame, tag: Int) =
        df.groupBy("grp").agg(sum("v").as("sum_v_dec"), count(lit(1)).as("cnt"))
          .select(lit(tag).as("as_of"), col("grp"),
            col("sum_v_dec").cast("double").as("sum_v"), col("cnt"))
      val a3 = agg(base.asOf(3L), 3)
      val s3 = scansOf(a3)
      require(s3.nonEmpty && s3.forall(_.contains("/view/")),
        s"asOf(3) is view-aligned and must rewrite; scans $s3")
      val a2 = agg(base.asOf(2L), 2)
      require(scansOf(a2).exists(_.contains("/base/")),
        s"asOf(2) is mid-batch and must fall back to the base; scans ${scansOf(a2)}")
      graft.plans.MvRegistry.dropRoot(base.root.toAbsolutePath.toString)
      a3.unionByName(a2).orderBy(col("as_of"), col("grp"))
    },

    // ---- EXPRESSION-aggregate materialized view (round 14) ---------------
    // The rewrite closed over sum(a*b)-style aggregates: the view declares
    // a derived column (`graft.mview.expr.rev = 'v * (w + 1)'`), the
    // maintenance algebra retracts the expression's pre-image by
    // re-evaluating it over the renamed _old_ frame (a U that moves BOTH
    // inputs retracts the old product and applies the new one), and the
    // rule matches a query's sum over the semantically-equal expression —
    // commuted operand order included — answering it from the view
    // (plan-asserted). All-LONG arithmetic keeps the oracle hash-exact.
    Entry("q150_mv_rewrite_expr", Some(
      """WITH b AS (SELECT event_id, user_id FROM events WHERE event_id < 700),
        |s1 AS (SELECT event_id, user_id % 40 AS grp,
        |              CASE WHEN event_id < 150 THEN (user_id + 1) % 7
        |                   ELSE user_id % 7 END AS w,
        |              CASE WHEN event_id < 150 THEN user_id % 100 + 50
        |                   ELSE user_id % 100 + 1 END AS v
        |       FROM b),
        |fin AS (SELECT grp, w, v FROM s1
        |        WHERE NOT (event_id >= 300 AND event_id < 380))
        |SELECT grp, CAST(sum(v * (w + 1)) AS BIGINT) AS rev, count(*) AS cnt
        |FROM fin GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val root = Q.fixture("q150-mvexpr")
      graft.core.Storage.deleteRecursively(root)
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp"), ValueCol("w"), ValueCol("v"))),
        root.resolve("base").toString)
      val view = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("sum_rev"), ValueCol("cnt"))),
        root.resolve("view").toString)
      graft.core.Storage.writeProps(view.root,
        graft.core.Storage.readProps(view.root) +
          ("graft.mview.expr.rev" -> "v * (w + 1)"))
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 700).select(col("event_id"),
        (col("user_id") % 40).as("grp"), (col("user_id") % 7).as("w"),
        (col("user_id") % 100 + 1).as("v")))
      t1.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 0L, 1L, "grp")
      // the update moves BOTH expression inputs for event_id < 150
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 150).select(col("event_id"),
        (col("user_id") % 40).as("grp"), ((col("user_id") + 1) % 7).as("w"),
        (col("user_id") % 100 + 50).as("v")))
      t2.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 1L, 2L, "grp")
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(300, 379)).select(col("event_id")))
      t3.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 2L, 3L, "grp")
      base.registerMaterializedView(root.resolve("view").toString)
      // commuted operand order — canonicalization must still match
      val agg = base.snapshot().groupBy("grp")
        .agg(sum((col("w") + 1L) * col("v")).as("rev"), count(lit(1)).as("cnt"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scanned.nonEmpty && scanned.forall(_.contains("/view/")),
        s"expression mv-rewrite did not fire: scans $scanned")
      graft.plans.MvRegistry.dropRoot(base.root.toAbsolutePath.toString)
      agg.select(col("grp"), col("rev"), col("cnt")).orderBy(col("grp"))
    },

    // ---- CDC across a REPLACE commit (the changesBetween guard) --------
    // A TRUNCATE inside the range wipes keys WITHOUT touching any range
    // segment (it is segment-less — its removals are manifest-shaped), so
    // the O(delta) touched-keys path can never see them: pre-round-15 the
    // feed silently emitted no D rows and a replica diverged. The guard
    // detects the replace from one backward manifest-metadata walk and
    // falls back to the exact two-snapshot diff (pre-replace state stays
    // readable until vacuum), so the feed still carries every D row, U
    // for wiped-then-reinserted keys, and stays silent on equal values.
    // The oracle replays the truncate+reinsert lifecycle relationally.
    Entry("q151_cdc_replace", Some(
      """WITH seed AS (SELECT user_id, arg_max(value, event_id) AS v
        |              FROM events WHERE user_id < 60 GROUP BY user_id),
        |ch AS (
        |  SELECT 'U' AS op, user_id, CAST(-5.0 AS DOUBLE) AS v
        |  FROM seed WHERE user_id BETWEEN 20 AND 39
        |  UNION ALL
        |  SELECT 'I', 100001, CAST(8.0 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'D', user_id, CAST(NULL AS DOUBLE)
        |  FROM seed WHERE user_id < 20 OR user_id >= 40)
        |SELECT op, CAST(user_id AS BIGINT) AS user_id, v FROM ch
        |ORDER BY user_id, op""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val dir = Q.fixture("q151-cdc-replace")
      graft.core.Storage.deleteRecursively(dir)
      val sch = MatSchema(Seq(Dimension("user_id", 1000)),
        Seq(ValueCol("v", org.apache.spark.sql.types.DoubleType)))
      val db = MatDb.create(s, sch, dir.toString)
      val seed = table(s, d, "events").where(col("user_id") < 60)
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      val t1 = db.newTransaction(); t1.addRows(seed); t1.commit()
      db.overwrite(seed.limit(0)) // txn 2: TRUNCATE (segment-less replace)
      val t3 = db.newTransaction()
      t3.addRows(seed.where(col("user_id").between(20, 39))
        .withColumn("v", lit(-5.0)))
      t3.addRows(s.range(1).select(lit(100001L).as("user_id"), lit(8.0).as("v")))
      t3.commit()
      db.changesBetween(1L, 3L).orderBy(col("user_id"), col("op"))
    },

    // ---- maintained count(col) + count(DISTINCT) with MV rewrite -------
    // A helper view keyed by (grp, u) maintains `cnt_w` (non-null count of
    // a NULLABLE column — SQL count(w), which count(*) cannot stand in
    // for) and `cnt`. One view then answers THREE aggregate shapes at the
    // coarser GROUP BY grp: count(w) = sum of per-cell cnt_w, count(*) =
    // sum of per-cell cnt, and count(DISTINCT u) = a plain COUNT of view
    // rows (one live row per (grp, u) combination; emptied cells are
    // deleted by maintenance). Plan-asserted view-only read; the oracle
    // recomputes the post-churn state relationally.
    Entry("q152_mview_count_distinct", Some(
      """WITH b AS (SELECT event_id, user_id FROM events WHERE event_id < 700),
        |s1 AS (SELECT event_id, user_id % 8 AS grp,
        |              CASE WHEN event_id < 150 THEN (user_id + 1) % 7
        |                   ELSE user_id % 7 END AS u,
        |              CASE WHEN event_id < 150 THEN
        |                     (CASE WHEN user_id % 3 = 0 THEN NULL
        |                           ELSE user_id % 100 + 9 END)
        |                   ELSE (CASE WHEN user_id % 4 = 0 THEN NULL
        |                              ELSE user_id % 100 END) END AS w
        |       FROM b),
        |fin AS (SELECT grp, u, w FROM s1
        |        WHERE NOT (event_id >= 300 AND event_id < 380))
        |SELECT grp, CAST(count(w) AS BIGINT) AS cw,
        |       CAST(count(DISTINCT u) AS BIGINT) AS du, count(*) AS cnt
        |FROM fin GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val root = Q.fixture("q152-mvcd")
      graft.core.Storage.deleteRecursively(root)
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp"), ValueCol("u"), ValueCol("w"))),
        root.resolve("base").toString)
      val view = MatDb.create(s, MatSchema(
        Seq(Dimension("grp", 1000), Dimension("u", 10)),
        Seq(ValueCol("cnt_w"), ValueCol("cnt"))),
        root.resolve("view").toString)
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 700).select(col("event_id"),
        (col("user_id") % 8).as("grp"), (col("user_id") % 7).as("u"),
        when(col("user_id") % 4 === 0, lit(null).cast("long"))
          .otherwise(col("user_id") % 100).as("w")))
      t1.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(
        base, view, 0L, 1L, Seq("grp", "u"))
      // the update MOVES u (cells empty and appear) and flips w nullity
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 150).select(col("event_id"),
        (col("user_id") % 8).as("grp"), ((col("user_id") + 1) % 7).as("u"),
        when(col("user_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(col("user_id") % 100 + 9).as("w")))
      t2.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(
        base, view, 1L, 2L, Seq("grp", "u"))
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(300, 379)).select(col("event_id")))
      t3.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMultiKeys(
        base, view, 2L, 3L, Seq("grp", "u"))
      base.registerMaterializedView(root.resolve("view").toString)
      val agg = base.snapshot().groupBy("grp")
        .agg(count(col("w")).as("cw"), count_distinct(col("u")).as("du"),
          count(lit(1)).as("cnt"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scanned.nonEmpty && scanned.forall(_.contains("/view/")),
        s"count(col)/count(distinct) mv-rewrite did not fire: scans $scanned")
      graft.plans.MvRegistry.dropRoot(base.root.toAbsolutePath.toString)
      agg.select(col("grp"), col("cw"), col("du"), col("cnt")).orderBy(col("grp"))
    },

    // ---- EXPRESSION min/max in a maintained view, with MV rewrite ------
    // q150's sibling: the same declared expression (`rev = v * (w + 1)`)
    // now also maintains `min_rev`/`max_rev`. The txn-2 churn RETIRES
    // extremes (v jumps by +49 for half the keys), driving the dirty-group
    // boundary test, which evaluates the declared expression over the
    // renamed pre-image frame — expression extrema are exactly as
    // incremental as column extrema. Plan-asserted view-only read.
    Entry("q153_mview_expr_extrema", Some(
      """WITH b AS (SELECT event_id, user_id FROM events WHERE event_id < 700),
        |s1 AS (SELECT event_id, user_id % 40 AS grp,
        |              CASE WHEN event_id < 150 THEN (user_id + 1) % 7
        |                   ELSE user_id % 7 END AS w,
        |              CASE WHEN event_id < 150 THEN user_id % 100 + 50
        |                   ELSE user_id % 100 + 1 END AS v
        |       FROM b),
        |fin AS (SELECT grp, w, v FROM s1
        |        WHERE NOT (event_id >= 300 AND event_id < 380))
        |SELECT grp, CAST(min(v * (w + 1)) AS BIGINT) AS mn,
        |       CAST(max(v * (w + 1)) AS BIGINT) AS mx,
        |       CAST(sum(v * (w + 1)) AS BIGINT) AS rev
        |FROM fin GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      import graft.core.{Dimension, MatDb, MatSchema, ValueCol}
      val root = Q.fixture("q153-mvxmm")
      graft.core.Storage.deleteRecursively(root)
      val base = MatDb.create(s, MatSchema(Seq(Dimension("event_id", 100)),
        Seq(ValueCol("grp"), ValueCol("w"), ValueCol("v"))),
        root.resolve("base").toString)
      val view = MatDb.create(s, MatSchema(Seq(Dimension("grp", 1000)),
        Seq(ValueCol("min_rev"), ValueCol("max_rev"),
          ValueCol("sum_rev"), ValueCol("cnt"))),
        root.resolve("view").toString)
      graft.core.Storage.writeProps(view.root,
        graft.core.Storage.readProps(view.root) +
          ("graft.mview.expr.rev" -> "v * (w + 1)"))
      val e = table(s, d, "events")
      val t1 = base.newTransaction()
      t1.addRows(e.where(col("event_id") < 700).select(col("event_id"),
        (col("user_id") % 40).as("grp"), (col("user_id") % 7).as("w"),
        (col("user_id") % 100 + 1).as("v")))
      t1.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 0L, 1L, "grp")
      val t2 = base.newTransaction()
      t2.addRows(e.where(col("event_id") < 150).select(col("event_id"),
        (col("user_id") % 40).as("grp"), ((col("user_id") + 1) % 7).as("w"),
        (col("user_id") % 100 + 50).as("v")))
      t2.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 1L, 2L, "grp")
      val t3 = base.newTransaction()
      t3.deleteRows(e.where(col("event_id").between(300, 379)).select(col("event_id")))
      t3.commit()
      graft.operators.IncrementalAgg.maintainAbsoluteMulti(base, view, 2L, 3L, "grp")
      base.registerMaterializedView(root.resolve("view").toString)
      val agg = base.snapshot().groupBy("grp")
        .agg(min(col("v") * (col("w") + 1L)).as("mn"),
          max(col("v") * (col("w") + 1L)).as("mx"),
          sum(col("v") * (col("w") + 1L)).as("rev"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(scanned.nonEmpty && scanned.forall(_.contains("/view/")),
        s"expression min/max mv-rewrite did not fire: scans $scanned")
      graft.plans.MvRegistry.dropRoot(base.root.toAbsolutePath.toString)
      agg.select(col("grp"), col("mn"), col("mx"), col("rev")).orderBy(col("grp"))
    }
  )
}
