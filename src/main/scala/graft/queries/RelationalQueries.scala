package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** §2.B scans / projection / predicates / joins.
  *
  * Scale notes: predicates and projections here are sargable and reach the
  * parquet scan (PushedFilters / ReadSchema — asserted in PlanSpec);
  * dimension joins broadcast (explicitly in `join_broadcast`, via AQE
  * elsewhere); the as-of join is a single shuffle on the partition key plus
  * a window — no range self-join blowup.
  */
object RelationalQueries {

  /** Per-process root for the CSV/JSON round-trip scratch dirs: a fixed
    * /tmp path raced when two verify/bench processes shared a fixture dir
    * (overwrite vs read of torn output). The pid is unique among live
    * processes and stable across calls within one.
    */
  private lazy val roundtripRoot: String = {
    val run = java.lang.ProcessHandle.current().pid()
    s"/tmp/graft-roundtrip-$run"
  }

  /** Fresh-per-call suffix for TxnLog tables (init refuses to reuse a
    * log dir, unlike the overwrite-mode roundtrip sinks).
    */
  private val txnSeq = new java.util.concurrent.atomic.AtomicLong(0)

  def all: Seq[Q] = Seq(
    Q("scan_parquet",
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem") { (s, d) =>
      Tables.table(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    },

    // Hidden metadata-column surface (r8i): Spark's `_metadata` struct
    // (file_name, row-level provenance) — the lineage every incremental /
    // audit pipeline keys on ("which FILE did this row come from") without
    // a UDF or an input_file_name() black box. The per-file census here
    // pins that metadata projection composes with normal aggregation; the
    // oracle states the invariant (one known file, all rows) arithmetically
    // since DuckDB has no Spark scan metadata. At 100 TB the file_name
    // census is the skew/compaction audit: it reads ONLY scan metadata, no
    // data columns (ReadSchema stays empty of table fields).
    Q("scan_file_census",
      """SELECT 'lineitem.parquet' AS file_name,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.table(s, d, "lineitem")
        .select(col("_metadata.file_name").as("file_name"))
        .groupBy("file_name")
        .agg(count(lit(1)).cast("long").as("n_rows"))
    },

    Q("scan_stats_collect",
      """WITH m AS (
        |  SELECT count(*) AS n,
        |         count(o_orderkey) AS c1, count(DISTINCT o_orderkey) AS d1,
        |         CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
        |         count(o_custkey) AS c2, count(DISTINCT o_custkey) AS d2,
        |         CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
        |         count(o_orderstatus) AS c3, count(DISTINCT o_orderstatus) AS d3,
        |         min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
        |         count(o_orderpriority) AS c4, count(DISTINCT o_orderpriority) AS d4,
        |         min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4
        |  FROM orders)
        |SELECT col_name, CAST(n AS BIGINT) AS n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
        |       CAST(ndv AS BIGINT) AS ndv, min_val, max_val
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, n, n - c1 AS n_nulls, d1 AS ndv, mn1 AS min_val, mx1 AS max_val FROM m
        |  UNION ALL SELECT 'o_custkey', n, n - c2, d2, mn2, mx2 FROM m
        |  UNION ALL SELECT 'o_orderstatus', n, n - c3, d3, mn3, mx3 FROM m
        |  UNION ALL SELECT 'o_orderpriority', n, n - c4, d4, mn4, mx4 FROM m)""".stripMargin) {
      (s, d) =>
        // ANALYZE-style statistics collection — the job that feeds a
        // cost-based optimizer and every data-contract dashboard: per
        // column, null count, exact NDV, min/max — in ONE aggregation
        // pass over the table (never a job per column), then a 4-row
        // unpivot (the quality_checks shape). At 100 TB the per-column
        // NDVs would ride HLL registers (agg_hll_sketch) in the same
        // single pass; min/max surface as strings so one report row
        // schema fits every column type.
        val o = Tables.cachedTable(s, d, "orders")
        val stats = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        val m = o.agg(
          count(lit(1)).as("n"),
          stats.flatMap { c =>
            Seq(count(col(c)).as(s"c_$c"), countDistinct(col(c)).as(s"d_$c"),
              min(col(c)).cast("string").as(s"mn_$c"),
              max(col(c)).cast("string").as(s"mx_$c"))
          }: _*)
        stats.map { c =>
          m.select(lit(c).as("col_name"), col("n").cast("long").as("n_rows"),
            (col("n") - col(s"c_$c")).cast("long").as("n_nulls"),
            col(s"d_$c").cast("long").as("ndv"),
            col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"))
        }.reduce(_ unionByName _)
    },

    Q("scan_events_ns",
      "SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events") { (s, d) =>
      Tables.events(s, d).select("event_id", "ts_us", "event_type")
    },

    Q("scan_csv_roundtrip",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders") { (s, d) =>
      // CSV source coverage via a lossless round-trip: write the orders
      // projection as CSV, read it back with an explicit schema, and
      // oracle against the PARQUET values — any formatting/parsing loss
      // fails the hash. Doubles survive because Java's Double.toString is
      // round-trip exact; date/timestamp columns are excluded (their text
      // forms are the lossy ones — parquet stays the canonical store).
      // Schema is explicit: CSV inference at 100 TB is a full extra scan.
      val src = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val path = s"$roundtripRoot/csv/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").schema(src.schema).csv(path)
    },

    // Transactional-table-format coverage (r8) — the lakehouse story the
    // format matrix (parquet/csv/json/orc/text) stopped short of, built
    // with ZERO connector jars: graft.sources.TxnLog is a Delta-style
    // commit log (JSON add/remove actions, atomic-rename commit gate,
    // snapshot isolation, time travel, copy-on-write overwrite, compaction
    // as a metadata swap). The query materializes orders as a TxnLog
    // table, APPENDS a closed-form delta as commit 1, then aggregates the
    // version-0 (time travel) and version-1 (latest) snapshots; the
    // oracle recomputes both snapshots from raw orders — a torn read,
    // wrong live-file set, or time-travel bug flips the hash. Exact
    // DECIMAL cents keep the sums engine-bit-equal. TxnLogSpec covers the
    // mechanics (atomicity, overwrite, compaction, concurrent-commit
    // loser, torn-log fail-fast) directly.
    Q("scan_txn_log",
      """WITH delta AS (
        |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |v1 AS (SELECT * FROM orders UNION ALL SELECT * FROM delta),
        |a0 AS (SELECT CAST(0 AS BIGINT) AS version, o_orderstatus,
        |              CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |                AS sum_cents
        |       FROM orders GROUP BY 2),
        |a1 AS (SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
        |              CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |                AS sum_cents
        |       FROM v1 GROUP BY 2)
        |SELECT * FROM a0 UNION ALL SELECT * FROM a1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/t${txnSeq.incrementAndGet()}"
      TxnLog.init(orders, table)
      val delta = orders
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .filter((col("o_orderkey") - 10000000L) % 89 === 0)
      TxnLog.append(delta, table)
      def snap(v: Long) = TxnLog.read(s, table, Some(v))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("o_totalprice").cast("decimal(27,2)")) * 100)
            .cast("long").as("sum_cents"))
        .select(lit(v).as("version"), col("o_orderstatus"),
          col("n_rows"), col("sum_cents"))
      snap(0).unionByName(snap(1))
    },

    // MERGE INTO over the TxnLog table (r8) — the Delta-style upsert with
    // DATA SKIPPING: the update batch (price bump on matched keys + brand
    //-new keys) rewrites ONLY live files whose [kmin, kmax] stats contain
    // an update key; every other file is neither read nor moved (pinned
    // file-granularly in TxnLogSpec). The oracle recomputes the merged
    // end state from raw orders — a dropped update, resurrected old row,
    // or lost untouched file flips the hash. At 100 TB this is the nightly
    // CDC apply: cost O(touched files), not O(table).
    Q("txn_merge",
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice * 1.1
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/m${txnSeq.incrementAndGet()}"
      TxnLog.initKeyed(orders, table, "o_orderkey")
      val updates = orders.filter(col("o_orderkey") % 31 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .unionByName(orders.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      TxnLog.merge(s, table, updates, "o_orderkey")
      TxnLog.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")
            .as("sum_price"))
    },

    // Merge-time CONSTRAINT enforcement (r9) — the governed-table write
    // gate: an update batch carries planted violations (negative price on
    // %13 keys, an out-of-domain status 'Z' on %17 keys); the merge
    // applies ONLY rows passing every declared CHECK and the violations
    // land in a quarantine census (constraint name × count + the post-
    // merge state proof). The oracle recomputes the valid subset and the
    // merged aggregate closed-form, so a gate that lets one bad row
    // through — or drops one good row — flips the hash. At 100 TB the
    // checks are per-row codegen'd predicates riding the merge's existing
    // scan; quarantine is a partitioned sink, not a second pass.
    Q("txn_constraint_check",
      """WITH upd AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 17 = 0 THEN 'Z' ELSE o_orderstatus END
        |           AS o_orderstatus,
        |         CASE WHEN o_orderkey % 13 = 0 THEN -o_totalprice
        |              ELSE o_totalprice * 1.1 END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |flags AS (
        |  SELECT *,
        |         CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END AS v_price,
        |         CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END
        |           AS v_status
        |  FROM upd),
        |merged AS (
        |  SELECT o.o_orderkey,
        |         coalesce(f.o_totalprice, o.o_totalprice) AS o_totalprice
        |  FROM orders o
        |  LEFT JOIN (SELECT * FROM flags WHERE v_price = 0 AND v_status = 0) f
        |    USING (o_orderkey))
        |SELECT 'price_non_negative' AS constraint_name,
        |       CAST(sum(v_price) AS BIGINT) AS n_violations,
        |       (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
        |        FROM merged) AS merged_sum_price
        |FROM flags
        |UNION ALL
        |SELECT 'status_in_domain',
        |       CAST(sum(v_status) AS BIGINT),
        |       (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
        |        FROM merged)
        |FROM flags""".stripMargin) { (s, d) =>
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val upd = orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 17 === 0, lit("Z"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 13 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice") * 1.1).as("o_totalprice"))
      val flags = upd
        .withColumn("v_price", when(col("o_totalprice") < 0, 1L).otherwise(0L))
        .withColumn("v_status",
          when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
      val valid = flags.filter(col("v_price") === 0 && col("v_status") === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("new_price"))
      val merged = orders.join(valid, Seq("o_orderkey"), "left")
        .select(coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"))
        .agg(sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")
          .as("merged_sum_price"))
      val census = flags.agg(
        sum("v_price").as("np"), sum("v_status").as("ns"))
      census.crossJoin(broadcast(merged))
        .selectExpr(
          """stack(2, 'price_non_negative', np,
            |         'status_in_domain', ns) AS (constraint_name, n_violations)"""
            .stripMargin,
          "merged_sum_price")
        .select(col("constraint_name"), col("n_violations").cast("long").as("n_violations"),
          col("merged_sum_price"))
    },

    // Referential-integrity census (r9) — the FK orphan audit a warehouse
    // runs nightly: child rows whose parent key no longer resolves (late
    // parent loads, botched backfills, hard deletes without cascade).
    // Orphans are PLANTED by closed-form key shifts (+9e8 puts them
    // provably outside the parent domain) on two FK edges; the census is
    // one LEFT ANTI join per edge — at 100 TB the parent KEY projection
    // broadcasts (keys only, never parent payloads) and the anti-join is
    // a per-task filter. A census that loses an orphan or flags a valid
    // row flips the hash.
    Q("quality_fk_orphans",
      """WITH li AS (
        |  SELECT CASE WHEN l_orderkey % 101 = 0 THEN l_orderkey + 900000000
        |              ELSE l_orderkey END AS fk
        |  FROM lineitem),
        |od AS (
        |  SELECT CASE WHEN o_orderkey % 103 = 0 THEN o_custkey + 900000000
        |              ELSE o_custkey END AS fk
        |  FROM orders),
        |e1 AS (SELECT count(*) AS n,
        |              sum(CASE WHEN NOT EXISTS
        |                    (SELECT 1 FROM orders o WHERE o.o_orderkey = li.fk)
        |                  THEN 1 ELSE 0 END) AS orphans
        |       FROM li),
        |e2 AS (SELECT count(*) AS n,
        |              sum(CASE WHEN NOT EXISTS
        |                    (SELECT 1 FROM customer c WHERE c.c_custkey = od.fk)
        |                  THEN 1 ELSE 0 END) AS orphans
        |       FROM od)
        |SELECT 'lineitem->orders' AS fk_edge, CAST(n AS BIGINT) AS n_child,
        |       CAST(orphans AS BIGINT) AS n_orphans,
        |       CAST(orphans * 1000000 // n AS BIGINT) AS orphan_ppm FROM e1
        |UNION ALL
        |SELECT 'orders->customer', CAST(n AS BIGINT), CAST(orphans AS BIGINT),
        |       CAST(orphans * 1000000 // n AS BIGINT) FROM e2""".stripMargin) {
      (s, d) =>
        def census(edge: String, child: org.apache.spark.sql.DataFrame,
                   parentKeys: org.apache.spark.sql.DataFrame) = {
          val n = child.count()
          val orphans = child
            .join(parentKeys, child("fk") === parentKeys("pk"), "left_anti")
            .count()
          val sess = child.sparkSession
          import sess.implicits._
          Seq((edge, n, orphans, orphans * 1000000L / n))
            .toDF("fk_edge", "n_child", "n_orphans", "orphan_ppm")
        }
        val li = Tables.cachedTable(s, d, "lineitem")
          .select(when(col("l_orderkey") % 101 === 0, col("l_orderkey") + 900000000L)
            .otherwise(col("l_orderkey")).as("fk"))
        val od = Tables.cachedTable(s, d, "orders")
          .select(when(col("o_orderkey") % 103 === 0, col("o_custkey") + 900000000L)
            .otherwise(col("o_custkey")).as("fk"))
        census("lineitem->orders", li,
          Tables.cachedTable(s, d, "orders").select(col("o_orderkey").as("pk")))
          .unionByName(census("orders->customer", od,
            Tables.cachedTable(s, d, "customer").select(col("c_custkey").as("pk"))))
    },

    // TPC-H Q3-shaped analytic chain (r9) — the canonical big⋈big⋈dim
    // revenue query: customer segment filter (dim, broadcast) → orders
    // date filter (pushed to the scan) → lineitem ship-date filter →
    // revenue agg → top-10. The declared surface already gates each piece
    // in isolation; this key gates the COMPOSITION Catalyst must plan
    // well: both big joins shuffle on their keys once, filters reach the
    // scans, top-k is TakeOrderedAndProject. Revenue sums per-term
    // DECIMAL(27,6)-quantized (exact, order-free), so the DESC ranking
    // and the tie-break on l_orderkey are decided on exact decimals.
    Q("sql_analytic_q3",
      """SELECT l.l_orderkey, o.o_orderdate,
        |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                  AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2
        |ORDER BY sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |              AS DECIMAL(27,6))) DESC, l.l_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(27, 6)
      val c = Tables.cachedTable(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.cachedTable(s, d, "orders")
        .filter(expr("o_orderdate < TIMESTAMP_NTZ '1998-06-01 00:00:00'"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables.cachedTable(s, d, "lineitem")
        .filter(expr("l_shipdate > TIMESTAMP_NTZ '1998-06-01 00:00:00'"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec))
          .as("rev_d"))
        .orderBy(col("rev_d").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"),
          col("rev_d").cast("double").as("revenue"))
    },

    // RESTORE after a bad write (r8g): the undo story every governed
    // table needs — v1 is a corrupted overwrite (a bad deploy doubling
    // every price), restore(0) publishes v2 that re-adds v0's file set as
    // METADATA ONLY (no data bytes move; the files never left disk), and
    // the bad version stays auditable in history rather than being
    // rewound away. In-query requires pin all three: restored read ==
    // v0's rows (the oracle), the bad snapshot still readable at v1, and
    // the history trail init→overwrite→restore. At 100 TB: recovery time
    // is one KB commit, independent of table size.
    Q("txn_restore",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey <= 2000 GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") <= 2000)
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/rs${txnSeq.incrementAndGet()}"
      TxnLog.init(orders, table)
      TxnLog.overwrite(
        orders.withColumn("o_totalprice", col("o_totalprice") * 2), table)
      TxnLog.restore(table, 0L)
      require(TxnLog.history(table).map(_.op) == Seq("init", "overwrite", "restore"),
        "restore must be an audited commit, not a log rewind")
      val bad = TxnLog.read(s, table, asOf = Some(1L))
        .agg(sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")).head().getDouble(0)
      val good = TxnLog.read(s, table)
        .agg(sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")).head().getDouble(0)
      require(bad == good * 2, "the bad version must stay readable at v1")
      TxnLog.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")
            .as("sum_price"))
    },

    // Merge-on-read DELETE (r8g): the deletion-vector pattern — txn_merge
    // rewrites whole files to change rows (copy-on-write); a retention/
    // GDPR-erasure job deleting 0.1% of a 100 TB table must NOT rewrite
    // 100 TB. deleteWhere commits a KB-sized tombstone parquet of deleted
    // keys; read() subtracts it with a BROADCAST anti-join (map-side, no
    // shuffle), time travel below the delete still sees the rows, and
    // compact() materializes the tombstones away in its atomic swap. The
    // in-query requires walk the whole lifecycle: dv live after delete,
    // pre-delete snapshot unchanged, dv gone after compact with an
    // identical read — so a broken subtraction or a compaction that
    // resurrects deleted rows fails the gate, not just a spec.
    Q("txn_delete_mor",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey <= 3000 AND o_orderkey % 5 <> 0
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") <= 3000)
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/dv${txnSeq.incrementAndGet()}"
      TxnLog.init(orders.repartition(4), table)
      val preCount = TxnLog.read(s, table).count()
      TxnLog.deleteWhere(s, table,
        orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
        "o_orderkey")
      require(TxnLog.liveDeleteVectors(table).nonEmpty,
        "delete must commit a live deletion vector")
      require(TxnLog.read(s, table, asOf = Some(0L)).count() == preCount,
        "time travel below the delete must still see the rows")
      val morCount = TxnLog.read(s, table).count()
      TxnLog.compact(s, table, numFiles = 1)
      require(TxnLog.liveDeleteVectors(table).isEmpty,
        "compaction must materialize the tombstones away")
      require(TxnLog.read(s, table).count() == morCount,
        "compaction must not change the visible row set")
      TxnLog.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")
            .as("sum_price"))
    },

    // Small-file compaction as a TRANSACTION (r8g): maintenance_compact
    // plans the rewrite; this executes it inside the commit log — one
    // atomic commit swaps the 8 append-era files for 1 compacted file, so
    // concurrent readers see either the old layout or the new one, never
    // a half-rewritten directory (the Delta/Iceberg OPTIMIZE contract).
    // The read back is byte-for-byte the same data (the oracle is the
    // plain aggregate over raw orders) and the history audit must show
    // the swap: op=compact, 1 added, 8 removed, 1 live after — asserted
    // inline so a silent no-op compaction fails the run, and time travel
    // to the pre-compact version still serves the old files (vacuum is
    // the only thing that deletes bytes).
    Q("txn_compact",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey <= 2000 GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/c${txnSeq.incrementAndGet()}"
      TxnLog.init(orders.filter(col("o_orderkey") <= 1000).repartition(4), table)
      TxnLog.append(
        orders.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000)
          .repartition(4), table)
      val before = TxnLog.liveFiles(table).size
      TxnLog.compact(s, table, numFiles = 1)
      val after = TxnLog.liveFiles(table).size
      require(before == 8 && after == 1,
        s"compaction must swap 8 small files for 1 (got $before -> $after)")
      val h = TxnLog.history(table).maxBy(_.version)
      require(h.op == "compact" && h.nAdd == 1 && h.nRemove == 8,
        s"history must audit the swap, got $h")
      TxnLog.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(27,6)")).cast("double")
            .as("sum_price"))
    },

    // Data-skipping READ over the TxnLog table (r8): the key-range query
    // prunes files from the commit log's per-file stats BEFORE Spark ever
    // lists them — KB driver metadata vs footer-checking every file (how
    // Delta serves point lookups on 100 TB tables). Table is
    // range-partitioned on the key at write time so the skip actually
    // bites (TxnLogSpec pins 3-of-4 files skipped); the residual filter
    // inside surviving files keeps results exact, and the oracle is the
    // plain filtered aggregate over raw orders.
    Q("txn_skip_scan",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 9000
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/s${txnSeq.incrementAndGet()}"
      TxnLog.initKeyed(orders.repartitionByRange(4, col("o_orderkey")),
        table, "o_orderkey")
      val (df, _) = TxnLog.readRange(s, table, "o_orderkey", 1000L, 9000L)
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
    },

    // Time-travel CHANGE FEED (r8): diff two VERSIONS of the same
    // transactional table — the Delta CDF story married to the diff core
    // (this library's raison d'être): "what did last night's merge do to
    // the table" answered without any separately-maintained changelog,
    // because the log's old snapshot is still readable. Version 0 is the
    // base, version 1 the post-merge state; Differ.diff over the two
    // time-travel reads emits the keyed N/C/I/D feed, and the oracle
    // derives the same statuses closed-form from the update rule. At
    // 100 TB both sides shuffle once on the key — and the diff could
    // further skip files whose stats match on both sides (the
    // bucket-digest incremental-diff machinery applies verbatim).
    Q("txn_diff_versions",
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 31 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |v1 AS (
        |  SELECT o_orderkey, o_totalprice FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT CASE WHEN b.o_orderkey IS NULL THEN 'I'
        |            WHEN n.o_orderkey IS NULL THEN 'D'
        |            WHEN b.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       b.o_totalprice AS left_o_totalprice,
        |       n.o_totalprice AS right_o_totalprice
        |FROM base b FULL OUTER JOIN v1 n USING (o_orderkey)""".stripMargin) {
      (s, d) =>
        import graft.sources.TxnLog
        import graft.operators.Differ
        val orders = Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_totalprice")
        val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"/d${txnSeq.incrementAndGet()}"
        TxnLog.initKeyed(orders, table, "o_orderkey")
        val updates = orders.filter(col("o_orderkey") % 31 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 1.1)
          .unionByName(orders.filter(col("o_orderkey") % 89 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        TxnLog.merge(s, table, updates, "o_orderkey")
        Differ.diff(
          TxnLog.read(s, table, Some(0)),
          TxnLog.read(s, table, Some(1)),
          Seq("o_orderkey"))
    },

    // DESCRIBE HISTORY over the TxnLog table (r8): the audit surface every
    // governed lakehouse table needs — per commit: operation tag, files
    // added/removed, live-file count after, snapshot row count. The first
    // four columns come from the commit-log HEADERS alone (KB of driver
    // JSON regardless of table size — no data file is opened); row counts
    // are per-version time-travel count jobs here, and at 100 TB would
    // ride row-count stats in the header the same way the key min/max
    // already do. Oracle is fully closed-form: the op sequence
    // (init 2 files → append 1 → overwrite 2-for-3 → compact 1-for-2) is
    // fixed by the query, so file counts are literals and row counts
    // recompute from raw orders — a wrong replay, op tag, or time-travel
    // read flips the hash.
    Q("txn_history",
      """WITH base AS (SELECT count(*) AS n FROM orders),
        |d89 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 89 = 0),
        |f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
        |f89 AS (SELECT count(*) AS n FROM orders
        |        WHERE o_orderkey % 89 = 0 AND o_orderstatus = 'F')
        |SELECT CAST(version AS BIGINT) AS version, op,
        |       CAST(n_add AS BIGINT) AS n_add,
        |       CAST(n_remove AS BIGINT) AS n_remove,
        |       CAST(n_live AS BIGINT) AS n_live,
        |       CAST(n_rows AS BIGINT) AS n_rows
        |FROM (VALUES
        |  (0, 'init',      2, 0, 2, (SELECT n FROM base)),
        |  (1, 'append',    1, 0, 3, (SELECT n FROM base) + (SELECT n FROM d89)),
        |  (2, 'overwrite', 2, 3, 2, (SELECT n FROM f) + (SELECT n FROM f89)),
        |  (3, 'compact',   1, 2, 1, (SELECT n FROM f) + (SELECT n FROM f89))
        |) AS t(version, op, n_add, n_remove, n_live, n_rows)""".stripMargin) {
      (s, d) =>
        import s.implicits._
        import graft.sources.TxnLog
        val orders = Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"/h${txnSeq.incrementAndGet()}"
        TxnLog.init(orders.repartition(2), table)
        val delta = orders.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        TxnLog.append(delta.repartition(1), table)
        TxnLog.overwrite(TxnLog.read(s, table, Some(1))
          .filter(col("o_orderstatus") === "F").repartition(2), table)
        TxnLog.compact(s, table, 1)
        val audit = TxnLog.history(table)
          .map(c => (c.version, c.op, c.nAdd.toLong, c.nRemove.toLong,
            c.nLiveAfter.toLong))
          .toDF("version", "op", "n_add", "n_remove", "n_live")
        val counts = (0L to 3L).map(v =>
          TxnLog.read(s, table, Some(v))
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(v).as("version"), col("n_rows")))
          .reduce(_ unionByName _)
        audit.join(counts, Seq("version"))
    },

    // VACUUM over the TxnLog table (r8): physically delete data bytes
    // referenced ONLY by versions older than the retention window, and
    // record the new time-travel floor. The safety contract is what the
    // oracle gates: every RETAINED snapshot must read byte-identically
    // after the vacuum (a file shared between an expired and a retained
    // version must survive — deletion is computed against the union of
    // retained live sets, never per-version). n_deleted is closed-form (4
    // = exactly v0's swapped-out files) and reads below the floor fail
    // fast with a precise error instead of a missing-file crash mid-scan
    // (TxnLogSpec). At 100 TB vacuum is the storage-cost lever: expired
    // copy-on-write generations are the dominant dead weight, and the
    // commit log itself (KB JSON, never deleted) stays the full audit
    // trail.
    Q("txn_vacuum",
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |v2 AS (
        |  SELECT * FROM v1
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |a1 AS (SELECT CAST(1 AS BIGINT) AS version,
        |              CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |                AS sum_cents
        |       FROM v1),
        |a2 AS (SELECT CAST(2 AS BIGINT) AS version,
        |              CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |                AS sum_cents
        |       FROM v2)
        |SELECT version, n_rows, sum_cents,
        |       CAST(4 AS BIGINT) AS n_deleted, CAST(1 AS BIGINT) AS floor_v
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)""".stripMargin) {
      (s, d) =>
        import graft.sources.TxnLog
        val orders = Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"/v${txnSeq.incrementAndGet()}"
        TxnLog.init(orders.repartition(4), table)
        TxnLog.overwrite(orders.filter(col("o_orderkey") % 2 === 0)
          .repartition(2), table)
        TxnLog.append(orders.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .repartition(1), table)
        val deleted = TxnLog.vacuum(table, retainVersions = 1)
        def snap(v: Long) = TxnLog.read(s, table, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            (sum(col("o_totalprice").cast("decimal(27,2)")) * 100)
              .cast("long").as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
        snap(1).unionByName(snap(2))
          .withColumn("n_deleted", lit(deleted.size.toLong))
          .withColumn("floor_v", lit(TxnLog.minVersion(table)))
    },

    // Additive SCHEMA EVOLUTION over the TxnLog table (r8b): a later
    // commit appends files carrying a column the base files never had;
    // the mergeSchema read surfaces the union schema with NULLs for
    // pre-evolution rows — Delta's additive column evolution without a
    // metastore, paid for only on the read that asks (the merged-footer
    // pass is per-file metadata, KBs — never a data scan). The oracle
    // rebuilds the evolved snapshot closed-form (base rows with NULL,
    // delta rows with values), so a dropped column, wrongly-defaulted
    // row, or misaligned union flips the hash.
    Q("txn_schema_evolution",
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
        |       CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100, 0)
        |            AS BIGINT) AS sum_cents
        |FROM v1 GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
      val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/e${txnSeq.incrementAndGet()}"
      TxnLog.init(orders.select("o_orderkey", "o_orderstatus"), table)
      TxnLog.append(orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .select("o_orderkey", "o_orderstatus", "o_totalprice"), table)
      TxnLog.read(s, table, mergeSchema = true)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_with_price"),
          coalesce(sum(col("o_totalprice").cast("decimal(27,2)")) * 100, lit(0))
            .cast("long").as("sum_cents"))
    },

    // Zero-copy CLONE of the TxnLog table (r8b): fork a table by
    // hard-linking its live files under a fresh commit log — no bytes
    // copied (forking 100 TB costs one KB commit + a directory of
    // links), yet the fork is fully independent: the query appends to
    // the CLONE and the oracle pins the SOURCE unchanged alongside the
    // diverged clone — shared-file mutation or cross-table interference
    // flips the hash. The experiment-fork/staging-copy story; per-file
    // key stats carry over so merge prunes on the clone too.
    Q("txn_clone",
      """WITH d97 AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS cents
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |base AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS cents
        |  FROM orders)
        |SELECT 'source' AS side, CAST(n AS BIGINT) AS n_rows,
        |       CAST(cents AS BIGINT) AS sum_cents FROM base
        |UNION ALL
        |SELECT 'clone', CAST(base.n + d97.n AS BIGINT),
        |       CAST(base.cents + d97.cents AS BIGINT)
        |FROM base, d97""".stripMargin) { (s, d) =>
      import graft.sources.TxnLog
      val orders = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val root = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val src = s"$root/c${txnSeq.incrementAndGet()}"
      val dst = s"$root/c${txnSeq.incrementAndGet()}"
      TxnLog.initKeyed(orders, src, "o_orderkey")
      TxnLog.clone(src, dst)
      TxnLog.append(orders.filter(col("o_orderkey") % 97 === 0), dst)
      def tally(side: String, table: String) =
        TxnLog.read(s, table)
          .agg(count(lit(1)).as("n_rows"),
            (sum(col("o_totalprice").cast("decimal(27,2)")) * 100)
              .cast("long").as("sum_cents"))
          .select(lit(side).as("side"), col("n_rows"), col("sum_cents"))
      tally("source", src).unionByName(tally("clone", dst))
    },

    // INCREMENTAL version diff over the TxnLog table (r8b): the change
    // feed between two versions computed by reading ONLY the files that
    // differ in the commit log (TxnLog.changedFiles — a set difference
    // over KB driver metadata). Copy-on-write guarantees every changed
    // row lives in a swapped file, so diffing (removed-files vs
    // added-files) and dropping the N rows (rows a rewrite carried over
    // unchanged) yields EXACTLY the global C/I/D set — the oracle derives
    // it closed-form from the update rule. At 100 TB this is the nightly
    // "what did the merge do" answered at O(changed files), not
    // O(table) — the full-snapshot diff (txn_diff_versions) exists for
    // when the log is absent.
    Q("txn_diff_incremental",
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 31 = 0 AND o_orderkey BETWEEN 2000 AND 6000
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |v1 AS (
        |  SELECT o_orderkey, o_totalprice FROM base
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd),
        |full_diff AS (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'I'
        |              WHEN n.o_orderkey IS NULL THEN 'D'
        |              WHEN b.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'C'
        |              ELSE 'N' END AS diff_status,
        |         coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         b.o_totalprice AS left_o_totalprice,
        |         n.o_totalprice AS right_o_totalprice
        |  FROM base b FULL OUTER JOIN v1 n USING (o_orderkey))
        |SELECT * FROM full_diff WHERE diff_status <> 'N'""".stripMargin) {
      (s, d) =>
        import graft.sources.TxnLog
        import graft.operators.Differ
        val orders = Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_totalprice")
        val table = s"$roundtripRoot/txnlog/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"/i${txnSeq.incrementAndGet()}"
        TxnLog.initKeyed(orders.repartitionByRange(4, col("o_orderkey")),
          table, "o_orderkey")
        val updates = orders
          .filter(col("o_orderkey") % 31 === 0 &&
            col("o_orderkey").between(2000, 6000))
          .withColumn("o_totalprice", col("o_totalprice") * 1.1)
          .unionByName(orders.filter(col("o_orderkey") % 89 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        TxnLog.merge(s, table, updates, "o_orderkey")
        val (onlyOld, onlyNew) = TxnLog.changedFiles(table, 0, 1)
        // an empty side is a legitimate change scope (pure append shows up
        // as onlyOld = ∅, pure delete as onlyNew = ∅) — diff against an
        // empty frame of the table's schema, yielding all-I / all-D. Each
        // side reads at its own version, with that version's deletion
        // vectors applied.
        def side(files: Seq[String], v: Long) =
          if (files.isEmpty) TxnLog.read(s, table).limit(0)
          else TxnLog.readFiles(s, table, files, Some(v))
        Differ.diff(side(onlyOld, 0), side(onlyNew, 1), Seq("o_orderkey"))
          .filter(col("diff_status") =!= "N")
    },

    // Hive-partitioned write + partition-PRUNED read (r8): the one scan
    // family member the matrix was missing. orders lands partitioned by
    // o_orderstatus; the status-filtered read must touch only its own
    // directory — at 100 TB partition pruning is list-time elimination
    // (never opens the other partitions' files), one level coarser than
    // the TxnLog stat skip and the parquet footer skip. PlanSpec pins the
    // plan carries the filter as a PartitionFilter with nothing left to
    // post-filter; the oracle recomputes from raw orders.
    Q("scan_partition_prune",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |         AS sum_cents
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val src = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = s"$roundtripRoot/partitioned/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.operators.Sinks.writePartitioned(src, path, Seq("o_orderstatus"))
      s.read.parquet(path)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("o_totalprice").cast("decimal(27,2)")) * 100)
            .cast("long").as("sum_cents"))
    },

    // Observation-API metrics (r8b): data-quality counters collected ON
    // the same pass as the consuming action — df.observe() attaches
    // aggregates to the plan and a listener delivers them when the job
    // finishes, so row count / null census / exact sums cost ZERO extra
    // scans (at 100 TB "count the rows you just wrote" as a second job
    // doubles the read bill; this is the production pattern for write-
    // path validation). The query consumes the observed frame with a
    // noop-format write (I/O-less full materialization) and returns the
    // delivered metrics as the result row; the oracle recomputes them
    // with a plain aggregate — a dropped row or miscounted metric flips
    // the hash.
    Q("scan_observe_metrics",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) - count(l_quantity) AS BIGINT) AS n_null_qty,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS qty_cents
        |FROM lineitem""".stripMargin) { (s, d) =>
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      Tables.cachedTable(s, d, "lineitem")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("l_quantity"))).as("n_null_qty"),
          (sum(col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("long").as("qty_cents"))
        .write.mode("overwrite").format("noop").save()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long], m("n_null_qty").asInstanceOf[Long],
        m("qty_cents").asInstanceOf[Long]))
        .toDF("n_rows", "n_null_qty", "qty_cents")
    },

    // ZSTD parquet codec round-trip (r8b): at 100 TB the compression
    // codec is a first-order cost lever — zstd typically lands ~1.3-1.8×
    // smaller than snappy at similar scan speed, which is petabytes of
    // storage and scan I/O at fleet scale. The round-trip re-reads what
    // zstd wrote and oracles against the ORIGINAL parquet values, so a
    // codec mis-negotiation or lossy surprise flips the hash; the query
    // also reports the measured on-disk byte sizes of both codecs so the
    // win is observable, not asserted (sizes are NOT in the oracle —
    // they vary with row grouping — only their ordering is).
    Q("scan_parquet_zstd",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders""".stripMargin) { (s, d) =>
      val src = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val base = s"$roundtripRoot/zstd/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$base/zstd")
      src.write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$base/snappy")
      def bytes(p: String): Long = {
        var total = 0L
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(p))
        try st.forEach { f =>
          if (f.toString.endsWith(".parquet")) total += java.nio.file.Files.size(f)
        } finally st.close()
        total
      }
      val (zs, sn) = (bytes(s"$base/zstd"), bytes(s"$base/snappy"))
      require(zs > 0 && zs < sn,
        s"zstd ($zs B) should beat snappy ($sn B) on this table")
      s.read.parquet(s"$base/zstd")
    },

    // Parquet BLOOM FILTERS on write (r8g): min/max row-group stats prune
    // range predicates but are useless for point lookups on high-
    // cardinality UNSORTED keys (every row group spans most of the key
    // domain) — the per-column bloom filter is the format's answer, and
    // at 100 TB it's the difference between "read every row group of a
    // fact table to find one part" and "skip all but the groups that
    // might contain it" (no false negatives — the scan stays lossless).
    // The write carries parquet.bloom.filter.enabled#l_partkey; the read
    // back applies the point predicate, which must still reach the scan
    // as a PushedFilter (bloom consumption happens inside the parquet
    // reader under it). IngestSpec opens the footer with ParquetFileReader
    // and asserts the bloom offset is really present for the column.
    Q("scan_parquet_bloom",
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_partkey IN (7, 57, 107)""".stripMargin) { (s, d) =>
      val base = s"$roundtripRoot/bloomscan/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Tables.cachedTable(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "200000")
        // parquet-mr skips the bloom when a chunk stays fully dictionary-
        // encoded (the dictionary is already an exact membership filter) —
        // true of the toy-SF key domain but not of a 100 TB one, so turn
        // dictionary off for THIS column to exercise the real bloom path
        .option("parquet.enable.dictionary#l_partkey", "false")
        .parquet(base)
      // point lookups (=, IN) are what blooms accelerate; range/arith
      // predicates fall back to stats-only pruning
      s.read.parquet(base).filter(col("l_partkey").isin(7, 57, 107))
    },

    // Gzip CSV ingestion (r8g): the compressed-drop reality check — gzip
    // is NOT splittable, so each .csv.gz is exactly ONE task regardless
    // of size (the in-query require pins partitions == files, the scale
    // lesson this key exists to teach: a single 50 GB .gz serializes its
    // whole scan; land many medium files or recompress to a splittable
    // codec/parquet at the edge). Two files → two tasks here; content
    // round-trips exactly.
    Q("scan_csv_gzip",
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey <= 4000""".stripMargin) {
      (s, d) =>
        val base = s"$roundtripRoot/csvgz/${d.replaceAll("[^A-Za-z0-9]", "_")}"
        val src = Tables.cachedTable(s, d, "orders")
          .filter(col("o_orderkey") <= 4000)
          .select("o_orderkey", "o_orderstatus")
        src.coalesce(2).write.mode("overwrite")
          .option("compression", "gzip").option("header", "true").csv(base)
        val nFiles = java.nio.file.Files.list(java.nio.file.Paths.get(base))
          .toArray.map(_.toString).count(_.endsWith(".csv.gz"))
        val back = s.read.option("header", "true")
          .schema("o_orderkey LONG, o_orderstatus STRING").csv(base)
        require(nFiles >= 1 && back.rdd.getNumPartitions == nFiles,
          s"gzip must plan one task per file ($nFiles files, " +
            s"${back.rdd.getNumPartitions} partitions)")
        back
    },

    // Path-pattern scans (r8g): recursiveFileLookup + pathGlobFilter — the
    // data-lake directory reality (date-nested dirs, mixed sidecar files)
    // read WITHOUT a manifest: the glob prunes at file-LISTING time, so
    // non-matching files are never opened (cheaper than any row filter),
    // and recursive lookup ignores the partition-directory convention on
    // purpose (raw dump dirs are not Hive layouts). Fixture: region rows
    // scattered across nested dirs with decoy .json sidecars beside them.
    Q("scan_glob_filter",
      """SELECT r_regionkey, r_name FROM region""".stripMargin) { (s, d) =>
      val base = java.nio.file.Paths.get(s"$roundtripRoot/globscan" +
        s"/${d.replaceAll("[^A-Za-z0-9]", "_")}")
      val r = Tables.cachedTable(s, d, "region").select("r_regionkey", "r_name")
      r.filter(col("r_regionkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$base/day=a/part0")
      r.filter(col("r_regionkey") % 2 === 1)
        .write.mode("overwrite").parquet(s"$base/day=b/deep/part1")
      // decoy sidecar the glob must never open (it would fail the parse)
      java.nio.file.Files.createDirectories(base)
      java.nio.file.Files.write(base.resolve("day=a").resolve("manifest.json"),
        "{\"not\":\"parquet\"}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base.toString)
        .select("r_regionkey", "r_name")
    },

    // binaryFile source (r8b): how 100 TB of images/audio actually ENTERS
    // Spark — whole files as (path, mtime, length, content) rows, no
    // parsing, lazy content materialization, partitioned by file. One
    // file per nation row with closed-form ASCII content; the query
    // re-derives the key from the file NAME and decodes the payload, so
    // a truncated read, path mangling, or charset slip flips the hash.
    // This is the front door of the MultimodalOps family (toMedia takes
    // exactly this shape).
    Q("scan_binary_files",
      """SELECT CAST(n_nationkey AS BIGINT) AS file_key,
        |       CAST(length(n_name || ':' || CAST(n_nationkey AS VARCHAR))
        |            AS BIGINT) AS n_bytes,
        |       n_name || ':' || CAST(n_nationkey AS VARCHAR) AS content_str
        |FROM nation""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Paths.get(s"$roundtripRoot/binfiles" +
        s"/${d.replaceAll("[^A-Za-z0-9]", "_")}")
      java.nio.file.Files.createDirectories(dir)
      Tables.cachedTable(s, d, "nation")
        .select("n_nationkey", "n_name").collect()  // 25 rows — fixture synthesis
        .foreach { r =>
          java.nio.file.Files.write(dir.resolve(s"${r.getInt(0)}.bin"),
            s"${r.getString(1)}:${r.getInt(0)}"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(dir.toString)
        .select(
          regexp_extract(col("path"), """(\d+)\.bin$""", 1)
            .cast("long").as("file_key"),
          col("length").cast("long").as("n_bytes"),
          col("content").cast("string").as("content_str"))
    },

    // DYNAMIC partition pruning as a first-class gated key (r8b; the plan
    // shape was PlanSpec-only until now): the statuses worth reading only
    // arrive at RUNTIME via a filtered dimension join, so the partitioned
    // fact scan must carry a dynamicpruningexpression subquery — list-time
    // directory elimination driven by the dim filter's result, the
    // mechanism that turns a 100 TB star-schema scan into reading two
    // directories. The dim is a REAL parquet source (a LocalRelation's
    // filter constant-folds away and the DPP rule never sees a predicate
    // — the PlanSpec-documented trap); oracle = the statically-filtered
    // aggregate, so a dropped or extra partition flips the hash.
    Q("join_partition_pruned",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |         AS sum_cents
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val factPath = s"$roundtripRoot/dpp/$tag/fact"
      val dimPath = s"$roundtripRoot/dpp/$tag/dim"
      graft.operators.Sinks.writePartitioned(
        Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        factPath, Seq("o_orderstatus"))
      Seq(("F", "keep"), ("O", "keep"), ("P", "drop"))
        .toDF("o_orderstatus", "tag")
        .write.mode("overwrite").parquet(dimPath)
      s.read.parquet(factPath)
        .join(s.read.parquet(dimPath).filter(col("tag") === "keep"),
          Seq("o_orderstatus"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("o_totalprice").cast("decimal(27,2)")) * 100)
            .cast("long").as("sum_cents"))
    },

    Q("scan_csv_malformed",
      "SELECT r_regionkey, r_name FROM region") { (s, d) =>
      // PERMISSIVE malformed-row handling — the ingestion-robustness
      // surface a real feed needs: a CSV carrying the region rows plus
      // two corrupt lines (wrong arity; unparseable int) is read with an
      // explicit schema + _corrupt_record column; corrupt rows are
      // quarantined (IS NOT NULL), clean rows pass through — the oracle
      // is the parquet region table itself, so any silently-dropped OR
      // silently-coerced row fails the compare. RelationalSpec pins that
      // exactly the 2 bad lines land in quarantine (the path is
      // exercised, not vacuous). At 100 TB quarantine is a partitioned
      // sink, not a filter — same plan shape, per-row cost only.
      // The parsed frame is cached (Tables.cached): Spark refuses raw-CSV
      // plans whose pruned scan references ONLY _corrupt_record — exactly
      // what a downstream count() leaves after column pruning. Reading
      // through the cache keeps every column in the parse (corrupt
      // detection fires per-column, see IngestSpec) and lifts the
      // restriction, which is the documented remedy.
      val parsed = Tables.cached(s, s"$d/csv-malformed-parsed") {
        val rows = Tables.cachedTable(s, d, "region")
          .select("r_regionkey", "r_name").collect()
          .map(r => s"${r.getInt(0)},${r.getString(1)}").sorted
        val path = java.nio.file.Paths.get(s"$roundtripRoot/csv-malformed" +
          s"/${d.replaceAll("[^A-Za-z0-9]", "_")}")
        java.nio.file.Files.createDirectories(path)
        java.nio.file.Files.write(path.resolve("part-0.csv"),
          (Seq("r_regionkey,r_name") ++ rows ++
            Seq("4,extra,columns,here", "notanint,MALFORMED")).mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType),
          StructField("_corrupt_record", StringType)))
        s.read.option("header", "true").option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(schema).csv(path.toString)
      }
      parsed.filter(col("_corrupt_record").isNull)
        .select(col("r_regionkey"), col("r_name"))
    },

    // Quoted-multiline CSV parse (r9) — the ingestion trap one tier above
    // malformed rows: a quoted field carrying an EMBEDDED NEWLINE is one
    // logical record over two physical lines, and Spark's default
    // line-splittable reader silently shreds it into two broken rows;
    // multiLine=true switches to the whole-file parser that handles it
    // (at the cost of per-file, not per-split, parallelism — the
    // documented trade at 100 TB: fix the producer or keep files small).
    // The writer quotes via a real CSV writer contract (quote char "),
    // the oracle is the closed-form reconstruction, and the artifact maps
    // the newline to '|' so it stays harness-sortable.
    Q("scan_csv_multiline",
      """SELECT r_regionkey, r_name || '|line2' AS r_name_joined FROM region"""
        .stripMargin) { (s, d) =>
      val parsed = Tables.cached(s, s"$d/csv-multiline-parsed") {
        val rows = Tables.cachedTable(s, d, "region")
          .select("r_regionkey", "r_name").collect()
          // Escape embedded quotes per the CSV quoting contract ("" inside a
          // quoted field) before interpolating — raw interpolation would
          // silently corrupt records for arbitrary strings.
          .map(r => s"""${r.getInt(0)},"${r.getString(1).replace("\"", "\"\"")}\nline2"""")
          .sorted
        val path = java.nio.file.Paths.get(s"$roundtripRoot/csv-multiline" +
          s"/${d.replaceAll("[^A-Za-z0-9]", "_")}")
        java.nio.file.Files.createDirectories(path)
        java.nio.file.Files.write(path.resolve("part-0.csv"),
          (Seq("r_regionkey,r_name") ++ rows).mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
        // escape=" completes the RFC-4180 contract the writer speaks:
        // Spark's csv default escape is backslash, so a doubled quote
        // ("") inside a quoted field would otherwise mis-parse — dormant
        // on the quote-free region fixture, caught by IngestSpec's
        // hostile-value round-trip.
        s.read.option("header", "true").option("multiLine", "true")
          .option("quote", "\"").option("escape", "\"")
          .schema(schema).csv(path.toString)
      }
      parsed.select(col("r_regionkey"),
        regexp_replace(col("r_name"), "\n", "\\|").as("r_name_joined"))
    },

    // The JSON twin of scan_csv_malformed (r8i) — the mechanics genuinely
    // differ: CSV corruption is arity/cast-level with the pruning
    // restriction documented above; JSON corruption is Jackson parse-level
    // (a truncated object, a type-mismatched field) and PERMISSIVE nulls
    // the data columns while capturing the raw line in _corrupt_record.
    // Same contract: clean rows hash-match the parquet region table
    // exactly (silent drops or coercions fail the compare), corrupt rows
    // quarantine; RelationalSpec pins exactly 2 quarantined lines.
    Q("scan_json_malformed",
      "SELECT r_regionkey, r_name FROM region") { (s, d) =>
      val parsed = Tables.cached(s, s"$d/json-malformed-parsed") {
        // Escape the string field properly (quotes, backslashes, control
        // chars): raw interpolation is safe for the uppercase region
        // fixture but would silently mint EXTRA corrupt records on any
        // table with arbitrary strings — the fixture writer must be the
        // pattern a user can copy.
        def jsonStr(v: String): String =
          "\"" + v.flatMap {
            case '"'  => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c    => c.toString
          } + "\""
        val rows = Tables.cachedTable(s, d, "region")
          .select("r_regionkey", "r_name").collect()
          .map(r => s"""{"r_regionkey": ${r.getInt(0)}, "r_name": ${jsonStr(r.getString(1))}}""")
          .sorted
        val path = java.nio.file.Paths.get(s"$roundtripRoot/json-malformed" +
          s"/${d.replaceAll("[^A-Za-z0-9]", "_")}")
        java.nio.file.Files.createDirectories(path)
        java.nio.file.Files.write(path.resolve("part-0.json"),
          (rows ++ Seq(
            """{"r_regionkey": 4, "r_name": """,            // truncated object
            """{"r_regionkey": "notanint", "r_name": "X"}""" // type mismatch
          )).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType),
          StructField("_corrupt_record", StringType)))
        s.read.option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(schema).json(path.toString)
      }
      parsed.filter(col("_corrupt_record").isNull)
        .select(col("r_regionkey"), col("r_name"))
    },

    Q("scan_json_roundtrip",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders") { (s, d) =>
      // JSON-lines source coverage, same lossless round-trip discipline as
      // scan_csv_roundtrip (explicit schema on read — no inference scan).
      val src = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val path = s"$roundtripRoot/json/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path)
    },

    Q("scan_orc_roundtrip",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders") { (s, d) =>
      // ORC source coverage, same lossless round-trip discipline as the
      // CSV/JSON twins (binary columnar format — no text-form loss at
      // all; the oracle still reads the PARQUET values, so any
      // write/read asymmetry fails the hash).
      val src = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val path = s"$roundtripRoot/orc/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.write.mode("overwrite").orc(path)
      s.read.schema(src.schema).orc(path)
    },

    Q("scan_xml_roundtrip",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders") { (s, d) =>
      // XML source coverage (built into spark-sql since Spark 4.0 —
      // SPARK-44265; no external package), same lossless round-trip
      // discipline as the CSV/JSON/ORC twins: write the orders projection
      // as <order> row elements, read back with an explicit schema +
      // rowTag, oracle against the PARQUET values. Doubles survive via
      // Java's round-trip-exact Double.toString; the one XML-specific
      // hazard the hash would catch is entity escaping (none of these
      // columns contain markup characters, and escaping is symmetric
      // anyway). Schema explicit: XML inference is a full extra scan, a
      // non-starter on a 100 TB feed-ingest directory.
      val src = Tables.cachedTable(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val path = s"$roundtripRoot/xml/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.write.mode("overwrite").option("rowTag", "order").format("xml").save(path)
      s.read.schema(src.schema).option("rowTag", "order").format("xml").load(path)
    },

    Q("scan_text_roundtrip",
      "SELECT doc_id, text FROM documents") { (s, d) =>
      // Plain-text source coverage (spark.read.text — the raw-corpus
      // ingest format every crawl pipeline starts from), same lossless
      // round-trip discipline: each line is "<doc_id>\t<text>" (the corpus
      // has no tabs/newlines), parsed back with one split at the FIRST
      // tab. Oracle reads the parquet values, so any escaping or
      // line-splitting loss fails the hash.
      val src = Tables.cachedTable(s, d, "documents").select("doc_id", "text")
      val path = s"$roundtripRoot/text/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
        .write.mode("overwrite").text(path)
      s.read.text(path).select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
    },

    Q("scan_merge_schema",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CASE WHEN o_orderkey % 2 <> 0 THEN o_orderstatus END AS o_orderstatus
        |FROM orders""".stripMargin) { (s, d) =>
      // Schema-evolution read — the shape every long-lived 100 TB dataset
      // ends up in: an old shard written BEFORE a column existed (here the
      // even keys, without o_orderstatus) sitting next to a new shard
      // written after (odd keys, with it). `mergeSchema=true` reconciles
      // the footers into the union schema and fills the missing column
      // with NULLs for old files — the oracle pins exactly that fill
      // semantics from the canonical parquet. At scale, schema merging
      // reads only footers (one metadata pass), and per-file projection
      // pushdown still applies — old files never materialize the column.
      val src = Tables.cachedTable(s, d, "orders")
      val base = s"$roundtripRoot/merge/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      src.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$base/v1")
      src.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    },

    Q("project_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'""".stripMargin) { (s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    Q("filter_null_semantics",
      """SELECT o_orderkey,
        |       nullif(o_orderstatus, 'O') AS st,
        |       nullif(o_orderstatus, 'O') IS NULL AS st_is_null,
        |       nullif(o_orderstatus, 'O') IS DISTINCT FROM 'F' AS st_not_f,
        |       coalesce(nullif(o_orderstatus, 'O'), 'none') AS st_filled
        |FROM orders""".stripMargin) { (s, d) =>
      Tables.table(s, d, "orders").selectExpr(
        "o_orderkey",
        "nullif(o_orderstatus, 'O') AS st",
        "nullif(o_orderstatus, 'O') IS NULL AS st_is_null",
        "nullif(o_orderstatus, 'O') IS DISTINCT FROM 'F' AS st_not_f",
        "coalesce(nullif(o_orderstatus, 'O'), 'none') AS st_filled")
    },

    Q("join_inner_hash",
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "orders")
        .join(Tables.cachedTable(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    },

    Q("join_skew_salted",
      """SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      // Salting is an execution detail: the oracle is the PLAIN join, so
      // the gate proves result-invariance of the k-way salt (hot keys
      // spread over k tasks, small side replicated k times).
      import graft.operators.SkewOps
      val li = Tables.cachedTable(s, d, "lineitem").select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "okey")
      val o = Tables.cachedTable(s, d, "orders").select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "okey")
      SkewOps.saltedJoin(li, o, Seq("okey"), salt = 8)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    },

    Q("join_outer_full",
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "customer")
        .join(Tables.cachedTable(s, d, "orders"), col("c_custkey") === col("o_custkey"), "full_outer")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    },

    Q("join_left_semi",
      """SELECT * FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "customer")
        .join(Tables.cachedTable(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
    },

    Q("join_left_anti",
      """SELECT * FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "customer")
        .join(Tables.cachedTable(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
    },

    Q("join_broadcast",
      """SELECT r_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin) { (s, d) =>
      // Dimension chain is broadcast explicitly: at 100 TB the fact table
      // never shuffles for this star join.
      val dims = Tables.cachedTable(s, d, "customer")
        .join(Tables.cachedTable(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.cachedTable(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "r_name")
      Tables.cachedTable(s, d, "orders")
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },

    Q("join_theta_range",
      """SELECT l_orderkey, l_linenumber, p_partkey, l_quantity, p_size
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | AND l_quantity BETWEEN p_size - 2 AND p_size + 2""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "lineitem")
        .join(
          Tables.cachedTable(s, d, "part"),
          col("l_partkey") === col("p_partkey") &&
            col("l_quantity").between(col("p_size") - 2, col("p_size") + 2))
        .select("l_orderkey", "l_linenumber", "p_partkey", "l_quantity", "p_size")
    },

    Q("join_range_bucketed",
      """SELECT a.event_id AS event_a, b.event_id AS event_b,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us,
        |       CAST(CASE WHEN a.user_id = b.user_id THEN 1 ELSE 0 END AS BIGINT)
        |         AS same_user
        |FROM events a JOIN events b
        |  ON epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= 1000000
        | AND (epoch_us(b.ts) > epoch_us(a.ts) OR a.event_id < b.event_id)""".stripMargin) {
      (s, d) =>
        // PURE range self-join — no equi key anywhere (join_theta_range has
        // one): every pair of events within 1 second of each other, the
        // coincidence/coordination detector (fraud rings, thundering
        // herds). Spark plans a bare range predicate as a nested-loop
        // cartesian, so the scalable form buckets time into window-width
        // slots: with |t_b − t_a| ≤ W and t_a ≤ t_b, bucket(b) is either
        // bucket(a) or bucket(a)+1 — the earlier side EXPLODES to those
        // two candidate buckets, the later side keeps its home bucket, and
        // the join is EQUI on the bucket (each qualifying pair meets in
        // exactly one bucket — the two candidates are distinct — so no
        // distinct pass). The oracle is deliberately the naive quadratic
        // formulation: matching it is the losslessness claim.
        //
        // 100 TB shape: one integer-key shuffle per side, per-bucket
        // fan-in bounded by the event rate per window (a hot second is a
        // salting/sub-bucketing problem, not a plan problem) — the
        // Flink-interval-join / bucketed-IEJoin pattern. Row order inside
        // the pair is time (ties by id), so `gap_us` is always ≥ 0 and
        // each unordered pair appears exactly once.
        graft.operators.CurateOps.rangePairs(
          Tables.events(s, d).select("event_id", "user_id", "ts_us"),
          windowUs = 1000000L, carry = Seq("user_id"))
          .select(col("event_id_a").as("event_a"), col("event_id_b").as("event_b"),
            col("gap_us"),
            (col("user_id_a") === col("user_id_b")).cast("long").as("same_user"))
    },

    // SPATIAL GRID JOIN (r8g) — the 2-D sibling of join_range_bucketed's
    // 1-D time bucketing, and the core pattern of every distributed
    // geospatial engine (Sedona/GeoSpark partitioning): "all customers
    // within radius R of each supplier" is a bare distance predicate that
    // Spark would plan as a nested-loop cartesian, so space is cut into
    // R×R grid cells, one side REPLICATES to its 3×3 neighbor cells
    // (bounded 9× — the small side), the other keeps its home cell, and
    // the join becomes EQUI on the cell id. Each qualifying pair meets in
    // exactly ONE cell (the point side's home cell — the 9 candidate
    // cells of a supplier are distinct), so no dedup pass. Coordinates
    // are synthesized as closed-form integers from the keys (the fixture
    // has no geo columns; both engines rebuild them identically), and
    // dist² stays exact BIGINT — no floating-point geometry anywhere.
    // The oracle is the naive quadratic cross-join form: matching it IS
    // the losslessness claim (a pair split across cells, a double-counted
    // pair, or an off-by-one at a cell boundary all flip the hash).
    // 100 TB: one integer-key shuffle per side; cell size = radius bounds
    // candidate density; a hot cell (urban skew) is a salting/AQE
    // problem, not a plan problem.
    Q("join_geo_grid",
      """WITH c AS (SELECT c_custkey,
        |                  (c_custkey * 7919) % 1000 AS cx,
        |                  (c_custkey * 104729) % 1000 AS cy
        |           FROM customer),
        |s AS (SELECT s_suppkey,
        |             (s_suppkey * 6101 + 13) % 1000 AS sx,
        |             (s_suppkey * 93911 + 57) % 1000 AS sy
        |      FROM supplier)
        |SELECT s_suppkey, c_custkey,
        |       CAST((sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) AS BIGINT)
        |         AS dist_sq
        |FROM s JOIN c
        |  ON (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) <= 2500""".stripMargin) {
      (s, d) =>
        val cust = Tables.cachedTable(s, d, "customer")
          .select(col("c_custkey"),
            (col("c_custkey") * 7919 % 1000).as("cx"),
            (col("c_custkey") * 104729 % 1000).as("cy"))
          .withColumn("cell", expr("(cx div 50) * 1000 + (cy div 50)"))
        val supp = Tables.cachedTable(s, d, "supplier")
          .select(col("s_suppkey"),
            (col("s_suppkey") * 6101 + 13).mod(1000).as("sx"),
            (col("s_suppkey") * 93911 + 57).mod(1000).as("sy"))
          .withColumn("cell", explode(expr(
            """flatten(transform(sequence(-1, 1), dx ->
              |  transform(sequence(-1, 1), dy ->
              |    (sx div 50 + dx) * 1000 + (sy div 50 + dy))))""".stripMargin)))
        supp.join(cust, "cell")
          .filter((col("sx") - col("cx")) * (col("sx") - col("cx")) +
            (col("sy") - col("cy")) * (col("sy") - col("cy")) <= 2500)
          .select(col("s_suppkey"), col("c_custkey"),
            ((col("sx") - col("cx")) * (col("sx") - col("cx")) +
              (col("sy") - col("cy")) * (col("sy") - col("cy")))
              .cast("long").as("dist_sq"))
    },

    // Nearest-neighbor SPATIAL join (r8g): join_geo_grid returns all pairs
    // within a radius; this returns THE nearest customer per supplier
    // (argmin), radius-bounded at 50 so the 3×3 neighbor-cell candidate
    // ring is provably complete (any point within 50 of a supplier lies in
    // an adjacent 50-cell — same losslessness as the grid join) and
    // suppliers with nobody in range surface explicitly with nearest NULL
    // instead of silently vanishing. The argmin is min_by over
    // (dist², custkey) — a total order, deterministic in both engines.
    Q("join_geo_nearest",
      """WITH c AS (SELECT c_custkey,
        |                  (c_custkey * 7919) % 1000 AS cx,
        |                  (c_custkey * 104729) % 1000 AS cy
        |           FROM customer),
        |s AS (SELECT s_suppkey,
        |             (s_suppkey * 6101 + 13) % 1000 AS sx,
        |             (s_suppkey * 93911 + 57) % 1000 AS sy
        |      FROM supplier),
        |p AS (SELECT s_suppkey, c_custkey,
        |             (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) AS d2
        |      FROM s JOIN c
        |        ON (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) <= 2500),
        |n AS (SELECT s_suppkey, c_custkey, d2,
        |             row_number() OVER (PARTITION BY s_suppkey
        |                                ORDER BY d2, c_custkey) AS rn
        |      FROM p)
        |SELECT s.s_suppkey, n.c_custkey AS nearest_cust,
        |       CAST(n.d2 AS BIGINT) AS dist_sq
        |FROM s LEFT JOIN (SELECT * FROM n WHERE rn = 1) n USING (s_suppkey)"""
        .stripMargin) { (s, d) =>
      val cust = Tables.cachedTable(s, d, "customer")
        .select(col("c_custkey"),
          (col("c_custkey") * 7919 % 1000).as("cx"),
          (col("c_custkey") * 104729 % 1000).as("cy"))
        .withColumn("cell", expr("(cx div 50) * 1000 + (cy div 50)"))
      val supp = Tables.cachedTable(s, d, "supplier")
        .select(col("s_suppkey"),
          (col("s_suppkey") * 6101 + 13).mod(1000).as("sx"),
          (col("s_suppkey") * 93911 + 57).mod(1000).as("sy"))
      val ringed = supp.withColumn("cell", explode(expr(
        """flatten(transform(sequence(-1, 1), dx ->
          |  transform(sequence(-1, 1), dy ->
          |    (sx div 50 + dx) * 1000 + (sy div 50 + dy))))""".stripMargin)))
      val nearest = ringed.join(cust, "cell")
        .select(col("s_suppkey"), col("c_custkey"),
          ((col("sx") - col("cx")) * (col("sx") - col("cx")) +
            (col("sy") - col("cy")) * (col("sy") - col("cy"))).as("d2"))
        .filter(col("d2") <= 2500)
        .groupBy("s_suppkey")
        .agg(expr("min_by(c_custkey, struct(d2, c_custkey))").as("nearest_cust"),
          min(struct(col("d2"), col("c_custkey"))).getField("d2")
            .cast("long").as("dist_sq"))
      supp.select("s_suppkey")
        .join(nearest, Seq("s_suppkey"), "left")
        .select("s_suppkey", "nearest_cust", "dist_sq")
    },

    // UNBOUNDED nearest-neighbor join via iterative RING EXPANSION (r9,
    // verdict ask #7) — join_geo_nearest's documented extension made real:
    // the radius-50 guarantee is gone (customers are thinned to %97, so a
    // supplier's true nearest is often several cells away) and each round
    // explodes only the NEW ring of cells (Chebyshev ∈ (prevR, r] for
    // r = 1,2,4,8,20), joins unresolved suppliers to customers in those
    // cells, and merges the round's argmin into a carried best-so-far
    // (least() over (d2, custkey) structs — lexicographic, the
    // deterministic tie-break). A supplier CONFIRMS when best_d2 ≤ (50r)²:
    // every unexplored point sits at Chebyshev cell-distance > r, hence
    // Euclidean > 50r, hence strictly farther — the losslessness argument,
    // proved by the NAIVE all-pairs oracle (house convention). 100 TB
    // shape: log-bounded rounds (Chebyshev 20 spans the whole grid), each
    // round one bucket equi-join sized by the UNRESOLVED set (which
    // shrinks geometrically in dense regions), lazy localCheckpoint per
    // round truncating the growing lineage — the graph_wcc discipline.
    Q("join_geo_knn",
      """WITH c AS (SELECT c_custkey,
        |                  (c_custkey * 7919) % 1000 AS cx,
        |                  (c_custkey * 104729) % 1000 AS cy
        |           FROM customer WHERE c_custkey % 97 = 0),
        |s AS (SELECT s_suppkey,
        |             (s_suppkey * 6101 + 13) % 1000 AS sx,
        |             (s_suppkey * 93911 + 57) % 1000 AS sy
        |      FROM supplier),
        |p AS (SELECT s_suppkey, c_custkey,
        |             (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) AS d2,
        |             row_number() OVER (PARTITION BY s_suppkey
        |                 ORDER BY (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy),
        |                          c_custkey) AS rn
        |      FROM s CROSS JOIN c)
        |SELECT s.s_suppkey, p.c_custkey AS nearest_cust,
        |       CAST(p.d2 AS BIGINT) AS dist_sq
        |FROM s LEFT JOIN (SELECT * FROM p WHERE rn = 1) p USING (s_suppkey)"""
        .stripMargin) { (s, d) =>
      val g = 50
      val cust = Tables.cachedTable(s, d, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"),
          (col("c_custkey") * 7919 % 1000).as("cx"),
          (col("c_custkey") * 104729 % 1000).as("cy"))
        .withColumn("cell", expr(s"(cx div $g) * 1000 + (cy div $g)"))
      val supp = Tables.cachedTable(s, d, "supplier")
        .select(col("s_suppkey"),
          (col("s_suppkey") * 6101 + 13).mod(1000).as("sx"),
          (col("s_suppkey") * 93911 + 57).mod(1000).as("sy"))
      val bestType = "struct<d2:bigint,c:bigint>"
      var state = supp.withColumn("best", lit(null).cast(bestType))
      val resolved = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      var prevR = -1L // round 1's ring must include Chebyshev 0 (own cell)
      var live = true // early exit: a drained unresolved set ends the loop
      for (r <- Seq(1L, 2L, 4L, 8L, 20L) if live) {
        // cells with Chebyshev distance in (prevR, r] — the new ring only
        val newCells = expr(
          s"""transform(
             |  filter(flatten(transform(sequence(-$r, $r), dx ->
             |    transform(sequence(-$r, $r), dy ->
             |      named_struct('dx', dx, 'dy', dy)))),
             |    p -> greatest(abs(p.dx), abs(p.dy)) > $prevR),
             |  p -> (sx div $g + p.dx) * 1000 + (sy div $g + p.dy))""".stripMargin)
        val roundBest = state
          .select(col("s_suppkey"), col("sx"), col("sy"), explode(newCells).as("cell"))
          .join(cust, "cell")
          .select(col("s_suppkey"), struct(
            ((col("sx") - col("cx")) * (col("sx") - col("cx")) +
              (col("sy") - col("cy")) * (col("sy") - col("cy"))).cast("long").as("d2"),
            col("c_custkey").cast("long").as("c")).as("nb"))
          .groupBy("s_suppkey").agg(min(col("nb")).as("nb"))
        // least() skips NULLs: carried best merges with the round's argmin
        val merged = state.join(roundBest, Seq("s_suppkey"), "left")
          .withColumn("best", least(col("best"), col("nb"))).drop("nb")
        val confirm = col("best").isNotNull &&
          col("best").getField("d2") <= lit(g * r) * lit(g * r)
        resolved += merged.filter(confirm).select("s_suppkey", "best")
        state = merged.filter(!confirm).localCheckpoint(false)
        prevR = r
        // isEmpty materializes the (lazy) checkpoint this round needed
        // anyway; when dense regions drain the unresolved set early, the
        // remaining rings' plan+job overhead is pure waste — skip them.
        live = !state.isEmpty
      }
      // Chebyshev 20 spans the entire 20×20 grid: whatever remains has
      // searched every cell — its best IS the answer (NULL = empty corpus).
      resolved += state.select("s_suppkey", "best")
      resolved.reduce(_ unionByName _)
        .select(col("s_suppkey"),
          col("best").getField("c").as("nearest_cust"),
          col("best").getField("d2").as("dist_sq"))
    },

    Q("join_asof",
      """SELECT event_id, user_id, ts_us, last_signup_us FROM (
        |  SELECT event_id, user_id, ts_us, event_type,
        |         last_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_us
        |  FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events))
        |WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      // As-of join expressed as a single keyed window pass (no native as-of
      // in Spark SQL; a range self-join would be quadratic in hot keys).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn(
          "last_signup_us",
          last(when(col("event_type") === "signup", col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "last_signup_us")
    },

    // FORWARD as-of (r9) — pandas merge_asof(direction='forward') / the
    // "next event after" join the backward family can't express: per
    // purchase, the NEXT error event's timestamp (the did-this-purchase-
    // precede-a-failure attribution question). Same single-window
    // discipline: first_value IGNORE NULLS over the FOLLOWING frame —
    // still one user-keyed exchange, no range self-join.
    Q("join_asof_forward",
      """SELECT event_id, user_id, ts_us, next_error_us FROM (
        |  SELECT event_id, user_id, ts_us, event_type,
        |         first_value(CASE WHEN event_type = 'error' THEN ts_us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_error_us
        |  FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events))
        |WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, d)
        .withColumn("next_error_us",
          first(when(col("event_type") === "error", col("ts_us")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "next_error_us")
    },

    Q("join_asof_tolerance",
      """SELECT event_id, user_id, ts_us,
        |       CASE WHEN ts_us - last_signup_us <= 1800000000
        |            THEN last_signup_us END AS fresh_signup_us,
        |       CAST(CASE WHEN last_signup_us IS NULL THEN 'never'
        |                 WHEN ts_us - last_signup_us <= 1800000000 THEN 'fresh'
        |                 ELSE 'stale' END AS VARCHAR) AS staleness
        |FROM (
        |  SELECT event_id, user_id, ts_us, event_type,
        |         last_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS last_signup_us
        |  FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events))
        |WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      // As-of with a max-staleness tolerance (30 min) — the feature-store
      // correctness knob plain backward as-of lacks: a feature older than
      // the tolerance must surface as NULL (training on stale joins is
      // silent label leakage), and the staleness class is reported so the
      // pipeline can alert on its stale fraction. Same single-window plan
      // as join_asof; the tolerance is a per-row CASE on top.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tolUs = 1800000000L
      Tables.events(s, d)
        .withColumn("last_signup_us",
          last(when(col("event_type") === "signup", col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("ts_us") - col("last_signup_us") <= tolUs, col("last_signup_us"))
            .as("fresh_signup_us"),
          when(col("last_signup_us").isNull, "never")
            .when(col("ts_us") - col("last_signup_us") <= tolUs, "fresh")
            .otherwise("stale").as("staleness"))
    },

    Q("join_asof_nearest",
      """SELECT event_id, user_id, ts_us,
        |       CASE WHEN prev_us IS NULL THEN next_us
        |            WHEN next_us IS NULL THEN prev_us
        |            WHEN ts_us - prev_us <= next_us - ts_us THEN prev_us
        |            ELSE next_us END AS nearest_signup_us
        |FROM (
        |  SELECT event_id, user_id, ts_us, event_type,
        |         last_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
        |         first_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
        |  FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events))
        |WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      // NEAREST as-of (the feature-store variant: backward join_asof can
      // only look into the past; model-eval alignment wants the closest
      // observation either side, ties to the past). Two mirrored
      // IGNORE-NULLS windows over the SAME (user, ts) sort — Spark plans
      // ONE exchange + one sort feeding both window frames, so nearest
      // costs exactly what backward alone costs; a range self-join
      // formulation would be quadratic in hot users.
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val sig = when(col("event_type") === "signup", col("ts_us"))
      Tables.events(s, d)
        .withColumn("prev_us", last(sig, ignoreNulls = true).over(back))
        .withColumn("next_us", first(sig, ignoreNulls = true).over(fwd))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("prev_us").isNull, col("next_us"))
            .when(col("next_us").isNull, col("prev_us"))
            .when(col("ts_us") - col("prev_us") <= col("next_us") - col("ts_us"),
              col("prev_us"))
            .otherwise(col("next_us")).as("nearest_signup_us"))
    },

    Q("join_bloom_prefilter",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin) { (s, d) =>
      // Bloom-filter semi-join reduction: the selective dimension side
      // (urgent orders, ~20%) folds its keys into an 8 KiB bloom (custom
      // mergeable Aggregator, bitwise-OR partials); the fact side drops
      // non-matching rows MAP-SIDE via the codegen'd mightContain probe
      // BEFORE its join exchange, then the real equi-join verifies exactly
      // — no false negatives, so the result is bit-identical to the plain
      // join the oracle runs (false positives only cost shuffle bytes).
      // This is the runtime-filter pattern (Spark's own runtime bloom
      // injects only under size heuristics; here it is explicit and
      // guaranteed). At 100 TB the fact exchange shrinks ~5x for this
      // selectivity while the 8 KiB bloom rides the broadcast for free.
      val urgent = Tables.cachedTable(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val bloom = urgent.agg(graft.functions.BloomFilter.agg(col("o_orderkey")).as("bf"))
      Tables.cachedTable(s, d, "lineitem")
        .crossJoin(broadcast(bloom))
        .filter(graft.functions.BloomFilter.mightContain(col("bf"), col("l_orderkey")))
        .drop("bf")
        .join(urgent.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_qty"))
    },

    Q("join_star",
      """SELECT n_name, p_brand,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      // Multiway star join (TPC-H Q9 shape): the fact table is scanned
      // ONCE and flows through a chain of dimension hash joins
      // (PlanSpec: all broadcast, no fact shuffle before the final
      // low-cardinality agg). At 100 TB supplier/part outgrow broadcast —
      // then the right tool is bucketing both on their keys
      // (Sinks.writeBucketed pins the exchange-free join). Revenue is a
      // per-row double product cast DECIMAL(27,6) per term, summed exact.
      val li = Tables.cachedTable(s, d, "lineitem")
      li.join(broadcast(Tables.cachedTable(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.cachedTable(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.cachedTable(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("n_name", "p_brand")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(27,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },

    Q("join_cross_limited",
      "SELECT r_name, n_name FROM region CROSS JOIN nation") { (s, d) =>
      Tables.table(s, d, "region")
        .crossJoin(Tables.table(s, d, "nation"))
        .select("r_name", "n_name")
    },

    // LATERAL correlated subquery (r8b, Spark 4 lateral join): the
    // "top-k rows PER outer row" SQL pattern — each order pulls its two
    // priciest lineitems via a correlated ORDER BY ... LIMIT 2 — the
    // query BI tools emit and engines must decorrelate (Spark plans it
    // as a ranked window under the hood; DuckDB runs its own lateral
    // unnesting). Bounded outer (keys ≤ 500) keeps the artifact small;
    // tie-broken on the unique line number so both engines pick the
    // same two rows.
    Q("join_lateral",
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM (SELECT o_orderkey FROM orders WHERE o_orderkey <= 500) o,
        |LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t"""
        .stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "orders").createOrReplaceTempView("graft_lat_orders")
      Tables.cachedTable(s, d, "lineitem").createOrReplaceTempView("graft_lat_lineitem")
      s.sql("""SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
              |FROM (SELECT o_orderkey FROM graft_lat_orders WHERE o_orderkey <= 500) o,
              |LATERAL (SELECT l_linenumber, l_extendedprice FROM graft_lat_lineitem
              |         WHERE l_orderkey = o.o_orderkey
              |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t"""
        .stripMargin)
    },

    // Bucketed CO-LOCATED fact-fact join (r8b): both sides land bucketed
    // (+ sorted) on the join key ONCE, then every subsequent join on that
    // key is a sort-merge with NO shuffle and NO per-bucket sort — the
    // write-once, join-many amortization that is the answer when BOTH
    // sides outgrow broadcast (the regime join_star's dimension
    // broadcasts stop covering at 100 TB). The merge hint keeps the plan
    // in that regime at toy scale; SinksSpec separately pins the
    // zero-Exchange, zero-Sort plan shape. Oracle = the plain join
    // aggregate, so a bucket-pruned row or hash-vs-range bucketing
    // mismatch flips the hash.
    Q("join_bucketed_colocated",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |         AS qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.operators.Sinks
      val tag = d.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + java.lang.ProcessHandle.current().pid()
      val (ot, lt) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
      // repartition on the bucket key into exactly nBuckets first: the
      // writer then emits ONE file per bucket (task hash == bucket hash),
      // which is the precondition for the reader to trust sortBy — with
      // multiple files per bucket Spark must re-Sort before the SMJ
      Sinks.writeBucketed(
        Tables.cachedTable(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .repartition(8, col("o_orderkey")),
        ot, Seq("o_orderkey"), 8, sortCols = Seq("o_orderkey"),
        path = Some(s"$roundtripRoot/bkt/$tag/orders"))
      Sinks.writeBucketed(
        Tables.cachedTable(s, d, "lineitem").select("l_orderkey", "l_quantity")
          .repartition(8, col("l_orderkey")),
        lt, Seq("l_orderkey"), 8, sortCols = Seq("l_orderkey"),
        path = Some(s"$roundtripRoot/bkt/$tag/lineitem"))
      // one-file-per-bucket sorted scans are behind a default-off flag
      // since SPARK-28595 (verifying the one-file precondition needs a
      // listing); this table is written to satisfy it, so opt in — with
      // it, the SMJ consumes bucket order directly and plans no Sort
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      s.table(lt)
        .join(s.table(ot).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("long").as("qty_cents"))
    },

    // Interval-OVERLAP join with measured overlap (r8g): join_theta_range
    // FILTERS on a range predicate; this one also AGGREGATES the overlap
    // duration — the ad-attribution / downtime-accounting shape ("how
    // many days of this order's service window fell inside each promo
    // window"). Overlap is exact integer µs: greatest(0, least(e1,e2) −
    // greatest(s1,s2)) — no calendar library in the gate. The 25-row
    // promo dim broadcasts, so the overlap predicate is a residual on a
    // broadcast nested loop over dim-sized candidates — fine here; when
    // BOTH sides are fact-sized the same query rides join_range_bucketed's
    // grid decomposition (bucket on time cells, dedup-free residual).
    Q("join_interval_overlap",
      """WITH o AS (
        |  SELECT o_orderkey, epoch_us(o_orderdate) AS s1,
        |         epoch_us(o_orderdate) + (1 + o_orderkey % 7) * 86400000000 AS e1
        |  FROM orders),
        |p AS (
        |  SELECT n_nationkey AS promo_id,
        |         epoch_us(TIMESTAMP '1995-01-01') + n_nationkey * 30 * 86400000000 AS s2,
        |         epoch_us(TIMESTAMP '1995-01-01') + (n_nationkey * 30 + 45) * 86400000000 AS e2
        |  FROM nation)
        |SELECT o_orderkey, CAST(promo_id AS BIGINT) AS promo_id,
        |       CAST((least(e1, e2) - greatest(s1, s2)) // 86400000000 AS BIGINT)
        |         AS overlap_days
        |FROM o JOIN p ON s1 < e2 AND s2 < e1""".stripMargin) { (s, d) =>
      val dayUs = 86400000000L
      val base = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli * 1000L
      val o = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("s1"))
        .withColumn("e1", col("s1") + (lit(1L) + col("o_orderkey") % 7) * dayUs)
      val p = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("promo_id"))
        .withColumn("s2", lit(base) + col("promo_id") * 30L * dayUs)
        .withColumn("e2", col("s2") + lit(45L * dayUs))
      o.join(broadcast(p), col("s1") < col("e2") && col("s2") < col("e1"))
        .select(col("o_orderkey"), col("promo_id"),
          expr(s"(least(e1, e2) - greatest(s1, s2)) div $dayUs").as("overlap_days"))
    },

    // Null-safe equality join (r8g): <=> (IS NOT DISTINCT FROM) treats
    // NULL as a joinable value — the semantics CDC/merge pipelines need
    // when a nullable business key must still pair deleted-with-inserted
    // rows. Fixture: a derived nullable segment key on orders (every
    // 13th order's segment is unknown) against a 6-row dim that carries
    // an explicit NULL-keyed "UNKNOWN" row. Scale shape: the dim
    // broadcasts, so NULL-matching adds nothing to the probe cost. On a
    // shuffle join, beware: <=> hashes every NULL key to ONE partition —
    // if NULLs are a meaningful fraction, split the NULL-key rows into
    // their own branch (they join only the NULL dim row, a constant
    // lookup) and union — the same decomposition join_skew_salted pins.
    Q("join_null_safe",
      """WITH o AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |              ELSE o_custkey % 5 END AS seg
        |  FROM orders),
        |dim AS (
        |  SELECT unnest(generate_series(0, 4)) AS seg
        |  UNION ALL SELECT NULL),
        |named AS (
        |  SELECT seg, CASE WHEN seg IS NULL THEN 'UNKNOWN'
        |                   ELSE 'SEG_' || CAST(seg AS VARCHAR) END AS seg_name
        |  FROM dim)
        |SELECT o.o_orderkey, n.seg_name
        |FROM o JOIN named n ON o.seg IS NOT DISTINCT FROM n.seg""".stripMargin) {
      (s, d) =>
        val o = Tables.cachedTable(s, d, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 13 === 0, lit(null))
              .otherwise(col("o_custkey") % 5).as("seg"))
        val dim = s.range(0, 5).select(col("id").as("seg"))
          .unionByName(s.range(1).select(lit(null).cast("long").as("seg")))
          .select(col("seg"),
            when(col("seg").isNull, "UNKNOWN")
              .otherwise(concat(lit("SEG_"), col("seg").cast("string")))
              .as("seg_name"))
        o.join(broadcast(dim), o("seg") <=> dim("seg"))
          .select(col("o_orderkey"), col("seg_name"))
    }
  )
}
