package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.operators.{DiffOptions, Differ, DupPairing, TextOps}

/** §2.A diff core — the reference's own capability surface, exercised on a
  * deterministic left/right pair derived from `orders` so the DuckDB oracle
  * can reconstruct the identical inputs in SQL.
  *
  * Fixture (see FIXTURES.md):
  *   left  = orders
  *   right = orders
  *           minus keys with o_orderkey % 97 = 0            (→ 'D' rows)
  *           with  o_totalprice * 1.1 where o_orderkey % 31 = 0 (→ 'C' rows)
  *           plus  copies keyed o_orderkey + 10000000
  *                 of keys with o_orderkey % 89 = 0          (→ 'I' rows)
  * All derivations are pure integer/IEEE-double arithmetic on stored values,
  * so Spark and DuckDB produce bit-identical inputs (no rounding anywhere).
  */
object DiffQueries {

  private val keys = Seq("o_orderkey")

  def left(spark: SparkSession, dir: String): DataFrame =
    Tables.cachedTable(spark, dir, "orders")

  def right(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, s"$dir/diff_right") {
      // built from the repartitioned cached table (r16): the raw
      // single-file scan held every row in one partition, so this
      // artifact's own build — and the map side of every consumer's
      // first exchange — ran single-threaded (guide §2.5)
      val o = Tables.cachedTable(spark, dir, "orders")
      val base = o
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn(
          "o_totalprice",
          when(col("o_orderkey") % 31 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      val inserts = o
        .filter(col("o_orderkey") % 89 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      base.unionByName(inserts)
    }

  /** Second mutated branch for the three-way merge fixture: deletes, two
    * overlapping change rules (%62 repeats left's *1.1 → agreement; %41
    * alone applies *0.9 → conflict where left also changed), and inserts at
    * a key range disjoint from [[right]]'s. Same pure-arithmetic
    * discipline, so both engines rebuild it bit-identically.
    */
  def right2(spark: SparkSession, dir: String): DataFrame =
    Tables.cached(spark, s"$dir/diff_right2") {
      // from the repartitioned cached table — same rationale as [[right]]
      val o = Tables.cachedTable(spark, dir, "orders")
      val base = o
        .filter(col("o_orderkey") % 113 =!= 0)
        .withColumn(
          "o_totalprice",
          when(col("o_orderkey") % 62 === 0, col("o_totalprice") * 1.1)
            .when(col("o_orderkey") % 41 === 0, col("o_totalprice") * 0.9)
            .otherwise(col("o_totalprice")))
      val inserts = o
        .filter(col("o_orderkey") % 79 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
      base.unionByName(inserts)
    }

  /** DuckDB mirror of the fixture; prepended to every diff oracle. */
  val Prelude: String =
    """WITH l AS (SELECT * FROM orders),
      |r AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice * 1.1
      |              ELSE o_totalprice END AS o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 89 = 0
      |)""".stripMargin

  private lazy val ColumnStatsOracle: String =
    s"""$Prelude, j AS (
       |  SELECT ${valueCols.map(c => s"CASE WHEN l.$c IS DISTINCT FROM r.$c THEN 1 ELSE 0 END AS d_$c").mkString(", ")}
       |  FROM l JOIN r ON l.o_orderkey = r.o_orderkey)
       |${valueCols.map(c => s"SELECT '$c' AS column_name, CAST(COALESCE(SUM(d_$c), 0) AS BIGINT) AS n_diff FROM j").mkString("\nUNION ALL\n")}""".stripMargin

  private lazy val UnkeyedOracle: String =
    s"""$Prelude,
         |lp AS (SELECT o_orderstatus, o_orderpriority,
         |              CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_band
         |       FROM l),
         |rp AS (SELECT o_orderstatus, o_orderpriority,
         |              CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_band
         |       FROM r),
         |lc AS (SELECT o_orderstatus, o_orderpriority, price_band,
         |              CAST(count(*) AS BIGINT) AS nl FROM lp GROUP BY 1, 2, 3),
         |rc AS (SELECT o_orderstatus, o_orderpriority, price_band,
         |              CAST(count(*) AS BIGINT) AS nr FROM rp GROUP BY 1, 2, 3)
         |SELECT COALESCE(lc.o_orderstatus, rc.o_orderstatus) AS o_orderstatus,
         |       COALESCE(lc.o_orderpriority, rc.o_orderpriority) AS o_orderpriority,
         |       COALESCE(lc.price_band, rc.price_band) AS price_band,
         |       COALESCE(nl, 0) AS n_left, COALESCE(nr, 0) AS n_right,
         |       CASE WHEN COALESCE(nl, 0) = COALESCE(nr, 0) THEN 'N'
         |            WHEN COALESCE(nl, 0) = 0 THEN 'I'
         |            WHEN COALESCE(nr, 0) = 0 THEN 'D'
         |            ELSE 'C' END AS diff_status
         |FROM lc FULL OUTER JOIN rc
         |  ON lc.o_orderstatus IS NOT DISTINCT FROM rc.o_orderstatus
         | AND lc.o_orderpriority IS NOT DISTINCT FROM rc.o_orderpriority
         | AND lc.price_band IS NOT DISTINCT FROM rc.price_band""".stripMargin

  private val valueCols =
    Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Per-process root + fresh-per-call suffix for the TxnLog-sweep
    * fixture (TxnLog.init refuses to reuse a log dir; the pid keeps
    * concurrent suites from seeing each other's torn directories — the
    * RelationalQueries roundtripRoot precedent).
    */
  /** Shared fixture + oracle for the catalog-sweep pair
    * (diff_catalog_tables and its TVF twin sql_diff_catalog_tvf): orders
    * churn under the inferred o_orderkey (fail), customer vs itself under
    * c_custkey (pass), a keyless (custkey, status) slice and a counterpart-less
    * table (two error rows).
    */
  private def gdcatFixture(s: SparkSession, d: String): Unit = {
    left(s, d).createOrReplaceTempView("gdcat_orders_l")
    right(s, d).createOrReplaceTempView("gdcat_orders_r")
    val cust = Tables.cachedTable(s, d, "customer")
    cust.createOrReplaceTempView("gdcat_cust_l")
    cust.createOrReplaceTempView("gdcat_cust_r")
    // keyless slice: (custkey, status) — both columns duplicated, no
    // usable key (orders, not lineitem: this table exists only to produce
    // the error row, so the cheapest dup-heavy slice wins — the
    // inference job scans it per call)
    val nokey = left(s, d).select("o_custkey", "o_orderstatus")
    nokey.createOrReplaceTempView("gdcat_nokey_l")
    nokey.createOrReplaceTempView("gdcat_nokey_r")
    cust.select("c_custkey").createOrReplaceTempView("gdcat_lost_l")
    // DECOY pair (r15 — the r14 verdict's "what's wrong" #1 fixture): a
    // unique, null-free but CHURNED load_ts column sits AHEAD of the real
    // key k in schema order (odd values on the left, even/negative on the
    // right — zero cross-side overlap), so a schema-order-only election
    // would pick load_ts and report every changed row as a D+I pair; the
    // overlap tie-break must elect k. The oracle hard-codes the
    // k-election outcome (C for every paired row — load_ts churns on all
    // of them — D for the %23 drops, I for the %89 re-keys), so a wrong
    // election flips the hash.
    val o = left(s, d)
    o.select((col("o_orderkey") * 2 + 1).as("load_ts"),
        col("o_orderkey").as("k"), col("o_custkey").as("v"))
      .createOrReplaceTempView("gdcat_decoy_l")
    o.filter(col("o_orderkey") % 23 =!= 0)
      .select((col("o_orderkey") * 2).as("load_ts"),
        col("o_orderkey").as("k"),
        when(col("o_orderkey") % 5 === 0, col("o_custkey") + 1)
          .otherwise(col("o_custkey")).as("v"))
      .unionByName(o.filter(col("o_orderkey") % 89 === 0)
        .select((-col("o_orderkey")).as("load_ts"),
          (col("o_orderkey") + 30000000L).as("k"), col("o_custkey").as("v")))
      .createOrReplaceTempView("gdcat_decoy_r")
  }

  /** Fixture for the sweep composite-key family (r15): a lineitem slice
    * aggregated to the COMPOSITE (l_orderkey, l_linenumber) grain — the
    * synthetic lineitem carries duplicate pairs (linenumber is random per
    * row, unlike TPC-H), and both the override's premise and the pair
    * tier's election need a key that IS unique, so sum(quantity) per pair
    * makes it true and keeps the derivation engine-replayable. The churn
    * reuses diff_composite_key's derivation (C on %37 of retained pairs,
    * D on %41, I on the +10-linenumber %43 inserts). The `lt` variant
    * adds a CHURNED unique load_ts surrogate FIRST in schema order (odd
    * left, even right; okey*100+line injective since every linenumber
    * stays below 100) — the override key's strong form: election would
    * pick load_ts and report all-D+I; the override's census is all-C.
    * gdko_cust rides along un-overridden.
    *
    * MATERIALIZED once per process per dataset (parquet under /tmp, the
    * txnSweepFixture discipline): the slices are aggregates/derivations
    * over 600k lineitem rows at sf0.1, and a sweep scans each side
    * several times (stats job, pair job, the diff itself) — temp views
    * over the raw plans would re-run the aggregation per scan.
    */
  private val gdkoRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def gdkoFixture(s: SparkSession, d: String): Unit = {
    val root = gdkoRoots.computeIfAbsent(d, _ => {
      val dir = s"$txnSweepRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/gdko${txnSweepSeq.incrementAndGet()}"
      val li = Tables.cachedTable(s, d, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("l_quantity"))
      val sum = col("l_orderkey") + col("l_linenumber")
      val liR = li.filter(sum % 41 =!= 0)
        .withColumn("l_quantity",
          when(sum % 37 === 0, col("l_quantity") + 5).otherwise(col("l_quantity")))
        .unionByName(li.filter(sum % 43 === 0)
          .withColumn("l_linenumber", col("l_linenumber") + 10))
      val uid = col("l_orderkey") * 100 + col("l_linenumber")
      def lt(df: DataFrame, mk: Column => Column) =
        df.select(mk(uid).as("load_ts"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      li.write.mode("overwrite").parquet(s"$dir/li_l")
      liR.write.mode("overwrite").parquet(s"$dir/li_r")
      lt(li, u => u * 2 + 1).write.mode("overwrite").parquet(s"$dir/lt_l")
      lt(liR, u => u * 2).write.mode("overwrite").parquet(s"$dir/lt_r")
      dir
    })
    for (v <- Seq("li_l", "li_r", "lt_l", "lt_r"))
      s.read.parquet(s"$root/$v").createOrReplaceTempView(s"gdko_$v")
    val cust = Tables.cachedTable(s, d, "customer")
    cust.createOrReplaceTempView("gdko_cust_l")
    cust.createOrReplaceTempView("gdko_cust_r")
  }

  /** Oracle for the override key (r15 strong form): the lt pair keyed on
    * the OVERRIDDEN (l_orderkey, l_linenumber) — the churned load_ts
    * surrogate is then a value column differing on EVERY matched row, so
    * C = the whole matched class and N = 0; a sweep that dropped the
    * override would elect load_ts and report everything as D+I with zero
    * C — not one census row shared between the two outcomes.
    */
  private lazy val GdkoOverrideOracle: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber,
      |             sum(l_quantity) AS l_quantity
      |      FROM lineitem GROUP BY 1, 2),
      |cnt AS (SELECT
      |  (SELECT count(*) FROM li WHERE (l_orderkey + l_linenumber) % 41 <> 0) AS n_c,
      |  (SELECT count(*) FROM li WHERE (l_orderkey + l_linenumber) % 41 = 0) AS n_d,
      |  (SELECT count(*) FROM li WHERE (l_orderkey + l_linenumber) % 43 = 0) AS n_i),
      |spine AS (SELECT unnest(['N','C','I','D']) AS item),
      |rows0 AS (
      |  SELECT 'gdko_lt_l' AS table_name, 'census' AS kind, s.item,
      |         CAST(NULL AS VARCHAR) AS detail,
      |         CAST(CASE s.item WHEN 'C' THEN (SELECT n_c FROM cnt)
      |                          WHEN 'D' THEN (SELECT n_d FROM cnt)
      |                          WHEN 'I' THEN (SELECT n_i FROM cnt)
      |                          ELSE 0 END AS BIGINT) AS n
      |  FROM spine s
      |  UNION ALL
      |  SELECT 'gdko_cust_l', 'census', s.item, NULL,
      |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM customer)
      |              ELSE 0 END
      |  FROM spine s),
      |flag AS (SELECT table_name,
      |                max(CASE WHEN kind = 'schema'
      |                          OR (kind = 'census' AND item <> 'N' AND n > 0)
      |                         THEN 1 ELSE 0 END) AS bad
      |         FROM rows0 GROUP BY 1)
      |SELECT r0.table_name, r0.kind, r0.item, r0.detail, r0.n,
      |       CASE WHEN flag.bad > 0 THEN 'fail' ELSE 'pass' END AS verdict
      |FROM rows0 r0 JOIN flag USING (table_name)""".stripMargin

  private lazy val GdkoOracle: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber,
      |             sum(l_quantity) AS l_quantity
      |      FROM lineitem GROUP BY 1, 2),
      |lr AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CASE WHEN (l_orderkey + l_linenumber) % 37 = 0
      |              THEN l_quantity + 5 ELSE l_quantity END AS l_quantity
      |  FROM li WHERE (l_orderkey + l_linenumber) % 41 <> 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber + 10, l_quantity
      |  FROM li WHERE (l_orderkey + l_linenumber) % 43 = 0),
      |cen AS (SELECT CASE WHEN a.l_orderkey IS NULL THEN 'I'
      |                    WHEN b.l_orderkey IS NULL THEN 'D'
      |                    WHEN a.l_quantity IS DISTINCT FROM b.l_quantity THEN 'C'
      |                    ELSE 'N' END AS item
      |        FROM li a FULL OUTER JOIN lr b
      |          ON a.l_orderkey = b.l_orderkey
      |         AND a.l_linenumber = b.l_linenumber),
      |oc AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cen GROUP BY 1),
      |spine AS (SELECT unnest(['N','C','I','D']) AS item),
      |rows0 AS (
      |  SELECT 'gdko_li_l' AS table_name, 'census' AS kind, spine.item,
      |         CAST(NULL AS VARCHAR) AS detail,
      |         COALESCE(oc.n, 0) AS n
      |  FROM spine LEFT JOIN oc USING (item)
      |  UNION ALL
      |  SELECT 'gdko_cust_l', 'census', s.item, NULL,
      |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM customer)
      |              ELSE 0 END
      |  FROM spine s),
      |flag AS (SELECT table_name,
      |                max(CASE WHEN kind = 'schema'
      |                          OR (kind = 'census' AND item <> 'N' AND n > 0)
      |                         THEN 1 ELSE 0 END) AS bad
      |         FROM rows0 GROUP BY 1)
      |SELECT r0.table_name, r0.kind, r0.item, r0.detail, r0.n,
      |       CASE WHEN flag.bad > 0 THEN 'fail' ELSE 'pass' END AS verdict
      |FROM rows0 r0 JOIN flag USING (table_name)""".stripMargin

  private lazy val GdcatSweepOracle: String =
    s"""$Prelude,
       |cen AS (SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
       |                    WHEN r.o_orderkey IS NULL THEN 'D'
       |                    WHEN ${anyDistinct(valueCols)} THEN 'C'
       |                    ELSE 'N' END AS item
       |        FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
       |oc AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cen GROUP BY 1),
       |spine AS (SELECT unnest(['N','C','I','D']) AS item),
       |rows0 AS (
       |  SELECT 'gdcat_orders_l' AS table_name, 'census' AS kind, spine.item,
       |         CAST(NULL AS VARCHAR) AS detail,
       |         COALESCE(oc.n, 0) AS n
       |  FROM spine LEFT JOIN oc USING (item)
       |  UNION ALL
       |  SELECT 'gdcat_cust_l', 'census', s.item, NULL,
       |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM customer)
       |              ELSE 0 END
       |  FROM spine s
       |  UNION ALL
       |  SELECT 'gdcat_decoy_l', 'census', s.item, NULL,
       |         CASE s.item
       |           WHEN 'C' THEN (SELECT count(*) FROM orders WHERE o_orderkey % 23 <> 0)
       |           WHEN 'D' THEN (SELECT count(*) FROM orders WHERE o_orderkey % 23 = 0)
       |           WHEN 'I' THEN (SELECT count(*) FROM orders WHERE o_orderkey % 89 = 0)
       |           ELSE 0 END
       |  FROM spine s),
       |flag AS (SELECT table_name,
       |                max(CASE WHEN kind = 'schema'
       |                          OR (kind = 'census' AND item <> 'N' AND n > 0)
       |                         THEN 1 ELSE 0 END) AS bad
       |         FROM rows0 GROUP BY 1)
       |SELECT r0.table_name, r0.kind, r0.item, r0.detail, r0.n,
       |       CASE WHEN flag.bad > 0 THEN 'fail' ELSE 'pass' END AS verdict
       |FROM rows0 r0 JOIN flag USING (table_name)
       |UNION ALL
       |SELECT * FROM (VALUES
       |  ('gdcat_lost_l', 'error', 'missing_right', 'gdcat_lost_r',
       |   CAST(NULL AS BIGINT), 'fail'),
       |  ('gdcat_nokey_l', 'error', 'no_unique_key',
       |   'no atomic column or column pair unique and null-free on both sides',
       |   CAST(NULL AS BIGINT), 'fail')
       |) AS e(table_name, kind, item, detail, n, verdict)""".stripMargin

  /** Shared oracle for the TxnLog-sweep pair (diff_catalog_txnlog and its
    * TVF twin sql_diff_txnlog_tvf).
    */
  private lazy val TxnSweepOracle: String =
    s"""$Prelude,
       |cen AS (SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
       |                    WHEN r.o_orderkey IS NULL THEN 'D'
       |                    WHEN ${anyDistinct(valueCols)} THEN 'C'
       |                    ELSE 'N' END AS item
       |        FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
       |oc AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cen GROUP BY 1),
       |spine AS (SELECT unnest(['N','C','I','D']) AS item),
       |rows0 AS (
       |  SELECT 'orders_t' AS table_name, 'census' AS kind, spine.item,
       |         CAST(NULL AS VARCHAR) AS detail,
       |         COALESCE(oc.n, 0) AS n
       |  FROM spine LEFT JOIN oc USING (item)
       |  UNION ALL
       |  SELECT 'cust_t', 'census', s.item, NULL,
       |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM customer)
       |              ELSE 0 END
       |  FROM spine s),
       |flag AS (SELECT table_name,
       |                max(CASE WHEN kind = 'schema'
       |                          OR (kind = 'census' AND item <> 'N' AND n > 0)
       |                         THEN 1 ELSE 0 END) AS bad
       |         FROM rows0 GROUP BY 1)
       |SELECT r0.table_name, r0.kind, r0.item, r0.detail, r0.n,
       |       CASE WHEN flag.bad > 0 THEN 'fail' ELSE 'pass' END AS verdict
       |FROM rows0 r0 JOIN flag USING (table_name)
       |UNION ALL
       |SELECT * FROM (VALUES
       |  ('fresh_t', 'error', 'no_previous_version',
       |   'latest version 0 — need two snapshots to diff',
       |   CAST(NULL AS BIGINT), 'fail')
       |) AS e(table_name, kind, item, detail, n, verdict)""".stripMargin

  /** Builds (once per process per dataset — the fixture tables are the
    * sweep's INPUTS, not the operator, so they cache exactly like the
    * Tables.cached diff_right artifact; every call still runs the full
    * enumeration + inference + diff) the TxnLog-sweep fixture root
    * (orders churn as v0/v1, customer re-published identically, a
    * single-version table) and returns its path — shared by
    * diff_catalog_txnlog and the TVF twin. The root is published to the
    * cache only AFTER all commits land, so a concurrent reader never
    * sees a half-built table.
    */
  private val txnSweepRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def txnSweepFixture(s: SparkSession, d: String): String =
    txnSweepRoots.computeIfAbsent(d, _ => {
      import graft.sources.TxnLog
      val root = s"$txnSweepRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/r${txnSweepSeq.incrementAndGet()}"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      TxnLog.init(left(s, d), s"$root/orders_t") // v0
      TxnLog.overwrite(right(s, d), s"$root/orders_t") // v1 = the churn
      val cust = Tables.cachedTable(s, d, "customer")
      TxnLog.init(cust, s"$root/cust_t")
      TxnLog.overwrite(cust, s"$root/cust_t") // identical re-publish
      TxnLog.init(cust.select("c_custkey"), s"$root/fresh_t") // v0 only
      root
    })

  private lazy val txnSweepRoot: String = {
    val run = java.lang.ProcessHandle.current().pid()
    s"/tmp/graft-gdtxn-$run"
  }
  private val txnSweepSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fixture root for the VERSION-RANGE TxnLog sweep (r15): orders_t3
    * commits the churn chain v0=left / v1=right / v2=right2 so a v0→v2
    * range diff must SKIP v1 (a sweep that silently resolved
    * prev-vs-latest would diff v1→v2 and flip the hash); cust_t3 commits
    * three identical snapshots (pass); shallow_t has one version only, so
    * the requested v0→v2 lands as a version_out_of_range error row. Built
    * once per process per dataset, same publish-after-commit discipline
    * as [[txnSweepFixture]].
    */
  private val txnRangeRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def txnRangeFixture(s: SparkSession, d: String): String =
    txnRangeRoots.computeIfAbsent(d, _ => {
      import graft.sources.TxnLog
      val root = s"$txnSweepRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"/range${txnSweepSeq.incrementAndGet()}"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      TxnLog.init(left(s, d), s"$root/orders_t3") // v0
      TxnLog.overwrite(right(s, d), s"$root/orders_t3") // v1 (must be SKIPPED)
      TxnLog.overwrite(right2(s, d), s"$root/orders_t3") // v2
      val cust = Tables.cachedTable(s, d, "customer")
      TxnLog.init(cust, s"$root/cust_t3")
      TxnLog.overwrite(cust, s"$root/cust_t3")
      TxnLog.overwrite(cust, s"$root/cust_t3") // three identical versions
      TxnLog.init(cust.select("c_custkey"), s"$root/shallow_t") // v0 only
      // Pin commit TIMESTAMPS (log-file mtimes — TxnLog's Delta-style
      // timestamp-travel clock) so the asOf sweep resolves
      // deterministically: versions land a day apart Jan 5/6/7; shallow_t's
      // only commit sits mid-window at Jan 6 12:00, so a from_ts of Jan 5
      // 12:00 PREDATES its whole log (the timestamp_out_of_range class).
      // Version-pinned reads never consult mtimes, so the range key
      // sharing this fixture is unaffected.
      def pin(tbl: String, vts: (Long, String)*): Unit = vts.foreach {
        case (v, iso) => TxnLog.setCommitTime(s"$root/$tbl", v,
          java.time.Instant.parse(iso).toEpochMilli)
      }
      pin("orders_t3", 0L -> "2026-01-05T00:00:00Z",
        1L -> "2026-01-06T00:00:00Z", 2L -> "2026-01-07T00:00:00Z")
      pin("cust_t3", 0L -> "2026-01-05T00:00:00Z",
        1L -> "2026-01-06T00:00:00Z", 2L -> "2026-01-07T00:00:00Z")
      pin("shallow_t", 0L -> "2026-01-06T12:00:00Z")
      root
    })

  /** Oracle for the version-range sweep: the v0→v2 census recomputed from
    * the RAW snapshot derivations (left vs right2) — prev-vs-latest
    * resolution (v1→v2) would produce different counts and flip the hash.
    * Parameterized on the shallow_t error row only: the version-range key
    * requests v0..v2 (out of range for the 1-version table), the asOf key
    * a from_ts its whole log postdates (timestamp_out_of_range) — the
    * orders_t3/cust_t3 censuses are IDENTICAL by construction, which is
    * itself the pin that both endpoint spellings resolve the same
    * snapshots.
    */
  private def txnRangeOracleCore(errRowSql: String): String =
    s"""$Prelude,
       |r2 AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         CASE WHEN o_orderkey % 62 = 0 THEN o_totalprice * 1.1
       |              WHEN o_orderkey % 41 = 0 THEN o_totalprice * 0.9
       |              ELSE o_totalprice END AS o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 113 <> 0
       |  UNION ALL
       |  SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 79 = 0),
       |cen AS (SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
       |                    WHEN r.o_orderkey IS NULL THEN 'D'
       |                    WHEN ${anyDistinct(valueCols)} THEN 'C'
       |                    ELSE 'N' END AS item
       |        FROM l FULL OUTER JOIN r2 r ON l.o_orderkey = r.o_orderkey),
       |oc AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cen GROUP BY 1),
       |spine AS (SELECT unnest(['N','C','I','D']) AS item),
       |rows0 AS (
       |  SELECT 'orders_t3' AS table_name, 'census' AS kind, spine.item,
       |         CAST(NULL AS VARCHAR) AS detail,
       |         COALESCE(oc.n, 0) AS n
       |  FROM spine LEFT JOIN oc USING (item)
       |  UNION ALL
       |  SELECT 'cust_t3', 'census', s.item, NULL,
       |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM customer)
       |              ELSE 0 END
       |  FROM spine s),
       |flag AS (SELECT table_name,
       |                max(CASE WHEN kind = 'schema'
       |                          OR (kind = 'census' AND item <> 'N' AND n > 0)
       |                         THEN 1 ELSE 0 END) AS bad
       |         FROM rows0 GROUP BY 1)
       |SELECT r0.table_name, r0.kind, r0.item, r0.detail, r0.n,
       |       CASE WHEN flag.bad > 0 THEN 'fail' ELSE 'pass' END AS verdict
       |FROM rows0 r0 JOIN flag USING (table_name)
       |UNION ALL
       |SELECT * FROM (VALUES
       |  $errRowSql
       |) AS e(table_name, kind, item, detail, n, verdict)""".stripMargin

  private lazy val TxnRangeOracle: String = txnRangeOracleCore(
    """('shallow_t', 'error', 'version_out_of_range',
      |   'requested v0..v2, table has versions 0..0',
      |   CAST(NULL AS BIGINT), 'fail')""".stripMargin)

  private lazy val TxnAsofOracle: String = txnRangeOracleCore(
    """('shallow_t', 'error', 'timestamp_out_of_range',
      |   'from_ts 2026-01-05T12:00:00Z predates the first commit (versions 0..0)',
      |   CAST(NULL AS BIGINT), 'fail')""".stripMargin)

  /** Spark twin of [[Scd2Ctes]]'s `dim`: the SCD2 history built from the
    * three snapshot versions via [[Differ.scd2]].
    */
  private def scd2Dim(s: SparkSession, d: String): DataFrame = {
    def tag(df: DataFrame, v: Int) =
      df.select(col("o_orderkey"), lit(v).as("version"), col("o_totalprice"))
    val snaps = tag(left(s, d), 0)
      .unionByName(tag(right(s, d), 1))
      .unionByName(tag(right2(s, d), 2))
    Differ.scd2(snaps, keys, "version", Seq("o_totalprice"), maxVersion = 2)
  }

  /** Shared SCD2 oracle chain: snapshots v0/v1/v2 → `dim(o_orderkey,
    * o_totalprice, valid_from, valid_to)` — the history table diff_scd2
    * emits and join_scd2_pit point-in-time-joins facts against.
    */
  private val Scd2Ctes: String =
    s"""$Prelude,
       |r2 AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         CASE WHEN o_orderkey % 62 = 0 THEN o_totalprice * 1.1
       |              WHEN o_orderkey % 41 = 0 THEN o_totalprice * 0.9
       |              ELSE o_totalprice END AS o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 113 <> 0
       |  UNION ALL
       |  SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 79 = 0
       |),
       |snaps AS (
       |  SELECT o_orderkey AS k, 0 AS v, o_totalprice AS price FROM l
       |  UNION ALL SELECT o_orderkey, 1, o_totalprice FROM r
       |  UNION ALL SELECT o_orderkey, 2, o_totalprice FROM r2),
       |m AS (SELECT *, lag(v) OVER w AS pv, lag(price) OVER w AS pp
       |      FROM snaps WINDOW w AS (PARTITION BY k ORDER BY v)),
       |b AS (SELECT *, CASE WHEN pv IS NULL OR pv <> v - 1
       |                       OR pp IS DISTINCT FROM price THEN 1 ELSE 0 END AS brk
       |      FROM m),
       |sg AS (SELECT *, sum(brk) OVER (PARTITION BY k ORDER BY v
       |                                ROWS UNBOUNDED PRECEDING) AS seg
       |       FROM b),
       |dim AS (
       |  SELECT k AS o_orderkey, max(price) AS o_totalprice,
       |         CAST(min(v) AS BIGINT) AS valid_from,
       |         CAST(CASE WHEN max(v) = 2 THEN NULL ELSE max(v) + 1 END AS BIGINT)
       |           AS valid_to
       |  FROM sg GROUP BY k, seg)""".stripMargin

  /** ONE corpus-v2 perturbation for every corpus-snapshot key (r12 review
    * fix — three hand-maintained copies in two languages had to stay
    * byte-equal for the oracles to mean anything): drop %53 docs, append
    * a token to %17, case-rewrite %19, re-key %29 copies as inserts —
    * pure integer/string ops both engines replay bit-identically.
    * Consumers: diff_text_delta (inner join — the inserts and drops
    * self-exclude), diff_binary_digest, curation_incremental.
    */
  private[queries] def corpusV2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.cachedTable(s, d, "documents")
    docs.filter(col("doc_id") % 53 =!= 0)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" zzzx")))
          .when(col("doc_id") % 19 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text")))
  }

  /** DuckDB mirror of [[corpusV2]] — a bare `v2 AS (...)` CTE body. */
  private[queries] val CorpusV2Cte: String =
    """v2 AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN doc_id % 17 = 0 THEN text || ' zzzx'
      |              WHEN doc_id % 19 = 0 THEN upper(text)
      |              ELSE text END AS text
      |  FROM documents WHERE doc_id % 53 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text FROM documents
      |  WHERE doc_id % 29 = 0)""".stripMargin

  /** Fresh-per-call TxnLog dimension tables for stream_scd2_sink
    * (pid-scoped root + counter — the StreamingQueries sink discipline).
    */
  private val scd2SinkSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private lazy val scd2SinkRoot: String =
    s"/tmp/graft-scd2sink-${java.lang.ProcessHandle.current().pid()}"

  private def anyDistinct(cols: Seq[String]): String =
    cols.map(c => s"l.$c IS DISTINCT FROM r.$c").mkString(" OR ")

  private def pairSelect(cols: Seq[String]): String =
    cols.map(c => s"l.$c AS left_$c, r.$c AS right_$c").mkString(", ")

  def all: Seq[Q] = Seq(
    Q("diff_full",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols)} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${pairSelect(valueCols)}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) => Differ.diff(left(s, d), right(s, d), keys)
    },

    Q("diff_summary",
      s"""$Prelude
         |SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN r.o_orderkey IS NULL THEN 'D'
         |            WHEN ${anyDistinct(valueCols)} THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       COUNT(*) AS n
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |GROUP BY 1""".stripMargin) {
      (s, d) => Differ.summary(left(s, d), right(s, d), keys)
    },

    // UNKEYED diff (r8i) — multiset semantics for tables with no reliable
    // primary key (the datacompy no-join-columns mode; keyed diff can't
    // run, and EXCEPT silently collapses duplicates): each side reduces
    // to (distinct row → multiplicity) via map-side-combinable partial
    // aggs, then ONE null-safe full-outer join on the whole row; each
    // distinct row reports n_left/n_right and N/I/D/C by count compare.
    // The fixture projects the diff pair onto a duplicate-rich
    // (status, priority, price band) view so multiplicities — the whole
    // point of bag semantics — are actually exercised (counts up to
    // ~hundreds; the fixture's inserts and price bumps perturb them).
    Q("diff_unkeyed", UnkeyedOracle) {
      (s, d) =>
        def proj(df: DataFrame) = df.select(
          col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") / 1000).cast("long").as("price_band"))
        Differ.diffUnkeyed(proj(left(s, d)), proj(right(s, d)))
    },

    // Unkeyed (bag) diff from SQL (r15): graft_diff_unkeyed('l', 'r') —
    // the datacompy no-join-columns mode with zero Scala; same projected
    // fixture views and oracle as the API key (TVF ≡ API by construction).
    Q("sql_diff_unkeyed_tvf", UnkeyedOracle) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        def proj(df: DataFrame) = df.select(
          col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") / 1000).cast("long").as("price_band"))
        proj(left(s, d)).createOrReplaceTempView("graft_unkeyed_l")
        proj(right(s, d)).createOrReplaceTempView("graft_unkeyed_r")
        s.sql("SELECT * FROM graft_diff_unkeyed('graft_unkeyed_l', 'graft_unkeyed_r')")
    },


    // Schema-drift diff (r8i) — the real-world "yesterday's snapshot has a
    // dropped column and a new one" case: the differ's value set is the
    // COMMON non-key columns by contract (Differ.valueCols intersects), so
    // a column present on one side only never poisons the status — the
    // right side here drops o_orderpriority and adds an o_flag the left
    // never had, and the diff proceeds over the surviving three value
    // columns. Schema-level reporting is schema_diff's job; this key pins
    // the DATA semantics under drift. Same one-shuffle full-outer plan as
    // diff_full (pruning to common columns happens BEFORE the exchange, so
    // the dropped/added columns never shuffle).
    Q("diff_schema_drift",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols.filterNot(_ == "o_orderpriority"))} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${pairSelect(valueCols.filterNot(_ == "o_orderpriority"))}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) =>
        val drifted = right(s, d)
          .drop("o_orderpriority")
          .withColumn("o_flag", lit(1))
        Differ.diff(left(s, d), drifted, keys)
    },

    // Value diff ACROSS a retyped column (r12) — the most common parquet
    // schema drift in practice: a measure widened int32→int64 (or
    // double→decimal) between snapshots. schema_diff REPORTS the retype;
    // this key proves the VALUES still compare: Differ.diff widens both
    // sides to the common type (Differ.coerceValueTypes — a pure
    // projection, no exchange) before the null-safe compare, and the
    // output pair carries the widened type. Fixture: right reads
    // o_custkey as INTEGER where left has BIGINT — every value fits, so
    // the classification must be IDENTICAL to diff_full's (the retype is
    // invisible to the data); the oracle casts the right pair back to
    // BIGINT exactly like the widening does. Non-coercible retypes fail
    // loudly (DifferSpec).
    Q("diff_type_coerce",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols)} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  l.o_custkey AS left_o_custkey,
         |  CAST(r.o_custkey AS BIGINT) AS right_o_custkey,
         |  ${pairSelect(valueCols.filterNot(_ == "o_custkey"))}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) =>
        val retyped = right(s, d)
          .withColumn("o_custkey", col("o_custkey").cast("int"))
        Differ.diff(left(s, d), retyped, keys)
    },

    // Normalized string compare (r12; datacompy's ignore_spaces /
    // ignore_case) — the "same value, different formatting" churn a
    // re-serialized upstream mints: DiffOptions(ignoreCase, trimWs)
    // canonicalizes STRING value columns (trim, then case-fold) on both
    // sides BEFORE the null-safe compare, so case/padding-only edits stop
    // flooding the report as C. Classification only: output values stay
    // ORIGINAL (the perturbed form is what a reviewer needs to see).
    // Fixture: %7 keys get upper() + two trailing spaces on
    // o_orderpriority — C under naive compare, N here (unless the %31
    // price change fires too). Normalization is a per-row projection
    // inside the same single full-outer join — no extra exchange
    // (PlanSpec pin).
    Q("diff_normalized",
      s"""$Prelude,
         |rn AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         |              CASE WHEN o_orderkey % 7 = 0 THEN upper(o_orderpriority) || '  '
         |                   ELSE o_orderpriority END AS o_orderpriority
         |       FROM r)
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN l.o_custkey IS DISTINCT FROM r.o_custkey
         |         OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
         |         OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
         |         OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
         |         OR lower(trim(l.o_orderpriority))
         |              IS DISTINCT FROM lower(trim(r.o_orderpriority)) THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${pairSelect(valueCols)}
         |FROM l FULL OUTER JOIN rn AS r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) =>
        val perturbed = right(s, d)
          .withColumn("o_orderpriority",
            when(col("o_orderkey") % 7 === 0,
              concat(upper(col("o_orderpriority")), lit("  ")))
              .otherwise(col("o_orderpriority")))
        Differ.diff(left(s, d), perturbed, keys,
          DiffOptions(ignoreCase = true, trimWs = true))
    },

    // Partition-level diff census (r8i) — the "WHICH partition regressed"
    // report an incremental-pipeline operator reads before anything else:
    // diff_summary's 4-row global census re-keyed by the table's natural
    // partition column (order month). A bad backfill shows up as one month
    // with exploding C/D counts while the rest stay N — at 100 TB that is
    // the difference between re-running one partition and re-running the
    // load. Month of COALESCE(left, right) date so inserts and deletes
    // both land in their own partition; one partial agg OVER the diff
    // frame (the diff's key-shuffle is the only exchange; the census
    // reduces map-side to months×4 rows).
    Q("diff_partition_summary",
      s"""$Prelude
         |SELECT CAST(date_trunc('month', COALESCE(l.o_orderdate, r.o_orderdate)) AS DATE) AS month,
         |       CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN r.o_orderkey IS NULL THEN 'D'
         |            WHEN ${anyDistinct(valueCols)} THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       CAST(COUNT(*) AS BIGINT) AS n
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Differ.diff(left(s, d), right(s, d), keys)
        .groupBy(
          date_trunc("month",
            coalesce(col("left_o_orderdate"), col("right_o_orderdate")))
            .cast("date").as("month"),
          col("diff_status"))
        .agg(count(lit(1)).cast("long").as("n"))
    },

    Q("diff_examples",
      s"""$Prelude,
         |d AS (SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |                  WHEN r.o_orderkey IS NULL THEN 'D'
         |                  WHEN ${anyDistinct(valueCols)} THEN 'C'
         |                  ELSE 'N' END AS diff_status,
         |             COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |             l.o_totalprice AS left_price, r.o_totalprice AS right_price
         |      FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
         |x AS (SELECT *, row_number() OVER (PARTITION BY diff_status
         |                                   ORDER BY o_orderkey) AS rank
         |      FROM d WHERE diff_status <> 'N')
         |SELECT diff_status, CAST(rank AS BIGINT) AS rank, o_orderkey,
         |       left_price, right_price
         |FROM x WHERE rank <= 5""".stripMargin) { (s, d) =>
      // The human-readable half of a diff report: alongside diff_summary's
      // counts, the first few concrete example rows per status (ordered by
      // key — deterministic, so the report is stable run to run) with the
      // value pair a reviewer actually inspects. Per-status top-k rides
      // the house two-phase topKPerGroup (bucketed local heads, then the
      // buckets·k-bounded global rank) — at 100 TB the non-N set can still be
      // millions of rows and a bare 3-partition window would funnel each
      // status through one task.
      val ex = graft.operators.Differ.diff(left(s, d), right(s, d), keys)
        .filter(col("diff_status") =!= "N")
        .select(col("diff_status"), col("o_orderkey"),
          col("left_o_totalprice").as("left_price"),
          col("right_o_totalprice").as("right_price"))
      graft.operators.TextOps.topKPerGroup(
        ex, Seq("diff_status"), Seq(col("o_orderkey")), k = 5,
        bucketOn = col("o_orderkey"))
        .select("diff_status", "rank", "o_orderkey", "left_price", "right_price")
    },

    // The composed human-readable artifact (r11; datacompy's report()) —
    // the one frame a reviewer reads first: side row counts, the 4-status
    // census, per-column change counts, and the first 5 concrete example
    // rows per non-N status with the price pair. Long format
    // (section, item, n, left_val, right_val) with numbers in TYPED
    // columns — a pretty-printed string report would re-open every
    // cross-engine float-formatting divergence; rendering to text is a
    // presentation concern on 2+S+C+E rows, not a distributed one.
    // 100 TB shape (see Differ.report): ONE lazy pass over the
    // one-shuffle full-outer diff — counts, summary, column stats and the
    // k-bounded example heaps all from one map-side-combinable aggregate
    // — never a pass per section, and no job before the report runs.
    Q("diff_report",
      s"""$Prelude,
         |d AS (SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols)} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  l.o_totalprice AS lp, r.o_totalprice AS rp,
         |  ${valueCols.map(c =>
              s"CASE WHEN l.o_orderkey IS NOT NULL AND r.o_orderkey IS NOT NULL " +
              s"AND l.$c IS DISTINCT FROM r.$c THEN 1 ELSE 0 END AS d_$c").mkString(",\n  ")}
         |  FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
         |s AS (SELECT diff_status, count(*) AS n,
         |             ${valueCols.map(c => s"sum(d_$c) AS t_$c").mkString(", ")}
         |      FROM d GROUP BY 1)
         |SELECT 'summary' AS section, diff_status AS item, CAST(n AS BIGINT) AS n,
         |       CAST(NULL AS DOUBLE) AS left_val, CAST(NULL AS DOUBLE) AS right_val
         |FROM s
         |UNION ALL
         |SELECT 'counts', 'left_rows',
         |       CAST(sum(CASE WHEN diff_status IN ('N','C','D') THEN n ELSE 0 END) AS BIGINT),
         |       NULL, NULL FROM s
         |UNION ALL
         |SELECT 'counts', 'right_rows',
         |       CAST(sum(CASE WHEN diff_status IN ('N','C','I') THEN n ELSE 0 END) AS BIGINT),
         |       NULL, NULL FROM s
         |UNION ALL
         |${valueCols.map(c =>
            s"SELECT 'column_stats', '$c', CAST(sum(t_$c) AS BIGINT), NULL, NULL FROM s")
            .mkString("\nUNION ALL\n")}
         |UNION ALL
         |SELECT 'examples:' || diff_status, CAST(o_orderkey AS VARCHAR),
         |       CAST(rank AS BIGINT), lp, rp
         |FROM (SELECT *, row_number() OVER (PARTITION BY diff_status
         |                                   ORDER BY o_orderkey) AS rank
         |      FROM d WHERE diff_status <> 'N') x
         |WHERE rank <= 5""".stripMargin) {
      (s, d) => Differ.report(left(s, d), right(s, d), keys, exampleOn = "o_totalprice")
    },

    // Stream-vs-static diff (r11) — the continuous half of the differ: as
    // rows arrive they classify against a pinned snapshot as I (new key),
    // C (key present, values differ) or N (identical). 'D' is deliberately
    // absent: in append-mode streaming a deletion is the absence of a
    // future arrival, assertable only at end-of-stream — the batch diff
    // owns that question. This batch form and the true readStream variant
    // share ONE body (Differ.diffVsStatic — a stateless stream-static LEFT
    // OUTER join, no state store, no watermark needed);
    // StreamBatchParitySpec pins their row-for-row agreement. 100 TB
    // shape: the snapshot is the build side — broadcast when
    // dimension-sized, bucket-joined when fact-sized; each micro-batch
    // probes it without accumulating state.
    Q("stream_diff",
      s"""$Prelude
         |SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN ${anyDistinct(valueCols)} THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       r.o_orderkey AS o_orderkey,
         |       ${pairSelect(valueCols)}
         |FROM r LEFT JOIN l ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      // nullSafeKeys = false, PINNED to the oracle's plain '=' join (r11
      // ADVICE): snapshot keys are primary keys by contract, and '='
      // matches the SQL a user would write — under '<=>' a null-keyed
      // arriving row could match a null-keyed snapshot row that the
      // oracle's '=' drops, an invisible divergence on this null-free
      // fixture but a real one elsewhere.
      (s, d) => Differ.diffVsStatic(right(s, d), left(s, d), keys,
        DiffOptions(nullSafeKeys = false))
    },

    // Running census of the continuous diff (r11) — what a reconciliation
    // DASHBOARD actually reads: the I/C/N counts of everything that has
    // arrived so far, updated per micro-batch. Streaming shape
    // (StreamOps.diffStreamSummary, parity-pinned): a complete-mode
    // aggregate over the stateless stream-static join — state is O(3
    // statuses) counters TOTAL, regardless of stream volume, which is the
    // whole 100 TB story (the keyed diff feed itself is append-only and
    // unbounded; the census is the bounded thing a monitor retains).
    Q("stream_diff_summary",
      s"""$Prelude
         |SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN ${anyDistinct(valueCols)} THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM r LEFT JOIN l ON l.o_orderkey = r.o_orderkey
         |GROUP BY 1""".stripMargin) {
      (s, d) =>
        // Same nullSafeKeys = false pin as stream_diff (the '=' oracle).
        Differ.diffVsStatic(right(s, d), left(s, d), keys,
            DiffOptions(nullSafeKeys = false))
          .groupBy("diff_status").agg(count(lit(1)).as("n"))
    },

    // Directional containment (r11; datacompy's subset()) — the ingest
    // gate's question in one row: is every candidate row present in the
    // reference with equal values? The fixture answers NO on both arms
    // (inserts -> n_candidate_only, price bumps -> n_changed), so the
    // verdict bit and both violation counters are all exercised. Shape:
    // the stream_diff left join collapsed by a map-side census agg + a
    // broadcast 1-row reference count — no driver-side counts.
    Q("diff_is_subset",
      s"""$Prelude,
         |j AS (SELECT l.o_orderkey AS lk,
         |             CASE WHEN ${anyDistinct(valueCols)} THEN 1 ELSE 0 END AS ch
         |      FROM r LEFT JOIN l ON l.o_orderkey = r.o_orderkey)
         |SELECT CAST((SELECT count(*) FROM l) AS BIGINT) AS n_reference,
         |       CAST(count(*) AS BIGINT) AS n_candidate,
         |       CAST(sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_candidate_only,
         |       CAST(sum(CASE WHEN lk IS NOT NULL AND ch = 1 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_changed,
         |       CAST(CASE WHEN sum(CASE WHEN lk IS NULL OR ch = 1 THEN 1 ELSE 0 END) = 0
         |                 THEN 1 ELSE 0 END AS BIGINT) AS is_subset
         |FROM j""".stripMargin) {
      // Same nullSafeKeys = false pin as stream_diff (the '=' oracle).
      (s, d) => Differ.subsetCheck(right(s, d), left(s, d), keys,
        DiffOptions(nullSafeKeys = false))
    },

    // SQL-callable diff (r11) — the reference-class tool is something
    // users CALL, and until now the diff core was Scala-API-only. The
    // GraftExtensions seam registers graft_diff / graft_diff_summary as
    // table functions: `SELECT * FROM graft_diff('t_old', 't_new', 'key')`
    // resolves both tables through the session catalog at analysis time
    // and splices in the exact Differ.diff plan — same single full-outer
    // key join, same Catalyst optimization (pushdown/AQE/broadcast) as
    // the Scala path, because it IS the Scala path. Oracle = diff_full's
    // SQL verbatim: the TVF must be plan-equivalent to the API call.
    Q("sql_diff_tvf",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols)} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${pairSelect(valueCols)}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        left(s, d).createOrReplaceTempView("graft_diff_l")
        right(s, d).createOrReplaceTempView("graft_diff_r")
        s.sql("SELECT * FROM graft_diff('graft_diff_l', 'graft_diff_r', 'o_orderkey')")
    },

    // TVF option parity (r12; closes the r11 verdict's ask #6): the full
    // Scala DiffOptions record was unreachable from SQL — graft_diff took
    // (left, right, keys) only, so a SQL user could not express tolerance
    // or column exclusion at all. Named arguments (Spark's `name => value`
    // syntax reaches an injected TVF builder as NamedArgumentExpression)
    // now fold onto DiffOptions at ANALYSIS time: options choose the plan
    // (which columns compare, with what bound), so they are literal-only
    // by construction. This key exercises abs_tol+tol_cols+ignore_cols in
    // one call; ExtensionsSpec covers each remaining option and the
    // unknown-name loud failure. Oracle = the batch SQL a user would
    // write by hand for the same options; plan remains the one full-outer
    // key join (the projection is all that changes).
    Q("sql_diff_tvf_options",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN l.o_custkey IS DISTINCT FROM r.o_custkey
         |         OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
         |         OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
         |         OR NOT ((l.o_totalprice IS NULL AND r.o_totalprice IS NULL) OR
         |                 (l.o_totalprice IS NOT NULL AND r.o_totalprice IS NOT NULL
         |                  AND ABS(l.o_totalprice - r.o_totalprice) <= 1000.0))
         |       THEN 'C' ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${pairSelect(valueCols.filterNot(_ == "o_orderpriority"))}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        left(s, d).createOrReplaceTempView("graft_diff_l")
        right(s, d).createOrReplaceTempView("graft_diff_r")
        s.sql(
          """SELECT * FROM graft_diff('graft_diff_l', 'graft_diff_r', 'o_orderkey',
            |  abs_tol => 1000.0, tol_cols => 'o_totalprice',
            |  ignore_cols => 'o_orderpriority')""".stripMargin)
    },

    // datacompy-report() from SQL (r14; the r13 verdict's #3 ask — "the
    // first thing a SQL user asks for after the summary"): `SELECT * FROM
    // graft_diff_report('l', 'r', 'k' [, example_on => 'col', k => 5])`
    // splices Differ.report's analyzed plan exactly like graft_diff —
    // side row counts, the 4-status census, per-column change counts, and
    // the first 5 example rows per non-N status in one long-format frame.
    // Oracle = diff_report's SQL verbatim: the TVF must be
    // plan-equivalent to the API call. ExtensionsSpec pins TVF ≡ API
    // rows, the example_on/k named options, and composability (WHERE
    // over the TVF).
    Q("sql_diff_report_tvf",
      s"""$Prelude,
         |d AS (SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols)} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  l.o_totalprice AS lp, r.o_totalprice AS rp,
         |  ${valueCols.map(c =>
              s"CASE WHEN l.o_orderkey IS NOT NULL AND r.o_orderkey IS NOT NULL " +
              s"AND l.$c IS DISTINCT FROM r.$c THEN 1 ELSE 0 END AS d_$c").mkString(",\n  ")}
         |  FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
         |s AS (SELECT diff_status, count(*) AS n,
         |             ${valueCols.map(c => s"sum(d_$c) AS t_$c").mkString(", ")}
         |      FROM d GROUP BY 1)
         |SELECT 'summary' AS section, diff_status AS item, CAST(n AS BIGINT) AS n,
         |       CAST(NULL AS DOUBLE) AS left_val, CAST(NULL AS DOUBLE) AS right_val
         |FROM s
         |UNION ALL
         |SELECT 'counts', 'left_rows',
         |       CAST(sum(CASE WHEN diff_status IN ('N','C','D') THEN n ELSE 0 END) AS BIGINT),
         |       NULL, NULL FROM s
         |UNION ALL
         |SELECT 'counts', 'right_rows',
         |       CAST(sum(CASE WHEN diff_status IN ('N','C','I') THEN n ELSE 0 END) AS BIGINT),
         |       NULL, NULL FROM s
         |UNION ALL
         |${valueCols.map(c =>
            s"SELECT 'column_stats', '$c', CAST(sum(t_$c) AS BIGINT), NULL, NULL FROM s")
            .mkString("\nUNION ALL\n")}
         |UNION ALL
         |SELECT 'examples:' || diff_status, CAST(o_orderkey AS VARCHAR),
         |       CAST(rank AS BIGINT), lp, rp
         |FROM (SELECT *, row_number() OVER (PARTITION BY diff_status
         |                                   ORDER BY o_orderkey) AS rank
         |      FROM d WHERE diff_status <> 'N') x
         |WHERE rank <= 5""".stripMargin) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        left(s, d).createOrReplaceTempView("graft_diff_l")
        right(s, d).createOrReplaceTempView("graft_diff_r")
        s.sql(
          """SELECT * FROM graft_diff_report('graft_diff_l', 'graft_diff_r',
            |  'o_orderkey', example_on => 'o_totalprice')""".stripMargin)
    },

    // Metadata-level schema diff from SQL (r14, same verdict ask):
    // `SELECT * FROM graft_schema_diff('l', 'r')` — the added / removed /
    // retyped census with zero Scala. Same deterministic fixture (and
    // VALUES oracle) as schema_diff, so the TVF must agree with the API
    // byte-for-byte on type rendering and classification.
    Q("sql_schema_diff_tvf",
      """SELECT * FROM (VALUES
        |  ('o_orderkey',     'BIGINT',    'BIGINT',        'same'),
        |  ('o_custkey',      'BIGINT',    'BIGINT',        'same'),
        |  ('o_orderstatus',  'STRING',    'STRING',        'same'),
        |  ('o_totalprice',   'DOUBLE',    'DECIMAL(18,2)', 'type_changed'),
        |  ('o_orderdate',    'TIMESTAMP_NTZ', 'TIMESTAMP_NTZ', 'same'),
        |  ('o_orderpriority','STRING',    CAST(NULL AS VARCHAR), 'removed'),
        |  ('o_comment',      CAST(NULL AS VARCHAR), 'STRING', 'added')
        |) AS t(column_name, left_type, right_type, status)""".stripMargin) { (s, d) =>
      graft.GraftExtensions.register(s)
      left(s, d).createOrReplaceTempView("gd14_schema_l")
      right(s, d)
        .withColumn("o_totalprice", col("o_totalprice").cast(DecimalType(18, 2)))
        .withColumn("o_comment", lit("x"))
        .drop("o_orderpriority")
        .createOrReplaceTempView("gd14_schema_r")
      s.sql("SELECT * FROM graft_schema_diff('gd14_schema_l', 'gd14_schema_r')")
    },

    // Changeset COMPOSITION (r12) — diff algebra: fold the base→v1 and
    // v1→v2 changesets into the net base→v2 changeset WITHOUT re-reading
    // either endpoint snapshot (collapse N daily change feeds into one net
    // feed; changesets are diff-sized, snapshots are 100 TB). The oracle
    // is the DIRECT base→v2 diff in SQL — losslessness of the fold,
    // including the two cases a naive feed concat gets wrong: a value
    // that round-trips across the hops (C then C-back ⇒ net N, the %31
    // ∧ ¬%62 keys) and an insert deleted again (I then D ⇒ nothing, the
    // +10M keys). ComposePropSpec pins the algebra on generated snapshot
    // triples; plan = ONE changeset-sized full-outer join.
    Q("diff_compose",
      s"""$Prelude,
         |r2base AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CASE WHEN o_orderkey % 62 = 0 THEN o_totalprice * 1.1
         |              WHEN o_orderkey % 41 = 0 THEN o_totalprice * 0.9
         |              ELSE o_totalprice END AS o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 113 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 79 = 0
         |)
         |SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN r.o_orderkey IS NULL THEN 'D'
         |            ELSE 'C' END AS diff_status,
         |       COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |       ${pairSelect(valueCols)}
         |FROM l FULL OUTER JOIN r2base r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
         |   OR ${anyDistinct(valueCols)}""".stripMargin) {
      (s, d) =>
        val d1 = Differ.diff(left(s, d), right(s, d), keys)
        val d2 = Differ.diff(right(s, d), right2(s, d), keys)
        Differ.composeChangesets(d1, d2, keys)
    },

    // Corpus-version TEXT diff (r12) — the diff core pointed at the
    // documents table: between two corpus snapshots, WHICH docs changed
    // and BY HOW MUCH. Key-level status alone is useless for text ("C"
    // covers one appended token and a full rewrite equally); per C doc
    // the report carries distinct-token counts and the token-set Jaccard
    // — the magnitude a curation pipeline thresholds on (re-embed only
    // docs below 0.9, say). Fixture: right drops %53 docs, appends a
    // token to %17, case-rewrites %19, re-keys %29 copies as inserts —
    // integer/string ops both engines replay bit-identically. 100 TB
    // shape: one key equi-join of the two corpora; the set ops are
    // per-row; nothing quadratic, no pair explosion.
    Q("diff_text_delta",
      s"""WITH dl AS (SELECT doc_id, text FROM documents),
        |$CorpusV2Cte,
        |c AS (SELECT dl.doc_id, dl.text AS lt, v2.text AS rt
        |      FROM dl JOIN v2 ON dl.doc_id = v2.doc_id
        |      WHERE dl.text IS DISTINCT FROM v2.text),
        |t AS (SELECT doc_id,
        |             list_distinct(string_split(lt, ' ')) AS ls,
        |             list_distinct(string_split(rt, ' ')) AS rs
        |      FROM c)
        |SELECT doc_id,
        |       CAST(len(ls) AS BIGINT) AS n_left_tokens,
        |       CAST(len(rs) AS BIGINT) AS n_right_tokens,
        |       CAST(len(list_filter(ls, x -> list_contains(rs, x))) AS DOUBLE)
        |         / len(list_distinct(list_concat(ls, rs))) AS jaccard
        |FROM t""".stripMargin) { (s, d) =>
      val dl = Tables.cachedTable(s, d, "documents").select(col("doc_id"), col("text"))
      val dr = corpusV2(s, d).select(col("doc_id"), col("text"))
      Differ.changed(dl, dr, Seq("doc_id"))
        .select(col("doc_id"),
          array_distinct(split(col("left_text"), " ")).as("ls"),
          array_distinct(split(col("right_text"), " ")).as("rs"))
        .select(col("doc_id"),
          size(col("ls")).cast("long").as("n_left_tokens"),
          size(col("rs")).cast("long").as("n_right_tokens"),
          (size(array_intersect(col("ls"), col("rs"))).cast("double") /
            size(array_union(col("ls"), col("rs")))).as("jaccard"))
    },

    // Blob diff by DIGEST (r12; DiffOptions.digestCols) — the discipline
    // for binary/huge-text value columns at 100 TB: the SHA-256 hex
    // projects at the SCAN, so the diff's full-outer exchange ships 64
    // chars per cell instead of the blob, and the output carries the
    // digests (a reviewer fetches the two blobs BY KEY for the few C
    // rows). Classification exact up to SHA-256 collision — the
    // diffViaHash risk class, already accepted. Fixture: the text-delta
    // corpus pair with the text packed into a BINARY payload column; the
    // oracle recomputes the same utf-8 digests in DuckDB (cross-engine
    // sha256 parity is pinned by diff_row_hash since r1).
    Q("diff_binary_digest",
      s"""WITH dl AS (SELECT doc_id, lang, text FROM documents),
        |$CorpusV2Cte
        |SELECT CASE WHEN dl.doc_id IS NULL THEN 'I'
        |            WHEN v2.doc_id IS NULL THEN 'D'
        |            WHEN dl.lang IS DISTINCT FROM v2.lang
        |              OR sha256(dl.text) IS DISTINCT FROM sha256(v2.text) THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       COALESCE(dl.doc_id, v2.doc_id) AS doc_id,
        |       dl.lang AS left_lang, v2.lang AS right_lang,
        |       sha256(dl.text) AS left_payload, sha256(v2.text) AS right_payload
        |FROM dl FULL OUTER JOIN v2 ON dl.doc_id = v2.doc_id""".stripMargin) {
      (s, d) =>
        def pack(df: DataFrame) = df.select(col("doc_id"), col("lang"),
          col("text").cast("binary").as("payload"))
        Differ.diff(pack(Tables.cachedTable(s, d, "documents")), pack(corpusV2(s, d)),
          Seq("doc_id"), DiffOptions(digestCols = Set("payload")))
    },

    // Changeset FK gate (r12) — the integrity check an ingest runs BEFORE
    // promoting a changeset: arriving rows (I and C; deletes can't
    // orphan) must reference existing dimension keys. The point is the
    // work size: the probe side is the CHANGESET, never the full fact
    // table (quality_fk_orphans is the full-table audit; this is its
    // promote-time sibling at diff scale). Fixture: the customer dim
    // LAGS (c_custkey % 11 == 0 rows not yet loaded — the fact feed
    // arriving before the dim update, the everyday orphan source), so
    // both statuses carry deterministic non-zero orphan counts. 100 TB
    // shape: changeset-sized probe vs broadcast dim key set; one agg.
    Q("diff_fk_gate",
      s"""$Prelude,
         |dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 11 <> 0),
         |ch AS (SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I' ELSE 'C' END
         |         AS diff_status,
         |       r.o_custkey AS fk
         |       FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |       WHERE r.o_orderkey IS NOT NULL
         |         AND (l.o_orderkey IS NULL OR ${anyDistinct(valueCols)}))
         |SELECT diff_status, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN NOT EXISTS
         |                 (SELECT 1 FROM dim WHERE dim.c_custkey = ch.fk)
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
         |FROM ch GROUP BY 1""".stripMargin) {
      (s, d) =>
        val dim = Tables.cachedTable(s, d, "customer")
          .filter(col("c_custkey") % 11 =!= 0)
          .select(col("c_custkey"))
        val incoming = Differ.diff(left(s, d), right(s, d), keys)
          .filter(col("diff_status").isin("I", "C"))
          .select(col("diff_status"), col("right_o_custkey").as("fk"))
        incoming.join(broadcast(dim), col("fk") === col("c_custkey"), "left")
          .groupBy("diff_status")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_orphans"))
    },

    // Estimated diff census WITHOUT a data join (r12) — the pre-check a
    // scheduler runs before paying for a full 100 TB diff: each side
    // reduces to the SAME per-bucket content digests diffIncremental
    // persists (narrow scan + one tiny B-row shuffle per side), the two
    // B-row digest frames compare (metadata-scale, B=4096), and the dirty
    // bucket count inverts through the linear-counting occupancy
    // estimator d̂ = ln(1 − dirty/B) / ln(1 − 1/B) into an estimated
    // CHANGED-KEY count (I+D+C keys hash independently into buckets;
    // E[dirty] = B(1−(1−1/B)^d)). Deterministic given the data (fixed
    // xxhash64 seed), so the in-query band is a hard gate, not a flaky
    // one. The exact census rides along as the self-audit column (one
    // hash-phase diff; at 100 TB the audit is optional — the digest
    // algebra is the product, and yesterday's digests are a persisted
    // artifact so the pre-check reads NO snapshot at all).
    Q.noOracle("diff_estimate") { (s, d) =>
      val B = 4096
      val vcols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val dirty = Differ.dirtyBuckets(left(s, d), right(s, d), keys, vcols, B)
        .agg(count(lit(1)).cast("long").as("n_dirty"))
      val exact = Differ.diffViaHash(left(s, d), right(s, d), keys)
        .agg(count(lit(1)).cast("long").as("n_changed_exact"))
      val out = dirty.crossJoin(broadcast(exact))
        .select(lit(B).cast("long").as("n_buckets"), col("n_dirty"),
          (log(lit(1.0) - col("n_dirty").cast("double") / B) /
            math.log(1.0 - 1.0 / B)).as("est_changed_keys"),
          col("n_changed_exact"))
      // Band calibrated at sf0.001/0.01/0.1 (exact 79 / 790 / 7.9k
      // changed keys against 4096 buckets — load factors 0.02 to 1.9):
      // the occupancy inversion stays within ±10% + a ±10-key floor for
      // the sparse end; deterministic, so a violation always throws.
      Q.requireBand(out,
        abs(col("est_changed_keys") - col("n_changed_exact")) <=
          greatest(col("n_changed_exact") * 0.10, lit(10.0)),
        "diff_estimate: occupancy inversion left the 10% band vs the exact census")
    },

    // Top-k RANK drift (r12) — the leaderboard diff: which keys entered /
    // exited the top 100 by price between snapshots, and how far the
    // survivors moved. A value diff can't answer this (a 0.1% price move
    // can jump 40 ranks; a 50% move in the tail changes nothing a
    // top-100 consumer sees). Deterministic by construction: score DESC
    // with key ASC tie-break — equal prices cannot flap between engines.
    // 100 TB shape: two TakeOrderedAndProject top-k's (per-partition
    // heads, no global snapshot sort), row_number on k rows (the
    // documented k-bounded single-task exception), one k-vs-k join.
    Q("diff_rank_drift",
      s"""$Prelude,
         |lt AS (SELECT o_orderkey,
         |              row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |       FROM l ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
         |rt AS (SELECT o_orderkey,
         |              row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |       FROM r ORDER BY o_totalprice DESC, o_orderkey LIMIT 100)
         |SELECT COALESCE(lt.o_orderkey, rt.o_orderkey) AS o_orderkey,
         |       CAST(lt.rk AS BIGINT) AS left_rank,
         |       CAST(rt.rk AS BIGINT) AS right_rank,
         |       CASE WHEN lt.o_orderkey IS NULL THEN 'entered'
         |            WHEN rt.o_orderkey IS NULL THEN 'exited'
         |            WHEN rt.rk < lt.rk THEN 'up'
         |            WHEN rt.rk > lt.rk THEN 'down'
         |            ELSE 'held' END AS drift_status,
         |       CAST(lt.rk - rt.rk AS BIGINT) AS rank_delta
         |FROM lt FULL OUTER JOIN rt ON lt.o_orderkey = rt.o_orderkey""".stripMargin) {
      (s, d) => Differ.rankDrift(left(s, d), right(s, d), keys,
        scoreCol = "o_totalprice", k = 100)
    },

    Q("diff_mapped_cols",
      s"""$Prelude
         |SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN r.o_orderkey IS NULL THEN 'D'
         |            WHEN ${anyDistinct(valueCols)} THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       COUNT(*) AS n
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |GROUP BY 1""".stripMargin) {
      (s, d) =>
        // Schema-evolution diff: the right snapshot renamed its key AND a
        // value column (the daily reality of evolving tables); columnMap
        // rebinds right names to left's vocabulary BEFORE the diff, so the
        // classification — and the oracle — are identical to the plain
        // summary. Rename is a pure projection: same single full-outer
        // join, no extra shuffle.
        val evolved = right(s, d)
          .withColumnRenamed("o_orderkey", "order_id")
          .withColumnRenamed("o_totalprice", "price_v2")
        Differ.diffMapped(left(s, d), evolved, keys,
            Map("o_orderkey" -> "order_id", "o_totalprice" -> "price_v2"))
          .groupBy(col("diff_status")).agg(count(lit(1)).as("n"))
    },

    Q("diff_only_in_left",
      s"""$Prelude
         |SELECT * FROM l
         |WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.o_orderkey = l.o_orderkey)""".stripMargin) {
      (s, d) => Differ.onlyInLeft(left(s, d), right(s, d), keys)
    },

    Q("diff_only_in_right",
      s"""$Prelude
         |SELECT * FROM r
         |WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.o_orderkey = r.o_orderkey)""".stripMargin) {
      (s, d) => Differ.onlyInRight(left(s, d), right(s, d), keys)
    },

    Q("diff_changed",
      s"""$Prelude
         |SELECT l.o_orderkey AS o_orderkey, ${pairSelect(valueCols)}
         |FROM l JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE ${anyDistinct(valueCols)}""".stripMargin) {
      (s, d) => Differ.changed(left(s, d), right(s, d), keys)
    },

    Q("diff_unchanged",
      s"""$Prelude
         |SELECT l.o_orderkey AS o_orderkey, ${pairSelect(valueCols)}
         |FROM l JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE NOT (${anyDistinct(valueCols)})""".stripMargin) {
      (s, d) => Differ.unchanged(left(s, d), right(s, d), keys)
    },

    Q("diff_column_stats", ColumnStatsOracle) {
      (s, d) => Differ.columnStats(left(s, d), right(s, d), keys)
    },

    // Per-column changed counts from SQL (r15): graft_diff_cols('l', 'r',
    // 'k') splices Differ.columnStats — same fixture views and oracle as
    // the API key, so the TVF must be plan-equivalent (keys honor the
    // 'auto' sentinel / backtick convention shared with graft_diff).
    Q("sql_diff_cols_tvf", ColumnStatsOracle) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        left(s, d).createOrReplaceTempView("graft_cols_l")
        right(s, d).createOrReplaceTempView("graft_cols_r")
        s.sql("SELECT * FROM graft_diff_cols('graft_cols_l', 'graft_cols_r', 'o_orderkey')")
    },

    Q("diff_row_hash",
      s"""$Prelude,
         |lh AS (SELECT sha256(concat_ws(chr(31),
         |  CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
         |  COALESCE(o_orderstatus, '␀'),
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
         |  CAST(epoch_us(o_orderdate) AS VARCHAR),
         |  COALESCE(o_orderpriority, '␀'))) AS row_sha FROM l),
         |rh AS (SELECT sha256(concat_ws(chr(31),
         |  CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
         |  COALESCE(o_orderstatus, '␀'),
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
         |  CAST(epoch_us(o_orderdate) AS VARCHAR),
         |  COALESCE(o_orderpriority, '␀'))) AS row_sha FROM r)
         |SELECT row_sha FROM lh
         |WHERE NOT EXISTS (SELECT 1 FROM rh WHERE rh.row_sha = lh.row_sha)""".stripMargin) {
      (s, d) =>
        val cols = "o_orderkey" +: valueCols
        val lh = Differ.rowHash(left(s, d), cols)
        val rh = Differ.rowHash(right(s, d), cols)
        lh.join(rh, Seq("row_sha"), "left_anti")
    },

    Q("diff_except",
      s"""$Prelude
         |SELECT * FROM l EXCEPT ALL SELECT * FROM r""".stripMargin) {
      (s, d) => left(s, d).exceptAll(right(s, d).select(left(s, d).columns.toIndexedSeq.map(col): _*))
    },

    Q("diff_dup_keys",
      """SELECT l_orderkey, COUNT(*) AS n
        |FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin) {
      (s, d) =>
        Tables.cachedTable(s, d, "lineitem")
          .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
    },

    // Duplicate-key RANK-MATCHED diff (r12; datacompy's temp_row_number
    // semantics) — the everyday "order lines keyed by order only" case the
    // PK-contract diff rejects: each side ranks rows WITHIN its key group
    // by the canonical value fingerprint (value-derived ⇒ stable across
    // runs/partitionings/engines — never shuffle arrival order), then the
    // standard composite diff runs on (key, rank); surplus ranks become
    // D/I. Fixture exercises unequal group sizes BOTH ways (%13 keys lose
    // their lines ≥ 4 → D; %17 keys gain a linenumber-99 row → I) plus a
    // value perturbation (%31 line 1 quantity + 5 → C, possibly re-ranked
    // — rank matching is positional by contract). 100 TB shape: one
    // key-partitioned window per side feeding the same single full-outer
    // exchange as diff_full — with nullSafeKeys=false (the oracle's plain
    // '=' join; order keys are non-null business keys) hash(keys)
    // satisfies the join's (keys, rank) clustering, so no extra exchange
    // (PlanSpec pin); '<=>' would repartition on (coalesce, isnull).
    Q("diff_dup_key_rank",
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |            FROM lineitem),
        |rgt AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_orderkey % 31 = 0 AND l_linenumber = 1
        |              THEN l_quantity + 5 ELSE l_quantity END AS l_quantity,
        |         l_extendedprice
        |  FROM li WHERE NOT (l_orderkey % 13 = 0 AND l_linenumber >= 4)
        |  UNION ALL
        |  SELECT l_orderkey, 99, l_quantity, l_extendedprice
        |  FROM li WHERE l_orderkey % 17 = 0 AND l_linenumber = 1),
        |lr AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |         sha256(concat_ws(chr(31),
        |           CAST(l_linenumber AS VARCHAR),
        |           CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)))) AS dup_rank
        |       FROM li),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |         sha256(concat_ws(chr(31),
        |           CAST(l_linenumber AS VARCHAR),
        |           CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)))) AS dup_rank
        |       FROM rgt)
        |SELECT CASE WHEN lr.l_orderkey IS NULL THEN 'I'
        |            WHEN rr.l_orderkey IS NULL THEN 'D'
        |            WHEN lr.l_linenumber IS DISTINCT FROM rr.l_linenumber
        |              OR lr.l_quantity IS DISTINCT FROM rr.l_quantity
        |              OR lr.l_extendedprice IS DISTINCT FROM rr.l_extendedprice THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       COALESCE(lr.l_orderkey, rr.l_orderkey) AS l_orderkey,
        |       COALESCE(lr.dup_rank, rr.dup_rank) AS dup_rank,
        |       lr.l_linenumber AS left_l_linenumber,
        |       rr.l_linenumber AS right_l_linenumber,
        |       lr.l_quantity AS left_l_quantity, rr.l_quantity AS right_l_quantity,
        |       lr.l_extendedprice AS left_l_extendedprice,
        |       rr.l_extendedprice AS right_l_extendedprice
        |FROM lr FULL OUTER JOIN rr
        |  ON lr.l_orderkey = rr.l_orderkey AND lr.dup_rank = rr.dup_rank""".stripMargin) {
      (s, d) =>
        val li = Tables.cachedTable(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val rbase = li
          .filter(!(col("l_orderkey") % 13 === 0 && col("l_linenumber") >= 4))
          .withColumn("l_quantity",
            when(col("l_orderkey") % 31 === 0 && col("l_linenumber") === 1,
              col("l_quantity") + 5).otherwise(col("l_quantity")))
        val rins = li
          .filter(col("l_orderkey") % 17 === 0 && col("l_linenumber") === 1)
          .withColumn("l_linenumber", lit(99))
        Differ.diffDupKeyRank(li, rbase.unionByName(rins), Seq("l_orderkey"),
          DiffOptions(nullSafeKeys = false))
    },

    // Duplicate-key rank diff, CLOSEST pairing (r13; DupPairing.ByValue —
    // datacompy's practical sort-within-group behavior): ranks order by
    // the full value tuple (NULLS FIRST, fingerprint tie-break) instead of
    // the value hash, so near-identical rows stay adjacent and a single
    // changed value re-pairs minimally instead of cascading C rows across
    // the group (DifferSpec pins strictly-fewer-C vs ByHash on the planted
    // fixture). Same fixture and 100 TB shape as diff_dup_key_rank: one
    // key-partitioned window per side — the sort key is wider (the value
    // tuple) but the exchange count is identical.
    Q("diff_dup_key_value",
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |            FROM lineitem),
        |rgt AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_orderkey % 31 = 0 AND l_linenumber = 1
        |              THEN l_quantity + 5 ELSE l_quantity END AS l_quantity,
        |         l_extendedprice
        |  FROM li WHERE NOT (l_orderkey % 13 = 0 AND l_linenumber >= 4)
        |  UNION ALL
        |  SELECT l_orderkey, 99, l_quantity, l_extendedprice
        |  FROM li WHERE l_orderkey % 17 = 0 AND l_linenumber = 1),
        |lr AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |         l_linenumber ASC NULLS FIRST, l_quantity ASC NULLS FIRST,
        |         l_extendedprice ASC NULLS FIRST,
        |         sha256(concat_ws(chr(31),
        |           CAST(l_linenumber AS VARCHAR),
        |           CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)))) AS dup_rank
        |       FROM li),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY
        |         l_linenumber ASC NULLS FIRST, l_quantity ASC NULLS FIRST,
        |         l_extendedprice ASC NULLS FIRST,
        |         sha256(concat_ws(chr(31),
        |           CAST(l_linenumber AS VARCHAR),
        |           CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
        |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)))) AS dup_rank
        |       FROM rgt)
        |SELECT CASE WHEN lr.l_orderkey IS NULL THEN 'I'
        |            WHEN rr.l_orderkey IS NULL THEN 'D'
        |            WHEN lr.l_linenumber IS DISTINCT FROM rr.l_linenumber
        |              OR lr.l_quantity IS DISTINCT FROM rr.l_quantity
        |              OR lr.l_extendedprice IS DISTINCT FROM rr.l_extendedprice THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       COALESCE(lr.l_orderkey, rr.l_orderkey) AS l_orderkey,
        |       COALESCE(lr.dup_rank, rr.dup_rank) AS dup_rank,
        |       lr.l_linenumber AS left_l_linenumber,
        |       rr.l_linenumber AS right_l_linenumber,
        |       lr.l_quantity AS left_l_quantity, rr.l_quantity AS right_l_quantity,
        |       lr.l_extendedprice AS left_l_extendedprice,
        |       rr.l_extendedprice AS right_l_extendedprice
        |FROM lr FULL OUTER JOIN rr
        |  ON lr.l_orderkey = rr.l_orderkey AND lr.dup_rank = rr.dup_rank""".stripMargin) {
      (s, d) =>
        val li = Tables.cachedTable(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        val rbase = li
          .filter(!(col("l_orderkey") % 13 === 0 && col("l_linenumber") >= 4))
          .withColumn("l_quantity",
            when(col("l_orderkey") % 31 === 0 && col("l_linenumber") === 1,
              col("l_quantity") + 5).otherwise(col("l_quantity")))
        val rins = li
          .filter(col("l_orderkey") % 17 === 0 && col("l_linenumber") === 1)
          .withColumn("l_linenumber", lit(99))
        Differ.diffDupKeyRank(li, rbase.unionByName(rins), Seq("l_orderkey"),
          DiffOptions(nullSafeKeys = false, dupPairing = DupPairing.ByValue))
    },

    Q("diff_tolerance",
      s"""$Prelude
         |SELECT l.o_orderkey AS o_orderkey,
         |       l.o_totalprice AS left_o_totalprice,
         |       r.o_totalprice AS right_o_totalprice
         |FROM l JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_custkey IS DISTINCT FROM r.o_custkey
         |   OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
         |   OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
         |   OR l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
         |   OR NOT ((l.o_totalprice IS NULL AND r.o_totalprice IS NULL) OR
         |           (l.o_totalprice IS NOT NULL AND r.o_totalprice IS NOT NULL
         |            AND ABS(l.o_totalprice - r.o_totalprice) <= 1000.0))""".stripMargin) {
      (s, d) =>
        // tolCols explicit: tolerance must not leak onto other numeric
        // columns (e.g. o_custkey); semantics pinned by DifferSpec.
        Differ.changed(left(s, d), right(s, d), keys,
            DiffOptions(absTol = 1000.0, tolCols = Set("o_totalprice")))
          .select("o_orderkey", "left_o_totalprice", "right_o_totalprice")
    },

    Q("diff_tolerance_rel",
      s"""$Prelude
         |SELECT l.o_orderkey AS o_orderkey,
         |       l.o_totalprice AS left_o_totalprice,
         |       r.o_totalprice AS right_o_totalprice
         |FROM l JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_custkey IS DISTINCT FROM r.o_custkey
         |   OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
         |   OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
         |   OR l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
         |   OR NOT ((l.o_totalprice IS NULL AND r.o_totalprice IS NULL) OR
         |           (l.o_totalprice IS NOT NULL AND r.o_totalprice IS NOT NULL
         |            AND ABS(l.o_totalprice - r.o_totalprice)
         |                <= 1000.0 + 0.02 * greatest(abs(l.o_totalprice), abs(r.o_totalprice))))""".stripMargin) {
      (s, d) =>
        // Combined abs+rel bound (numpy.isclose convention). The fixture's
        // perturbation is multiplicative (×1.1), so the relative term alone
        // would pass/fail every row identically; the absolute term makes
        // the threshold split on price magnitude — small-price rows fall
        // inside tolerance, large-price rows stay changed.
        Differ.changed(left(s, d), right(s, d), keys,
            DiffOptions(absTol = 1000.0, relTol = 0.02, tolCols = Set("o_totalprice")))
          .select("o_orderkey", "left_o_totalprice", "right_o_totalprice")
    },

    Q("diff_sparse",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       WHEN ${anyDistinct(valueCols)} THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${valueCols.map(c =>
              s"CASE WHEN l.o_orderkey IS NULL OR r.o_orderkey IS NULL " +
              s"OR l.$c IS DISTINCT FROM r.$c THEN l.$c END AS left_$c, " +
              s"CASE WHEN l.o_orderkey IS NULL OR r.o_orderkey IS NULL " +
              s"OR l.$c IS DISTINCT FROM r.$c THEN r.$c END AS right_$c").mkString(",\n  ")}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey""".stripMargin) {
      (s, d) => Differ.diff(left(s, d), right(s, d), keys, DiffOptions(sparse = true))
    },

    Q("diff_changed_cols",
      s"""$Prelude
         |SELECT * FROM (
         |  SELECT l.o_orderkey AS o_orderkey,
         |         concat_ws(',', ${valueCols.map(c => s"CASE WHEN l.$c IS DISTINCT FROM r.$c THEN '$c' END").mkString(", ")}) AS changed_cols,
         |         CAST(${valueCols.map(c => s"(CASE WHEN l.$c IS DISTINCT FROM r.$c THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_changed
         |  FROM l JOIN r ON l.o_orderkey = r.o_orderkey)
         |WHERE n_changed > 0""".stripMargin) {
      (s, d) => Differ.changedCols(left(s, d), right(s, d), keys)
    },

    Q("diff_cells",
      s"""$Prelude
         |SELECT l.o_orderkey AS o_orderkey, 'o_custkey' AS column_name,
         |       CAST(l.o_custkey AS DOUBLE) AS left_val,
         |       CAST(r.o_custkey AS DOUBLE) AS right_val
         |FROM l JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_custkey IS DISTINCT FROM r.o_custkey
         |UNION ALL
         |SELECT l.o_orderkey, 'o_totalprice', l.o_totalprice, r.o_totalprice
         |FROM l JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_totalprice IS DISTINCT FROM r.o_totalprice""".stripMargin) {
      // Cell-level diff in LONG format — the remediation feed: one row per
      // changed CELL (key, column, old, new), the shape an UPDATE
      // generator or a column-quality dashboard consumes directly (the
      // wide diff answers "which rows", changed_cols "which columns per
      // row"; this is the join of both). One inner key join; each row
      // explodes into its ≤2 changed numeric cells via an array-of-structs
      // projection (no per-column re-join, no shuffle beyond the join);
      // values surface as doubles — cross-engine string formatting of
      // floats is exactly the trap the house discipline avoids.
      (s, d) =>
        val numCols = Seq("o_custkey", "o_totalprice")
        val l = left(s, d).alias("l")
        val r = right(s, d).alias("r")
        val cells = array(numCols.map { c =>
          struct(lit(c).as("column_name"),
            col(s"l.$c").cast("double").as("left_val"),
            col(s"r.$c").cast("double").as("right_val"),
            (!(col(s"l.$c") <=> col(s"r.$c"))).as("chg"))
        }: _*)
        l.join(r, col("l.o_orderkey") === col("r.o_orderkey"))
          .select(col("l.o_orderkey").as("o_orderkey"), explode(cells).as("c"))
          .filter(col("c.chg"))
          .select(col("o_orderkey"), col("c.column_name").as("column_name"),
            col("c.left_val").as("left_val"), col("c.right_val").as("right_val"))
    },

    Q("diff_numeric_stats",
      s"""$Prelude, j AS (
         |  SELECT CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey THEN 1 ELSE 0 END AS d_ck,
         |         abs(CAST(l.o_custkey AS DOUBLE) - CAST(r.o_custkey AS DOUBLE)) AS del_ck,
         |         CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice THEN 1 ELSE 0 END AS d_tp,
         |         abs(l.o_totalprice - r.o_totalprice) AS del_tp
         |  FROM l JOIN r ON l.o_orderkey = r.o_orderkey)
         |SELECT 'o_custkey' AS column_name, CAST(SUM(d_ck) AS BIGINT) AS n_diff,
         |       CAST(SUM(CAST(CASE WHEN d_ck = 1 THEN del_ck ELSE 0.0 END AS DECIMAL(27,6))) AS DOUBLE)
         |         / greatest(SUM(d_ck), 1) AS avg_abs_delta,
         |       COALESCE(MAX(CASE WHEN d_ck = 1 THEN del_ck END), 0.0) AS max_abs_delta
         |FROM j
         |UNION ALL
         |SELECT 'o_totalprice', CAST(SUM(d_tp) AS BIGINT),
         |       CAST(SUM(CAST(CASE WHEN d_tp = 1 THEN del_tp ELSE 0.0 END AS DECIMAL(27,6))) AS DOUBLE)
         |         / greatest(SUM(d_tp), 1),
         |       COALESCE(MAX(CASE WHEN d_tp = 1 THEN del_tp END), 0.0)
         |FROM j""".stripMargin) {
      (s, d) => Differ.numericStats(left(s, d), right(s, d), keys)
    },

    Q("diff_ignore_cols",
      s"""$Prelude
         |SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |            WHEN r.o_orderkey IS NULL THEN 'D'
         |            WHEN ${anyDistinct(valueCols.filterNot(_ == "o_totalprice"))} THEN 'C'
         |            ELSE 'N' END AS diff_status,
         |       COUNT(*) AS n
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |GROUP BY 1""".stripMargin) {
      // ignoreCols drops the column from comparison AND output: with the
      // fixture's only perturbed column ignored, all C rows become N.
      (s, d) => Differ.summary(left(s, d), right(s, d), keys,
        DiffOptions(ignoreCols = Set("o_totalprice")))
    },

    Q("diff_two_phase",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       ELSE 'C' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${pairSelect(valueCols)}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
         |   OR ${anyDistinct(valueCols)}""".stripMargin) {
      // The 100 TB execution path under the same oracle as diff_full:
      // phase 1 classifies keys by 32-byte value-hash, phase 2 fetches
      // full rows only for the non-N subset (== the oracle's WHERE).
      (s, d) => Differ.diffViaHash(left(s, d), right(s, d), keys)
    },

    Q("diff_incremental",
      s"""$Prelude
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN r.o_orderkey IS NULL THEN 'D'
         |       ELSE 'C' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
         |   OR ${anyDistinct(valueCols)}""".stripMargin) {
      // Bucket-pruned snapshot diff: per-bucket order-free content digests
      // first, then the hash classification only over the dirty buckets
      // (the clean ones are provably identical and never re-read). Pruning
      // is content-lossless, so the oracle is the plain full-outer
      // classification — same WHERE as diff_two_phase, keys-only output.
      // At 100 TB the digest frame is the persisted artifact: a daily diff
      // recomputes digests for the NEW snapshot only and re-reads just the
      // dirty buckets of the old one.
      (s, d) => Differ.diffIncremental(left(s, d), right(s, d), keys)
    },

    Q("diff_apply",
      s"""$Prelude
         |SELECT * FROM r""".stripMargin) {
      // CDC round-trip: applying the diff changeset to the left snapshot
      // reconstructs the right snapshot EXACTLY — the oracle is `r`
      // itself, so any drift in diff classification, changeset payload,
      // or merge semantics (dropped D key, stale C value, missed I row)
      // fails the hash. The merge reads the base once; the diff-sized
      // changeset rides a broadcast anti-join (no base shuffle).
      (s, d) => Differ.applyChangeset(
        left(s, d), Differ.diffViaHash(left(s, d), right(s, d), keys), keys)
    },

    Q("quality_checks",
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(count(l_quantity) AS DOUBLE) AS n_qty,
        |         CAST(count(l_returnflag) AS DOUBLE) AS n_rf,
        |         CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) AS n_pk,
        |         CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS DOUBLE) AS n_qty_rng,
        |         CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) AS DOUBLE) AS n_disc_rng,
        |         CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS DOUBLE) AS n_rf_dom
        |  FROM lineitem)
        |SELECT check_name, metric,
        |       CAST(CASE WHEN metric >= threshold THEN 1 ELSE 0 END AS BIGINT) AS passed
        |FROM (
        |  SELECT 'completeness_l_quantity' AS check_name, n_qty / n AS metric, 1.0 AS threshold FROM m
        |  UNION ALL SELECT 'completeness_l_returnflag', n_rf / n, 1.0 FROM m
        |  UNION ALL SELECT 'uniqueness_pk', n_pk / n, 1.0 FROM m
        |  UNION ALL SELECT 'range_l_quantity_1_50', n_qty_rng / n, 1.0 FROM m
        |  UNION ALL SELECT 'range_l_discount_0_0.1', n_disc_rng / n, 0.99 FROM m
        |  UNION ALL SELECT 'domain_l_returnflag', n_rf_dom / n, 1.0 FROM m)""".stripMargin) {
      (s, d) =>
        // Deequ-style data-quality report (the differ category's sibling
        // capability): completeness, PK uniqueness, range and domain
        // conformance — ONE aggregation pass over the table (never one
        // job per check), metrics as exact-integer quotients, then a tiny
        // unpivot. At 100 TB this is a single scan + scalar agg.
        val li = Tables.cachedTable(s, d, "lineitem")
        val m = li.agg(
          count(lit(1)).cast("double").as("n"),
          count(col("l_quantity")).cast("double").as("n_qty"),
          count(col("l_returnflag")).cast("double").as("n_rf"),
          countDistinct(col("l_orderkey"), col("l_linenumber")).cast("double").as("n_pk"),
          sum(when(col("l_quantity").between(1, 50), 1).otherwise(0)).cast("double").as("n_qty_rng"),
          sum(when(col("l_discount") >= 0 && col("l_discount") <= 0.1, 1).otherwise(0))
            .cast("double").as("n_disc_rng"),
          sum(when(col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0))
            .cast("double").as("n_rf_dom"))
        val checks = Seq(
          ("completeness_l_quantity", col("n_qty") / col("n"), 1.0),
          ("completeness_l_returnflag", col("n_rf") / col("n"), 1.0),
          ("uniqueness_pk", col("n_pk") / col("n"), 1.0),
          ("range_l_quantity_1_50", col("n_qty_rng") / col("n"), 1.0),
          ("range_l_discount_0_0.1", col("n_disc_rng") / col("n"), 0.99),
          ("domain_l_returnflag", col("n_rf_dom") / col("n"), 1.0))
        checks.map { case (name, metric, thr) =>
          m.select(
            lit(name).as("check_name"), metric.as("metric"),
            when(metric >= thr, 1L).otherwise(0L).as("passed"))
        }.reduce(_ unionByName _)
    },

    Q("diff_drift",
      s"""$Prelude,
         |lb AS (SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 0), 9) AS b FROM l),
         |rb AS (SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 0), 9) AS b FROM r),
         |lh AS (SELECT b, count(*) AS c FROM lb GROUP BY 1),
         |rh AS (SELECT b, count(*) AS c FROM rb GROUP BY 1),
         |ln AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lb),
         |rn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM rb),
         |g AS (SELECT unnest(generate_series(0, 9)) AS b)
         |SELECT g.b AS bucket,
         |       COALESCE(lh.c, 0) AS n_left, COALESCE(rh.c, 0) AS n_right,
         |       abs(COALESCE(lh.c, 0) / ln.n - COALESCE(rh.c, 0) / rn.n) AS share_delta
         |FROM g LEFT JOIN lh ON lh.b = g.b LEFT JOIN rh ON rh.b = g.b, ln, rn""".stripMargin) {
      (s, d) =>
        // Distribution-drift report between the two diff sides: fixed
        // 10-bucket histogram of o_totalprice (integer bucket arithmetic,
        // exact-count share quotients — no log/PSI, so every cell is
        // bit-identical cross-engine). Two scans + two tiny aggs at any
        // scale; the bucket grid is a 10-row broadcast.
        def buckets(df: org.apache.spark.sql.DataFrame) = df.select(
          least(greatest(floor(col("o_totalprice") / 60000.0).cast("long"), lit(0L)), lit(9L)).as("b"))
        val lb = buckets(left(s, d))
        val rb = buckets(right(s, d))
        val lh = lb.groupBy("b").agg(count(lit(1)).as("n_left"))
        val rh = rb.groupBy("b").agg(count(lit(1)).as("n_right"))
        val ln = lb.count().toDouble
        val rn = rb.count().toDouble
        val grid = s.range(0, 10).select(col("id").as("bucket"))
        grid.join(lh, grid("bucket") === lh("b"), "left")
          .join(rh, grid("bucket") === rh("b"), "left")
          .select(
            col("bucket"),
            coalesce(col("n_left"), lit(0L)).as("n_left"),
            coalesce(col("n_right"), lit(0L)).as("n_right"),
            abs(coalesce(col("n_left"), lit(0L)) / ln -
              coalesce(col("n_right"), lit(0L)) / rn).as("share_delta"))
    },

    // Value TRANSITION matrix (r9) — diff_drift compares the two MARGINAL
    // distributions; this reports the PAIRED movement: for key-matched
    // changed rows, which value band did each row leave and enter?
    // (from_bucket, to_bucket, n) is the report that distinguishes "10%
    // of rows each drifted one band up" from "one cohort teleported to
    // the top band" — identical marginals, opposite root causes. Bands
    // reuse diff_drift's integer 60000-grid; C-row detection is the
    // differ's null-safe compare on the full value set.
    Q("diff_transition_matrix",
      s"""$Prelude
         |SELECT least(greatest(CAST(floor(l.o_totalprice / 60000.0) AS BIGINT), 0), 9)
         |         AS from_bucket,
         |       least(greatest(CAST(floor(r.o_totalprice / 60000.0) AS BIGINT), 0), 9)
         |         AS to_bucket,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM l JOIN r USING (o_orderkey)
         |WHERE l.o_custkey IS DISTINCT FROM r.o_custkey
         |   OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
         |   OR l.o_totalprice IS DISTINCT FROM r.o_totalprice
         |   OR l.o_orderdate IS DISTINCT FROM r.o_orderdate
         |   OR l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      def band(c: org.apache.spark.sql.Column) =
        least(greatest(floor(c / 60000.0).cast("long"), lit(0L)), lit(9L))
      Differ.changed(left(s, d), right(s, d), keys)
        .groupBy(band(col("left_o_totalprice")).as("from_bucket"),
          band(col("right_o_totalprice")).as("to_bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // AGGREGATE reconciliation (r9) — the finance-style recon the row
    // diff doesn't answer: do the monthly TOTALS tie out, and by how
    // much? Per order-month: row counts and DECIMAL(18,2)-exact price
    // sums on both sides, the signed cent-exact delta, a ppm relative
    // delta by integer cross-multiplication on the cent sums, and the
    // within-0.5% tie-out verdict (10⁶·|Δ| vs 5000·|L| — division-free).
    // The row diff says WHICH rows moved; this says whether the ledger
    // still balances per period — the report a controller actually signs.
    Q("diff_reconcile_agg",
      s"""$Prelude,
         |lm AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         |              count(*) AS n_left,
         |              sum(CAST(o_totalprice AS DECIMAL(27,6))) AS s_left
         |       FROM l GROUP BY 1),
         |rm AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         |              count(*) AS n_right,
         |              sum(CAST(o_totalprice AS DECIMAL(27,6))) AS s_right
         |       FROM r GROUP BY 1),
         |j AS (SELECT coalesce(lm.month, rm.month) AS month,
         |             coalesce(n_left, 0) AS n_left, coalesce(n_right, 0) AS n_right,
         |             coalesce(s_left, 0) AS s_left, coalesce(s_right, 0) AS s_right
         |      FROM lm FULL OUTER JOIN rm ON lm.month = rm.month)
         |SELECT month, CAST(n_left AS BIGINT) AS n_left,
         |       CAST(n_right AS BIGINT) AS n_right,
         |       CAST(s_right - s_left AS DOUBLE) AS sum_delta,
         |       CAST(CASE WHEN s_left = 0 THEN NULL
         |                 ELSE CAST(1000000 * (s_right - s_left) * 1000000 AS HUGEINT)
         |                      // CAST(s_left * 1000000 AS HUGEINT) END AS BIGINT)
         |         AS rel_delta_ppm,
         |       CAST(CASE WHEN 1000000 * abs(CAST((s_right - s_left) * 1000000 AS HUGEINT))
         |                      <= 5000 * abs(CAST(s_left * 1000000 AS HUGEINT))
         |                 THEN 1 ELSE 0 END AS BIGINT) AS ties_out
         |FROM j""".stripMargin) { (s, d) =>
      val dec = DecimalType(27, 6)
      def monthly(df: org.apache.spark.sql.DataFrame, np: String, sp: String) =
        df.groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(count(lit(1)).as(np), sum(col("o_totalprice").cast(dec)).as(sp))
      val lm = monthly(left(s, d), "n_left", "s_left").alias("lm")
      val rm = monthly(right(s, d), "n_right", "s_right").alias("rm")
      val j = lm.join(rm, col("lm.month") === col("rm.month"), "full_outer")
        .select(coalesce(col("lm.month"), col("rm.month")).as("month"),
          coalesce(col("n_left"), lit(0L)).as("n_left"),
          coalesce(col("n_right"), lit(0L)).as("n_right"),
          coalesce(col("s_left"), lit(0).cast(dec)).as("s_left"),
          coalesce(col("s_right"), lit(0).cast(dec)).as("s_right"))
      // micro-unit-exact integer images of the DECIMAL(27,6) sums (6 dp is
      // the quantum where double->decimal rounding agrees across engines;
      // 2 dp does NOT — the x1.1 perturbation mints genuine 3rd-dp digits
      // whose half-tie rounding differs, measured one cent per ~30 groups)
      val lc = (col("s_left") * 1000000).cast(DecimalType(38, 0))
      val rc = (col("s_right") * 1000000).cast(DecimalType(38, 0))
      // integer div (both engines truncate toward zero), never IEEE /
      j.select(col("month"), col("n_left"), col("n_right"),
          (col("s_right") - col("s_left")).cast("double").as("sum_delta"),
          lc.as("lc"), rc.as("rc"))
        .select(col("month"), col("n_left"), col("n_right"), col("sum_delta"),
          when(col("lc") === 0, lit(null))
            .otherwise(expr("(1000000L * (rc - lc)) div lc")).cast("long")
            .as("rel_delta_ppm"),
          when(lit(1000000L) * abs(col("rc") - col("lc")) <= lit(5000L) * abs(col("lc")), 1L)
            .otherwise(0L).as("ties_out"))
    },

    Q("diff_merge3", {
      def sideSel(alias: String, pfx: String) =
        valueCols.map(c => s"$alias.$c AS ${pfx}_$c").mkString(", ")
      def anyDistinctPfx(a: String, b: String) =
        valueCols.map(c => s"${a}_$c IS DISTINCT FROM ${b}_$c").mkString(" OR ")
      def statusCase(p: String, pfx: String) =
        s"""CASE WHEN NOT bp AND NOT $p THEN 'N'
           |     WHEN NOT bp THEN 'I'
           |     WHEN NOT $p THEN 'D'
           |     WHEN ${anyDistinctPfx("b", pfx)} THEN 'C' ELSE 'N' END""".stripMargin
      val mergedCols = valueCols.map(c =>
        s"""CASE WHEN merge_status = 'N' THEN b_$c
           |     WHEN merge_status IN ('L', 'A') THEN l_$c
           |     WHEN merge_status = 'R' THEN r_$c END AS merged_$c""".stripMargin)
        .mkString(",\n")
      s"""$Prelude,
         |r2 AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CASE WHEN o_orderkey % 62 = 0 THEN o_totalprice * 1.1
         |              WHEN o_orderkey % 41 = 0 THEN o_totalprice * 0.9
         |              ELSE o_totalprice END AS o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 113 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 79 = 0
         |),
         |j AS (
         |  SELECT COALESCE(b.o_orderkey, lb.o_orderkey, rb.o_orderkey) AS o_orderkey,
         |         b.o_orderkey IS NOT NULL AS bp,
         |         lb.o_orderkey IS NOT NULL AS lp,
         |         rb.o_orderkey IS NOT NULL AS rp,
         |         ${sideSel("b", "b")}, ${sideSel("lb", "l")}, ${sideSel("rb", "r")}
         |  FROM l b
         |  FULL OUTER JOIN r lb ON b.o_orderkey = lb.o_orderkey
         |  FULL OUTER JOIN r2 rb
         |    ON COALESCE(b.o_orderkey, lb.o_orderkey) = rb.o_orderkey),
         |st AS (
         |  SELECT *, ${statusCase("lp", "l")} AS left_status,
         |            ${statusCase("rp", "r")} AS right_status
         |  FROM j),
         |m AS (
         |  SELECT *,
         |    CASE WHEN left_status = 'N' AND right_status = 'N' THEN 'N'
         |         WHEN right_status = 'N' THEN 'L'
         |         WHEN left_status = 'N' THEN 'R'
         |         WHEN left_status = right_status AND (left_status = 'D'
         |              OR NOT (${anyDistinctPfx("l", "r")})) THEN 'A'
         |         ELSE 'X' END AS merge_status
         |  FROM st)
         |SELECT o_orderkey, left_status, right_status, merge_status,
         |  (merge_status IN ('L', 'A') AND left_status = 'D')
         |    OR (merge_status = 'R' AND right_status = 'D') AS merged_deleted,
         |$mergedCols
         |FROM m""".stripMargin
    }) { (s, d) =>
      // Three-way merge: base = orders, branches = the two deterministic
      // mutations. Exercises every verdict class at sf0.01 (agree-C 237,
      // conflict C/C 6, D/C 3, C/D 4, agree-D 2 — counted in DuckDB).
      Differ.merge3(left(s, d), right(s, d), right2(s, d), keys)
    },

    // SCD type-2 history build (r7) — the warehouse pattern that turns a
    // stack of snapshots into validity intervals: per key, runs of
    // consecutive versions with identical values collapse to one
    // [valid_from, valid_to) row; valid_to NULL = current. Deletes close
    // the interval, re-inserts open a new one, value changes split.
    // Fixture versions: v0 = orders, v1 = the diff churn, v2 = the merge3
    // branch — so the history exercises every transition (stable keys,
    // one-version deletes, price flips that revert, late inserts).
    Q("diff_scd2", s"""$Scd2Ctes
         |SELECT o_orderkey, o_totalprice, valid_from, valid_to FROM dim""".stripMargin) { (s, d) =>
      scd2Dim(s, d)
    },

    // Streaming SCD2 dimension sink (r12) — the COMPOSITION capstone of
    // the r12 maintenance family: full dimension snapshots arrive as a
    // stream (the nightly extract feed), and each micro-batch diffs
    // against the TxnLog table's current rows and applies the changeset
    // incrementally (StreamOps.scd2Sink → Differ.applyScd2), committing
    // version = batchId so a crash-replayed batch is a structural no-op
    // (asserted in-line below, the stream_txn_sink discipline). The
    // read-back history must equal the full SCD2 rebuild from the
    // snapshot stack — the SAME oracle SQL as diff_scd2, which is the
    // exactly-once proof AND the incremental-correctness proof in one.
    Q("stream_scd2_sink", s"""$Scd2Ctes
         |SELECT o_orderkey, o_totalprice, valid_from, valid_to FROM dim""".stripMargin) {
      (s, d) =>
        val table = s"$scd2SinkRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}" +
          s"/t${scd2SinkSeq.incrementAndGet()}"
        val sink = graft.streaming.StreamOps.scd2Sink(table, keys)
        def snap(df: DataFrame) = df.select(col("o_orderkey"), col("o_totalprice"))
        sink(snap(left(s, d)), 0L)
        sink(snap(right(s, d)), 1L)
        sink(snap(right(s, d)), 1L) // crash-replay: structural no-op
        sink(snap(right2(s, d)), 2L)
        graft.sources.TxnLog.read(s, table)
          .select("o_orderkey", "o_totalprice", "valid_from", "valid_to")
    },

    // INCREMENTAL SCD2 maintenance (r12) — the nightly dimension load:
    // apply the v1→v2 changeset to the v0..v1 history (close C/D keys'
    // current intervals at v2, open fresh current rows for C/I) touching
    // only changeset-sized data — never the snapshot stack, never a
    // window. The oracle is the FULL three-version rebuild (Scd2Ctes'
    // dim, the same SQL diff_scd2 checks against): incremental == rebuild
    // is the losslessness proof, and it covers every interval case the
    // fixture plants (run extension, value change, delete-close,
    // re-insert-after-delete, fresh insert).
    Q("diff_scd2_apply", s"""$Scd2Ctes
         |SELECT o_orderkey, o_totalprice, valid_from, valid_to FROM dim""".stripMargin) {
      (s, d) =>
        def tag(df: DataFrame, v: Int) =
          df.select(col("o_orderkey"), lit(v).as("version"), col("o_totalprice"))
        val dimV1 = Differ.scd2(
          tag(left(s, d), 0).unionByName(tag(right(s, d), 1)),
          keys, "version", Seq("o_totalprice"), maxVersion = 1)
        val changeset = Differ.diff(
          right(s, d).select("o_orderkey", "o_totalprice"),
          right2(s, d).select("o_orderkey", "o_totalprice"), keys)
        Differ.applyScd2(dimV1, changeset, keys, newVersion = 2)
    },

    // Point-in-time (PIT) dimension join (r8) — the feature-store
    // correctness primitive: each fact row joins the SCD2 dimension row
    // that was VALID AT the fact's as-of version, never today's value
    // (training-serving skew guard). Facts are lineitems with as-of
    // version l_linenumber % 3; a fact whose as-of falls in a validity
    // GAP (key deleted at that version) correctly drops — "no dimension
    // existed then" IS the PIT answer.
    //
    // Scale shape: the range predicate (valid_from <= v < valid_to) is
    // NOT executed as a range join — each dim interval explodes to its
    // ≤ maxVersion+1 integer versions (bounded fan-out) and the join
    // becomes a plain equi-join on (key, version) that shuffles/SMJs on
    // the fact key. At 100 TB: the exploded dim is still dim-sized×3,
    // the fact table shuffles once on its join key, no BNLJ anywhere
    // (timestamp-valid dims use join_asof's window machinery instead).
    Q("join_scd2_pit",
      s"""$Scd2Ctes,
         |dimv AS (
         |  SELECT o_orderkey, o_totalprice, valid_from, valid_to, g.v AS v
         |  FROM dim,
         |       (SELECT unnest(generate_series(0, 2)) AS v) g
         |  WHERE g.v >= valid_from AND g.v < coalesce(valid_to, 3)),
         |fact AS (
         |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |         CAST(l_linenumber % 3 AS BIGINT) AS asof_v
         |  FROM lineitem)
         |SELECT f.l_orderkey, f.l_linenumber, f.asof_v,
         |       d.o_totalprice AS price_at_v, d.valid_from, d.valid_to
         |FROM fact f JOIN dimv d
         |  ON d.o_orderkey = f.l_orderkey AND d.v = f.asof_v""".stripMargin) {
      (s, d) =>
        val dim = scd2Dim(s, d)
        val dimv = dim.withColumn("v",
          explode(sequence(col("valid_from"),
            coalesce(col("valid_to"), lit(3L)) - 1L)))
        val fact = Tables.cachedTable(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          (col("l_linenumber") % 3).cast("long").as("asof_v"))
        fact.join(dimv,
            fact("l_orderkey") === dimv("o_orderkey") &&
              fact("asof_v") === dimv("v"))
          .select(fact("l_orderkey"), col("l_linenumber"), col("asof_v"),
            dimv("o_totalprice").as("price_at_v"),
            col("valid_from"), col("valid_to"))
    },

    // Join-key discovery (r8) — the datacompy-style "what should I diff
    // on" helper: before any diff runs, report per column its distinct
    // count, null count, and whether it is unique — the unique, null-free
    // columns are the key candidates the differ's dup-key precondition
    // (diff_dup_keys) will accept. One pass, all columns measured
    // simultaneously (count(DISTINCT x) per column rides Spark's expand
    // into one aggregate — no per-column scans).
    Q("diff_key_candidates",
      """WITH m AS (
        |  SELECT count(*) AS n_rows,
        |         count(DISTINCT o_orderkey) AS d1, count(o_orderkey) AS c1,
        |         count(DISTINCT o_custkey) AS d2, count(o_custkey) AS c2,
        |         count(DISTINCT o_orderstatus) AS d3, count(o_orderstatus) AS c3,
        |         count(DISTINCT o_orderdate) AS d4, count(o_orderdate) AS c4
        |  FROM orders)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_distinct AS BIGINT) AS n_distinct,
        |       CAST(n_nulls AS BIGINT) AS n_nulls,
        |       CAST(CASE WHEN n_distinct = n_rows AND n_nulls = 0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS key_candidate
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, n_rows, d1 AS n_distinct,
        |         n_rows - c1 AS n_nulls FROM m
        |  UNION ALL SELECT 'o_custkey', n_rows, d2, n_rows - c2 FROM m
        |  UNION ALL SELECT 'o_orderstatus', n_rows, d3, n_rows - c3 FROM m
        |  UNION ALL SELECT 'o_orderdate', n_rows, d4, n_rows - c4 FROM m)""".stripMargin) {
      (s, d) =>
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
        val m = Tables.cachedTable(s, d, "orders").agg(
          count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(
            countDistinct(col(c)).as(s"d_$c"),
            count(col(c)).as(s"c_$c"))): _*)
        // widen the 1-row stats frame to one row per column via a bounded
        // explode — the agg runs ONCE, not once per unioned branch
        val entries = cols.map(c =>
          struct(lit(c).as("col_name"),
            col(s"d_$c").cast("long").as("n_distinct"),
            (col("n_rows") - col(s"c_$c")).cast("long").as("n_nulls")))
        m.select(col("n_rows").cast("long").as("n_rows"),
            explode(array(entries: _*)).as("e"))
          .select(col("e.col_name"), col("n_rows"),
            col("e.n_distinct"), col("e.n_nulls"))
          .withColumn("key_candidate",
            when(col("n_distinct") === col("n_rows") && col("n_nulls") === 0, 1L)
              .otherwise(0L))
    },

    Q("mv_incremental",
      s"""$Prelude
         |SELECT o_custkey,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,12))) AS DOUBLE), 5)
         |         AS sum_price
         |FROM r GROUP BY 1""".stripMargin) {
      // Incremental materialized-view maintenance: the (custkey → count,
      // sum) MV over the NEW snapshot is rebuilt from the OLD MV plus the
      // diff-sized changeset — the REFRESH path consumes only those two
      // frames (here the changeset is built by the diff, which reads the
      // new snapshot once; in production it is the persisted CDC artifact
      // and the refresh touches no snapshot at all). The oracle recomputes
      // from scratch, so any drift between delta algebra and recompute
      // fails the hash. Every changeset row explodes
      // into ≤2 signed contributions (C/D retract the left payload, C/I
      // assert the right one — C rows may move groups, both sides count),
      // so the update cost is one changeset-sized agg merged into the
      // groups-sized MV; groups whose count reaches 0 drop out, matching
      // recompute semantics. Sums ride DECIMAL(27,12) quantization (exact,
      // order-free) and surface as rounded doubles. At 100 TB the old MV is
      // the persisted artifact and the daily refresh costs O(|changeset|).
      (s, d) =>
        val price = "o_totalprice"
        val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(27, 12))
        val oldMv = left(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), sum(dec(col(price))).as("sum_price"))
        val ch = Differ.diff(left(s, d), right(s, d), keys)
          .filter(col("diff_status") =!= "N")
        val st = col("diff_status")
        val retract = ch.filter(st.isin("C", "D")).select(
          col("left_o_custkey").as("o_custkey"),
          lit(-1L).as("n_orders"), (dec(col(s"left_$price")) * -1).as("sum_price"))
        val assert_ = ch.filter(st.isin("C", "I")).select(
          col("right_o_custkey").as("o_custkey"),
          lit(1L).as("n_orders"), dec(col(s"right_$price")).as("sum_price"))
        oldMv.unionByName(retract).unionByName(assert_)
          .groupBy(col("o_custkey"))
          .agg(sum(col("n_orders")).cast("long").as("n_orders"),
            round(sum(col("sum_price")).cast("double"), 5).as("sum_price"))
          .filter(col("n_orders") > 0)
    },

    Q("mv_incremental_join",
      s"""$Prelude
         |SELECT c.c_mktsegment,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       round(CAST(sum(CAST(r.o_totalprice AS DECIMAL(27,12))) AS DOUBLE), 5)
         |         AS sum_price
         |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
         |GROUP BY 1""".stripMargin) {
      // Incremental maintenance of a JOIN view — the harder delta-algebra
      // case beyond mv_incremental's single-table MV: the view is
      // orders ⋈ customer rolled up to market segment, and the refresh is
      // old MV ⊕ (Δorders ⋈ customer) — the refresh path consumes only
      // the changeset (produced here by the diff; in production the
      // persisted CDC artifact) and the join runs only over it (broadcast dim
      // at this size; at 100 TB a shuffled dim-equi join of the
      // changeset). C rows may move segments via o_custkey, so both the
      // left retraction and the right assertion join independently.
      // Groups reaching zero count drop out, matching recompute. The
      // oracle recomputes from scratch, so any drift in the join-delta
      // rule fails the hash.
      (s, d) =>
        val price = "o_totalprice"
        val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(27, 12))
        val cust = Tables.cachedTable(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        def seg(of: DataFrame, custCol: String): DataFrame =
          of.join(cust, of(custCol) === cust("c_custkey"))
        val oldMv = seg(left(s, d), "o_custkey")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), sum(dec(col(price))).as("sum_price"))
        val ch = Differ.diff(left(s, d), right(s, d), keys)
          .filter(col("diff_status") =!= "N")
        val st = col("diff_status")
        val retract = seg(ch.filter(st.isin("C", "D"))
            .select(col("left_o_custkey").as("ck"), col(s"left_$price").as("p")), "ck")
          .select(col("c_mktsegment"), lit(-1L).as("n_orders"),
            (dec(col("p")) * -1).as("sum_price"))
        val assert_ = seg(ch.filter(st.isin("C", "I"))
            .select(col("right_o_custkey").as("ck"), col(s"right_$price").as("p")), "ck")
          .select(col("c_mktsegment"), lit(1L).as("n_orders"),
            dec(col("p")).as("sum_price"))
        oldMv.unionByName(retract).unionByName(assert_)
          .groupBy(col("c_mktsegment"))
          .agg(sum(col("n_orders")).cast("long").as("n_orders"),
            round(sum(col("sum_price")).cast("double"), 5).as("sum_price"))
          .filter(col("n_orders") > 0)
    },

    Q("diff_invert",
      s"""$Prelude
         |SELECT
         |  CASE WHEN r.o_orderkey IS NULL THEN 'I'
         |       WHEN l.o_orderkey IS NULL THEN 'D'
         |       ELSE 'C' END AS diff_status,
         |  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
         |  ${valueCols.map(c => s"r.$c AS left_$c, l.$c AS right_$c").mkString(", ")}
         |FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
         |WHERE l.o_orderkey IS NULL OR r.o_orderkey IS NULL
         |   OR ${anyDistinct(valueCols)}""".stripMargin) {
      // CDC rollback: inverting the l→r changeset yields the r→l changeset
      // WITHOUT diffing in the other direction — a pure projection over the
      // diff-sized artifact (status swap + payload swap, zero joins). The
      // oracle IS the reverse diff (r as the left side), so any asymmetry
      // in the inversion fails the hash; the apply round-trip
      // applyChangeset(right, invert(diff(l,r))) == left is pinned in
      // DifferSpec.
      (s, d) => Differ.invertChangeset(Differ.diff(left(s, d), right(s, d), keys))
    },

    // Metadata-level schema comparison. The schema pair is DETERMINISTIC
    // (orders' parquet schema + three closed-form perturbations: a retype,
    // an add, a drop), so the expected frame is a VALUES literal — a real
    // oracle, not a rows-only check (r8 verdict ask #6). Any drift in how
    // Spark renders type names (e.g. TIMESTAMP vs TIMESTAMP_NTZ on a
    // parquet read) or in schemaDiff's classification flips the hash.
    Q("schema_diff",
      """SELECT * FROM (VALUES
        |  ('o_orderkey',     'BIGINT',    'BIGINT',        'same'),
        |  ('o_custkey',      'BIGINT',    'BIGINT',        'same'),
        |  ('o_orderstatus',  'STRING',    'STRING',        'same'),
        |  ('o_totalprice',   'DOUBLE',    'DECIMAL(18,2)', 'type_changed'),
        |  ('o_orderdate',    'TIMESTAMP_NTZ', 'TIMESTAMP_NTZ', 'same'),
        |  ('o_orderpriority','STRING',    CAST(NULL AS VARCHAR), 'removed'),
        |  ('o_comment',      CAST(NULL AS VARCHAR), 'STRING', 'added')
        |) AS t(column_name, left_type, right_type, status)""".stripMargin) { (s, d) =>
      val l = left(s, d)
      val r = right(s, d)
        .withColumn("o_totalprice", col("o_totalprice").cast(DecimalType(18, 2)))
        .withColumn("o_comment", lit("x"))
        .drop("o_orderpriority")
      Differ.schemaDiff(s, l, r)
    },

    // Column-MAPPING discovery (r8b) — the schema-matching step before
    // any diff of a renamed table can run: which right column is which
    // left column, decided by distinct-VALUE overlap, not by name
    // (diff_mapped_cols consumes the mapping this produces; diff_key_
    // candidates answered the sibling question for keys). The right side
    // carries a decoy (o_orderkey values) that PARTIALLY overlaps
    // o_custkey's, so the report must discriminate full from partial
    // overlap — exact ppm ratios on distinct counts, no floats.
    Q("diff_column_mapping",
      """WITH lf AS (
        |  SELECT 'o_orderstatus' AS lc, CAST(o_orderstatus AS VARCHAR) AS val
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
        |  FROM orders GROUP BY 2),
        |rf AS (
        |  SELECT 'st' AS rc, CAST(o_orderstatus AS VARCHAR) AS val
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'prio', CAST(o_orderpriority AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'ck', CAST(o_custkey AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'ok_decoy', CAST(o_orderkey AS VARCHAR)
        |  FROM orders GROUP BY 2),
        |n AS (SELECT lc, count(*) AS n_left FROM lf GROUP BY 1),
        |m AS (SELECT lf.lc, rf.rc, count(*) AS n_shared
        |      FROM lf JOIN rf USING (val) GROUP BY 1, 2)
        |SELECT m.lc, m.rc, CAST(n_shared AS BIGINT) AS n_shared,
        |       CAST(n_shared * 1000000 // n_left AS BIGINT) AS overlap_ppm
        |FROM m JOIN n USING (lc)""".stripMargin) { (s, d) =>
      // Scale shape: per-column DISTINCT sets are the only thing that
      // moves (each bounded by the column's cardinality, never the row
      // count — at 100 TB high-cardinality columns would ride an HLL or
      // a bottom-k value sample instead, same plan); the value join is
      // distinct-set-sized on both sides.
      val o = Tables.cachedTable(s, d, "orders")
      def longForm(side: String, cols: Seq[(String, String)]) =
        cols.map { case (src, out) =>
          o.select(lit(out).as(side), col(src).cast("string").as("val")).distinct()
        }.reduce(_ unionByName _)
      val lf = longForm("lc", Seq(
        "o_orderstatus" -> "o_orderstatus",
        "o_orderpriority" -> "o_orderpriority",
        "o_custkey" -> "o_custkey"))
      val rf = longForm("rc", Seq(
        "o_orderstatus" -> "st", "o_orderpriority" -> "prio",
        "o_custkey" -> "ck", "o_orderkey" -> "ok_decoy"))
      val n = lf.groupBy("lc").agg(count(lit(1)).as("n_left"))
      lf.join(rf, "val")
        .groupBy("lc", "rc").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(n), "lc")
        .select(col("lc"), col("rc"), col("n_shared"),
          expr("n_shared * 1000000 div n_left").as("overlap_ppm"))
    },

    // AUTO-mapped diff (r13; composes diff_column_mapping's discovery into
    // diffMapped — the r12 verdict's #3 ask): diff a RENAMED table with
    // zero user input. Right side = the standard churn fixture with
    // o_orderstatus→st, o_orderpriority→prio renamed plus an ok_decoy ADD
    // column (o_orderkey strings — overlaps neither left column, proving
    // unclaimed adds pass through like any new column). Discovery maps by
    // distinct-value overlap ≥ 900000 ppm; ambiguous/partial candidates
    // throw naming them (DifferSpec pins both failure modes + equality
    // with the hand-written columnMap). COMPOSITION RULE: the oracle
    // embeds the discovery CTEs and gates the diff on their outcome — if
    // the discovered mapping ever drifts from {o_orderstatus→st,
    // o_orderpriority→prio}, the oracle emits ZERO rows and the hash
    // fails, so query and discovery cannot diverge silently. Scale shape:
    // discovery ships per-column DISTINCT sets + a column-pair-sized
    // grid collect; the diff is diffMapped's single full-outer exchange.
    Q("diff_auto_mapped",
      s"""$Prelude,
         |rr AS (SELECT o_orderkey, o_custkey, o_orderstatus AS st, o_totalprice,
         |              o_orderdate, o_orderpriority AS prio,
         |              CAST(o_orderkey AS VARCHAR) AS ok_decoy FROM r),
         |lf AS (SELECT 'o_orderstatus' AS lc, CAST(o_orderstatus AS VARCHAR) AS val
         |       FROM l GROUP BY 2
         |       UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
         |       FROM l GROUP BY 2),
         |rf AS (SELECT 'st' AS rc, CAST(st AS VARCHAR) AS val FROM rr GROUP BY 2
         |       UNION ALL SELECT 'prio', CAST(prio AS VARCHAR) FROM rr GROUP BY 2
         |       UNION ALL SELECT 'ok_decoy', CAST(ok_decoy AS VARCHAR)
         |       FROM rr GROUP BY 2),
         |nn AS (SELECT lc, count(*) AS n_left FROM lf GROUP BY 1),
         |m AS (SELECT lf.lc, rf.rc, count(*) AS n_shared
         |      FROM lf JOIN rf USING (val) GROUP BY 1, 2),
         |fm AS (SELECT m.lc, m.rc FROM m JOIN nn USING (lc)
         |       WHERE n_shared * 1000000 // n_left >= 900000)
         |SELECT
         |  CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |       WHEN rr.o_orderkey IS NULL THEN 'D'
         |       WHEN l.o_custkey IS DISTINCT FROM rr.o_custkey
         |         OR l.o_orderstatus IS DISTINCT FROM rr.st
         |         OR l.o_totalprice IS DISTINCT FROM rr.o_totalprice
         |         OR l.o_orderdate IS DISTINCT FROM rr.o_orderdate
         |         OR l.o_orderpriority IS DISTINCT FROM rr.prio THEN 'C'
         |       ELSE 'N' END AS diff_status,
         |  COALESCE(l.o_orderkey, rr.o_orderkey) AS o_orderkey,
         |  l.o_custkey AS left_o_custkey, rr.o_custkey AS right_o_custkey,
         |  l.o_orderstatus AS left_o_orderstatus, rr.st AS right_o_orderstatus,
         |  l.o_totalprice AS left_o_totalprice, rr.o_totalprice AS right_o_totalprice,
         |  l.o_orderdate AS left_o_orderdate, rr.o_orderdate AS right_o_orderdate,
         |  l.o_orderpriority AS left_o_orderpriority, rr.prio AS right_o_orderpriority
         |FROM l FULL OUTER JOIN rr ON l.o_orderkey = rr.o_orderkey
         |WHERE (SELECT count(*) FROM fm) = 2
         |  AND (SELECT count(*) FROM fm
         |       WHERE (lc = 'o_orderstatus' AND rc = 'st')
         |          OR (lc = 'o_orderpriority' AND rc = 'prio')) = 2""".stripMargin) {
      (s, d) =>
        val renamed = right(s, d)
          .withColumnRenamed("o_orderstatus", "st")
          .withColumnRenamed("o_orderpriority", "prio")
          .withColumn("ok_decoy", col("o_orderkey").cast("string"))
        Differ.diffAutoMapped(left(s, d), renamed, keys)
    },

    // NON-throwing auto-map census (r14; the r13 verdict's #7 ask):
    // diffAutoMapped rightly THROWS on ambiguity — but the user resolving
    // that ambiguity needs the full candidate grid as a frame, not an
    // exception message. autoMapReport emits one row per overlapping
    // (left-only, right-only) column pair with its exact ppm and the
    // decision-table verdict (mapped / ambiguous / conflict / partial /
    // below) plus a 'drop' spine row per zero-overlap left column.
    // Fixture exercises four verdicts on one frame: three exact renames
    // (status→st, priority→prio, custkey→ck → mapped), the orderkey-
    // string decoy (overlaps custkey below threshold WITH a full match
    // present → below), a half-overlap decoy with NO full match (h_src ↔
    // h_decoy: even custkeys shared, odd ones re-keyed out of range →
    // partial at ~500000 ppm), and a zero-overlap left tag column
    // (→ drop). DifferSpec pins ambiguous/conflict on synthetic frames
    // and that diffAutoMapped's throws agree with the report's verdicts
    // (one discovery body serves both surfaces). Scale shape: the same
    // one-scan-per-side long-form distinct discovery as diff_auto_mapped;
    // verdict windows partition the column-pair-sized grid; nothing
    // collects.
    Q("diff_auto_map_report",
      """WITH lf0 AS (
        |  SELECT 'o_orderstatus' AS lc, CAST(o_orderstatus AS VARCHAR) AS val
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'l_tag', 'LTAG' || CAST(o_orderkey AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'h_src', 'H' || CAST(o_custkey AS VARCHAR)
        |  FROM orders GROUP BY 2),
        |lf AS (SELECT * FROM lf0 WHERE val IS NOT NULL),
        |rf0 AS (
        |  SELECT 'st' AS rc, CAST(o_orderstatus AS VARCHAR) AS val
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'prio', CAST(o_orderpriority AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'ck', CAST(o_custkey AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'ok_decoy', CAST(o_orderkey AS VARCHAR)
        |  FROM orders GROUP BY 2
        |  UNION ALL SELECT 'h_decoy',
        |    'H' || CAST(CASE WHEN o_custkey % 2 = 0 THEN o_custkey
        |                     ELSE o_custkey * 100000 + 7 END AS VARCHAR)
        |  FROM orders GROUP BY 2),
        |rf AS (SELECT * FROM rf0 WHERE val IS NOT NULL),
        |nn AS (SELECT lc, count(*) AS n_left FROM lf GROUP BY 1),
        |g0 AS (SELECT lf.lc, rf.rc, count(*) AS n_shared
        |       FROM lf JOIN rf USING (val) GROUP BY 1, 2),
        |grid AS (SELECT g0.lc, g0.rc, CAST(n_shared AS BIGINT) AS n_shared,
        |                CAST(n_shared * 1000000 // n_left AS BIGINT) AS overlap_ppm
        |         FROM g0 JOIN nn USING (lc)),
        |g1 AS (SELECT *, sum(CASE WHEN overlap_ppm >= 900000 THEN 1 ELSE 0 END)
        |                 OVER (PARTITION BY lc) AS n_full FROM grid),
        |g2 AS (SELECT lc, rc, n_shared, overlap_ppm,
        |         CASE WHEN overlap_ppm >= 900000 THEN
        |                CASE WHEN n_full > 1 THEN 'ambiguous' ELSE 'mapped' END
        |              WHEN overlap_ppm >= 450000 AND n_full = 0 THEN 'partial'
        |              ELSE 'below' END AS verdict
        |       FROM g1),
        |g3 AS (SELECT lc, rc, n_shared, overlap_ppm,
        |         CASE WHEN verdict = 'mapped'
        |               AND sum(CASE WHEN verdict = 'mapped' THEN 1 ELSE 0 END)
        |                   OVER (PARTITION BY rc) > 1 THEN 'conflict'
        |              ELSE verdict END AS verdict
        |       FROM g2),
        |spine AS (SELECT unnest(['o_orderstatus', 'o_orderpriority', 'o_custkey',
        |                         'l_tag', 'h_src']) AS lc)
        |SELECT * FROM g3
        |UNION ALL
        |SELECT s.lc, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |       CAST(NULL AS BIGINT), 'drop'
        |FROM spine s WHERE NOT EXISTS (SELECT 1 FROM grid WHERE grid.lc = s.lc)""".stripMargin) {
      (s, d) =>
        val o = Tables.cachedTable(s, d, "orders")
        val l = o.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_custkey"),
          concat(lit("LTAG"), col("o_orderkey").cast("string")).as("l_tag"),
          concat(lit("H"), col("o_custkey").cast("string")).as("h_src"))
        val r = o.select(col("o_orderkey"),
          col("o_orderstatus").as("st"), col("o_orderpriority").as("prio"),
          col("o_custkey").as("ck"),
          col("o_orderkey").cast("string").as("ok_decoy"),
          concat(lit("H"),
            when(col("o_custkey") % 2 === 0, col("o_custkey"))
              .otherwise(col("o_custkey") * 100000L + 7L).cast("string"))
            .as("h_decoy"))
        Differ.autoMapReport(l, r, keys)
    },

    // Catalog-level multi-table diff sweep (r13; the r12 verdict's #4
    // ask): "did last night's load change ANY of the N tables?" as one
    // long-format report — per table, the 4-status census (zero-filled
    // spine: always exactly 4 census rows) plus schema_diff's
    // add/drop/retype rows, every row carrying the per-table pass/fail
    // verdict. Fixture: orders = the churn pair (C/D/I mass → fail,
    // no drift); orders_slim = identical data under schema drift (one
    // dropped + one added column → 2 schema rows, census all-N → still
    // fail; lineitem is out — its (orderkey, linenumber) pair is NON-
    // unique in this synthetic data, the dup-key family's territory);
    // customer = identical snapshot (→ the one pass). Report =
    // 3×4 census + 2 schema = 14 rows. 100 TB shape: one full-outer diff
    // exchange per table pair, census aggs map-side combinable, spines
    // broadcast, verdict = a window over the 14-row report; the pairs
    // UNION into ONE job — no driver-side loop over collected results.
    Q("diff_catalog",
      s"""$Prelude,
         |cen AS (SELECT CASE WHEN l.o_orderkey IS NULL THEN 'I'
         |                    WHEN r.o_orderkey IS NULL THEN 'D'
         |                    WHEN ${anyDistinct(valueCols)} THEN 'C'
         |                    ELSE 'N' END AS item
         |        FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey),
         |oc AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM cen GROUP BY 1),
         |spine AS (SELECT unnest(['N','C','I','D']) AS item),
         |rows0 AS (
         |  SELECT 'orders' AS table_name, 'census' AS kind, spine.item,
         |         CAST(NULL AS VARCHAR) AS detail,
         |         COALESCE(oc.n, 0) AS n
         |  FROM spine LEFT JOIN oc USING (item)
         |  UNION ALL
         |  SELECT 'orders_slim', 'census', s.item, NULL,
         |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM orders)
         |              ELSE 0 END
         |  FROM spine s
         |  UNION ALL SELECT 'orders_slim', 'schema', 'o_totalprice', 'removed', NULL
         |  UNION ALL SELECT 'orders_slim', 'schema', 'load_batch', 'added', NULL
         |  UNION ALL
         |  SELECT 'customer', 'census', s.item, NULL,
         |         CASE WHEN s.item = 'N' THEN (SELECT count(*) FROM customer)
         |              ELSE 0 END
         |  FROM spine s),
         |flag AS (SELECT table_name,
         |                max(CASE WHEN kind = 'schema'
         |                          OR (kind = 'census' AND item <> 'N' AND n > 0)
         |                         THEN 1 ELSE 0 END) AS bad
         |         FROM rows0 GROUP BY 1)
         |SELECT r0.table_name, r0.kind, r0.item, r0.detail, r0.n,
         |       CASE WHEN flag.bad > 0 THEN 'fail' ELSE 'pass' END AS verdict
         |FROM rows0 r0 JOIN flag USING (table_name)""".stripMargin) {
      (s, d) =>
        val osL = Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val osR = osL.drop("o_totalprice").withColumn("load_batch", lit(7L))
        val cust = Tables.cachedTable(s, d, "customer")
        Differ.catalogDiff(Seq(
          ("orders", left(s, d), right(s, d), keys),
          ("orders_slim", osL, osR, Seq("o_orderkey")),
          ("customer", cust, cust, Seq("c_custkey"))))
    },

    // Catalog-wide COLUMN drift census (r15) — the column-grain sibling
    // of diff_catalog's row census: per (table, column), how many
    // key-matched rows differ in THAT column, with the pair's matched-row
    // count as the denominator. A row census says "40k C rows"; this says
    // they're ALL o_totalprice — the difference between paging a team and
    // fixing one upstream job. Same three fixture pairs as diff_catalog:
    // orders churn (only o_totalprice drifts — the %31 class — and the
    // oracle pins the OTHER four columns at exactly 0, so a compare that
    // leaked the key churn into value columns flips the hash),
    // orders_slim (shared value column o_custkey only — dropped/added
    // columns are schema drift, diff_catalog's beat, NOT cell drift), and
    // customer vs itself (4 all-zero columns at the full matched count).
    // One inner-join exchange + ONE agg pass per pair (count + every
    // per-column conditional sum in the same map-side-combinable agg),
    // stack-unpivoted; pairs union into one job.
    Q("diff_catalog_cols",
      s"""$Prelude,
         |m AS (SELECT count(*) AS nm,
         |        sum(CASE WHEN l.o_custkey IS DISTINCT FROM r.o_custkey
         |                 THEN 1 ELSE 0 END) AS d1,
         |        sum(CASE WHEN l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
         |                 THEN 1 ELSE 0 END) AS d2,
         |        sum(CASE WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice
         |                 THEN 1 ELSE 0 END) AS d3,
         |        sum(CASE WHEN l.o_orderdate IS DISTINCT FROM r.o_orderdate
         |                 THEN 1 ELSE 0 END) AS d4,
         |        sum(CASE WHEN l.o_orderpriority IS DISTINCT FROM r.o_orderpriority
         |                 THEN 1 ELSE 0 END) AS d5
         |      FROM l JOIN r ON l.o_orderkey = r.o_orderkey)
         |SELECT 'orders' AS table_name, 'o_custkey' AS column_name,
         |       CAST(d1 AS BIGINT) AS n_diff, CAST(nm AS BIGINT) AS n_matched
         |FROM m
         |UNION ALL SELECT 'orders', 'o_orderstatus', CAST(d2 AS BIGINT),
         |       CAST(nm AS BIGINT) FROM m
         |UNION ALL SELECT 'orders', 'o_totalprice', CAST(d3 AS BIGINT),
         |       CAST(nm AS BIGINT) FROM m
         |UNION ALL SELECT 'orders', 'o_orderdate', CAST(d4 AS BIGINT),
         |       CAST(nm AS BIGINT) FROM m
         |UNION ALL SELECT 'orders', 'o_orderpriority', CAST(d5 AS BIGINT),
         |       CAST(nm AS BIGINT) FROM m
         |UNION ALL SELECT 'orders_slim', 'o_custkey', CAST(0 AS BIGINT),
         |       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         |UNION ALL SELECT 'customer', v.c, CAST(0 AS BIGINT),
         |       (SELECT CAST(count(*) AS BIGINT) FROM customer)
         |FROM (VALUES ('c_name'), ('c_nationkey'), ('c_acctbal'),
         |             ('c_mktsegment')) v(c)""".stripMargin) {
      (s, d) =>
        val osL = Tables.cachedTable(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val osR = osL.drop("o_totalprice").withColumn("load_batch", lit(7L))
        val cust = Tables.cachedTable(s, d, "customer")
        Differ.catalogDiffCols(Seq(
          ("orders", left(s, d), right(s, d), keys),
          ("orders_slim", osL, osR, Seq("o_orderkey")),
          ("customer", cust, cust, Seq("c_custkey"))))
    },

    // Catalog-SOURCED sweep (r14; the r13 verdict's #4 ask — diff_catalog
    // takes caller-built pairs, this answers the production question
    // directly: "diff every gdcat_*_l table against its _r counterpart"):
    // Differ.catalogDiffTables enumerates the session catalog by regex,
    // pairs via a name mapping, AUTO-infers each pair's key (the
    // electKeys election — atomic column unique + null-free on BOTH
    // sides, multi-candidate ties broken by cross-side distinct-value
    // overlap so the planted churned-load_ts decoy loses, r15), and
    // folds everything into one
    // catalogDiff report. Failures a sweep must SURVIVE become report
    // rows, not exceptions: a left table with no usable key (a
    // (custkey, status) slice — every column duplicated) and a left
    // table whose right twin is missing both land as kind='error'
    // fail-verdict rows while the healthy tables still diff. Fixture:
    // orders churn pair (inferred key o_orderkey → fail by data),
    // customer vs itself (inferred key c_custkey → the one pass), nokey
    // slice (→ no_unique_key error), lost table (→ missing_right error)
    // — 8 census + 2 error rows. The oracle hard-codes the inferred-key
    // OUTCOME (the full-outer on o_orderkey / the all-N customer census):
    // if inference ever picked a different column, the census counts
    // drift and the hash fails. Scale shape: table listing is catalog
    // metadata; key inference is ONE unioned job of per-table single
    // aggregates collected at (tables × columns) grain; the diffs are
    // catalogDiff's one-exchange-per-pair union.
    Q("diff_catalog_tables", GdcatSweepOracle) {
      (s, d) =>
        gdcatFixture(s, d)
        Differ.catalogDiffTables(s, "gdcat_.*_l", n => n.stripSuffix("_l") + "_r")
    },

    // SQL reach for the catalog sweep (r14): `SELECT * FROM
    // graft_diff_catalog('gdcat_.*_l', '_l', '_r')` — the regex +
    // suffix-rewrite convention (staging_x_old -> staging_x_new) with
    // keys auto-inferred and error rows surviving, exactly the Scala
    // catalogDiffTables (same fixture, same oracle — the TVF must be
    // plan-equivalent to the API call). Enumeration + inference run at
    // analysis time; the report is one distributed union job.
    Q("sql_diff_catalog_tvf", GdcatSweepOracle) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        gdcatFixture(s, d)
        s.sql("SELECT * FROM graft_diff_catalog('gdcat_.*_l', '_l', '_r')")
    },

    // Sweep KEY OVERRIDES (r15): `keysFor(name) = keys` pins a pair's
    // diff key explicitly (`keys_for => 'tbl:k1,k2;...'` from SQL) — the
    // caller's schema knowledge beating inference. The overridden pair
    // skips the inference stats scan entirely, the override rides
    // diff()'s own contract (uniqueness asserted by the caller —
    // diffDupKeys is the audit tool), a bad override (absent columns)
    // demotes to that pair's pair_invalid error row, and an override
    // naming an un-swept table refuses loudly. Fixture (the STRONG form —
    // election must not be able to reproduce this census): the composite-
    // grain lineitem slice with a CHURNED unique load_ts surrogate placed
    // FIRST in schema order. Election would pick load_ts (the only single
    // candidate) and report everything D+I with zero C; the override pins
    // (l_orderkey, l_linenumber), making load_ts a value column that
    // churns on EVERY matched row — all-C census. The two outcomes share
    // no census row, so a sweep that dropped the override flips the hash.
    // The un-overridden customer pair rides along on its elected key.
    Q("diff_catalog_key_override", GdkoOverrideOracle) {
      (s, d) =>
        gdkoFixture(s, d)
        Differ.catalogDiffTables(s, "gdko_(lt|cust)_l",
          n => n.stripSuffix("_l") + "_r",
          keysFor = Map("gdko_lt_l" -> Seq("l_orderkey", "l_linenumber")))
    },

    // COMPOSITE-key ELECTION (r15; the pair tier): a table with NO single
    // unique column no longer dead-ends — the election falls back to
    // column PAIRS drawn from the shared null-free columns (ranked by the
    // smaller side's distinct count, capped at 6 -> at most 15 combos;
    // ONE more unioned job over only the zero-single-candidate tables,
    // per combo a countDistinct over the pair struct on each side). The
    // li slice has NO unique single column on either side at any SF, so
    // this census exists ONLY because the pair tier elected (l_orderkey,
    // l_linenumber) — a sweep without the tier emits a no_unique_key
    // error row and flips the hash; the un-overridden customer pair
    // rides along on its single-column election.
    Q("diff_catalog_composite_elect", GdkoOracle) {
      (s, d) =>
        gdkoFixture(s, d)
        Differ.catalogDiffTables(s, "gdko_(li|cust)_l",
          n => n.stripSuffix("_l") + "_r")
    },

    // Catalog-sourced COLUMN drift census from SQL (r15): `SELECT * FROM
    // graft_diff_catalog_cols('gdko_.*_l', '_l', '_r', keys_for => ...)`
    // — catalogDiffTables' enumeration + election + overrides, emitting
    // catalogDiffCols' per-(table, column) grain plus a note column
    // (healthy rows NULL; un-censusable tables survive as one note row —
    // spec-pinned on synthetic frames; this fixture's tables are all
    // healthy so the oracle is pure census). The li pair censuses under
    // the COMPOSITE override (only l_quantity, drifting on the %37 class
    // of retained rows, denominated by the %41-retained match count);
    // the customer pair censuses under its elected c_custkey with four
    // all-zero columns — a census that keyed wrong, counted inserts as
    // matches, or leaked key churn into a value column flips the hash.
    Q("sql_diff_catalog_cols_tvf",
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |             sum(l_quantity) AS l_quantity
        |      FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT count(*) AS nm,
        |             sum(CASE WHEN (l_orderkey + l_linenumber) % 37 = 0
        |                      THEN 1 ELSE 0 END) AS nd
        |      FROM li WHERE (l_orderkey + l_linenumber) % 41 <> 0)
        |SELECT 'gdko_li_l' AS table_name, 'l_quantity' AS column_name,
        |       CAST(nd AS BIGINT) AS n_diff, CAST(nm AS BIGINT) AS n_matched,
        |       CAST(NULL AS VARCHAR) AS note
        |FROM m
        |UNION ALL
        |SELECT 'gdko_cust_l', v.c, CAST(0 AS BIGINT),
        |       (SELECT CAST(count(*) AS BIGINT) FROM customer),
        |       CAST(NULL AS VARCHAR)
        |FROM (VALUES ('c_name'), ('c_nationkey'), ('c_acctbal'),
        |             ('c_mktsegment')) v(c)""".stripMargin) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        gdkoFixture(s, d)
        s.sql("SELECT * FROM graft_diff_catalog_cols('gdko_(li|cust)_l', '_l', '_r', " +
          "keys_for => 'gdko_li_l:l_orderkey,l_linenumber')")
    },

    // Single-pair key inference from SQL (r15; the r14 verdict's #5 ask):
    // `graft_diff('l', 'r', 'auto')` — the sweep's election (unique +
    // null-free on both sides, ties broken by cross-side value overlap)
    // surfaced for ONE pair, so a SQL user needn't know the key to diff
    // two snapshots. Sentinel design: the whole keys argument being the
    // bare word `auto` triggers inference; a REAL column named auto is
    // addressed by identifier quoting ('`auto`' — every key token strips
    // one outer backtick pair), so quoting always means the column —
    // ExtensionsSpec pins both paths and the loud no-unique-key failure.
    // Fixture: the decoy pair — a unique-but-churned load_ts AHEAD of the
    // real key k — and the oracle hard-codes the k-keyed full diff, so an
    // election that picked load_ts (all D+I, zero C) flips the hash.
    Q("sql_diff_tvf_auto",
      """WITH dl AS (SELECT o_orderkey * 2 + 1 AS load_ts, o_orderkey AS k,
        |                   o_custkey AS v FROM orders),
        |dr AS (SELECT o_orderkey * 2 AS load_ts, o_orderkey AS k,
        |              CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 1
        |                   ELSE o_custkey END AS v
        |       FROM orders WHERE o_orderkey % 23 <> 0
        |       UNION ALL
        |       SELECT -o_orderkey, o_orderkey + 30000000, o_custkey
        |       FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT CASE WHEN l.k IS NULL THEN 'I'
        |            WHEN r.k IS NULL THEN 'D'
        |            WHEN l.load_ts IS DISTINCT FROM r.load_ts
        |              OR l.v IS DISTINCT FROM r.v THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       COALESCE(l.k, r.k) AS k,
        |       l.load_ts AS left_load_ts, r.load_ts AS right_load_ts,
        |       l.v AS left_v, r.v AS right_v
        |FROM dl l FULL OUTER JOIN dr r ON l.k = r.k""".stripMargin) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        gdcatFixture(s, d)
        s.sql("SELECT * FROM graft_diff('gdcat_decoy_l', 'gdcat_decoy_r', 'auto')")
    },

    // TxnLog-DIRECTORY sweep (r14; the lakehouse half of the same ask —
    // "did last night's commits change anything, per table?"): enumerate
    // every TxnLog table under a root directory (child dir carrying a
    // _graft_log), diff each table's PREVIOUS snapshot against its
    // LATEST with the same auto-inferred keys and error-row survival as
    // diff_catalog_tables; a single-version table cannot be diffed and
    // lands as a no_previous_version error row. Fixture: orders_t = the
    // churn pair committed as versions 0/1 (fail by data), cust_t =
    // customer committed twice identically (pass), fresh_t = one version
    // only (error) — 8 census + 1 error row. Version resolution is log
    // metadata; both reads are snapshot-pinned, so the sweep stays
    // consistent under concurrent writers. Oracle recomputes the v0→v1
    // census from raw orders — a read that resolved the wrong version,
    // lost a file, or inferred the wrong key flips the hash.
    Q("diff_catalog_txnlog", TxnSweepOracle) {
      (s, d) =>
        Differ.catalogDiffTxnLog(s, txnSweepFixture(s, d))
    },

    // VERSION-RANGE TxnLog sweep (r15; the r14 verdict's #4 ask —
    // prev-vs-latest answers "what changed last night"; (fromVer, toVer)
    // answers "what changed since Monday, per table"): same enumeration,
    // inference, and error-row survival, with both endpoints pinned to
    // requested versions instead of the implicit (latest-1, latest).
    // Fixture: orders_t3 commits v0=left / v1=right / v2=right2 — the
    // v0→v2 diff must SKIP v1, so the oracle recomputes the census from
    // the RAW v0/v2 derivations (a sweep that silently resolved
    // prev-vs-latest would diff v1→v2 and flip the hash); cust_t3 = three
    // identical versions (pass); shallow_t has one version, landing as a
    // version_out_of_range error row with the range and the table's real
    // version span named. Reads stay snapshot-pinned at BOTH endpoints —
    // consistent under concurrent writers at any requested range. SQL
    // twin: graft_diff_txnlog(root, from_version => 0, to_version => 2),
    // plan-equivalence pinned in ExtensionsSpec.
    Q("diff_catalog_txnlog_range", TxnRangeOracle) {
      (s, d) =>
        Differ.catalogDiffTxnLog(s, txnRangeFixture(s, d),
          fromVer = Some(0L), toVer = Some(2L))
    },

    // TIMESTAMP-endpoint TxnLog sweep (r15; the "/asOf" half of the r14
    // verdict's #4 ask): from_ts/to_ts resolve PER TABLE to the latest
    // version committed at-or-before the instant (Delta-style — the
    // commit's timestamp is its log file's mtime, pinned by the fixture:
    // orders_t3/cust_t3 commit v0/v1/v2 a day apart Jan 5/6/7), so ONE
    // wall-clock question sweeps tables sitting at different version
    // numbers. from_ts = Jan 5 12:00 / to_ts = Jan 7 12:00 must resolve
    // v0→v2 on both 3-version tables — the oracle recomputes THAT census
    // from the raw snapshot derivations, so resolving prev-vs-latest,
    // rounding to the NEAREST commit instead of at-or-before, or applying
    // one global version number would all flip the hash. shallow_t's only
    // commit (Jan 6 12:00) POSTDATES from_ts and survives as a
    // timestamp_out_of_range error row. SQL twin: graft_diff_txnlog(root,
    // from_ts => '2026-01-05T12:00:00Z', ...), plan-equivalence pinned in
    // ExtensionsSpec.
    Q("diff_catalog_txnlog_asof", TxnAsofOracle) {
      (s, d) =>
        Differ.catalogDiffTxnLog(s, txnRangeFixture(s, d),
          fromTs = Some(java.time.Instant.parse("2026-01-05T12:00:00Z").toEpochMilli),
          toTs = Some(java.time.Instant.parse("2026-01-07T12:00:00Z").toEpochMilli))
    },

    // TxnLog sweep from SQL (r14): `SELECT * FROM
    // graft_diff_txnlog('/data/tables')` — the nightly "did last night's
    // commits change anything, per table?" check with zero Scala; same
    // fixture root and oracle as diff_catalog_txnlog, so the TVF must be
    // plan-equivalent to the API call (the root path is a STRING literal
    // spliced at parse time — plan shape can't be data-dependent).
    Q("sql_diff_txnlog_tvf", TxnSweepOracle) {
      (s, d) =>
        graft.GraftExtensions.register(s)
        val root = txnSweepFixture(s, d)
        s.sql(s"SELECT * FROM graft_diff_txnlog('$root')")
    },

    // COMPOSITE-key diff (r8b): row identity = (l_orderkey, l_linenumber)
    // — the common production case the single-key surface never gated
    // (order lines, (user, day) facts, (file, chunk) tables). The oracle
    // full-outer-joins on BOTH columns, so a diff that hashed keys
    // jointly-wrong, matched on one column, or mis-coalesced the key pair
    // flips the hash. Inserts use linenumber+10 (disjoint from TPC-H's
    // 1..7 range) so I rows are structural, not accidental.
    Q("diff_composite_key",
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem),
        |r AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN (l_orderkey + l_linenumber) % 37 = 0
        |              THEN l_quantity + 5 ELSE l_quantity END AS l_quantity
        |  FROM l WHERE (l_orderkey + l_linenumber) % 41 <> 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber + 10, l_quantity
        |  FROM l WHERE (l_orderkey + l_linenumber) % 43 = 0)
        |SELECT CASE WHEN a.l_orderkey IS NULL THEN 'I'
        |            WHEN b.l_orderkey IS NULL THEN 'D'
        |            WHEN a.l_quantity IS DISTINCT FROM b.l_quantity THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       coalesce(a.l_orderkey, b.l_orderkey) AS l_orderkey,
        |       coalesce(a.l_linenumber, b.l_linenumber) AS l_linenumber,
        |       a.l_quantity AS left_l_quantity,
        |       b.l_quantity AS right_l_quantity
        |FROM l a FULL OUTER JOIN r b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber"""
        .stripMargin) { (s, d) =>
      // Scale note: the composite key shuffles ONCE as a pair — identical
      // plan shape to the single-key diff (hash partitioning on both
      // columns), no extra exchange for the second key column.
      val l = Tables.cachedTable(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val keySum = col("l_orderkey") + col("l_linenumber")
      val r = l.filter(keySum % 41 =!= 0)
        .withColumn("l_quantity",
          when(keySum % 37 === 0, col("l_quantity") + 5)
            .otherwise(col("l_quantity")))
        .unionByName(l.filter(keySum % 43 === 0)
          .withColumn("l_linenumber", col("l_linenumber") + 10))
      Differ.diff(l, r, Seq("l_orderkey", "l_linenumber"))
    },

    // NULL-key diff (r8b): the nullSafeKeys=true contract in the gate — a
    // row whose key is NULL must MATCH its NULL-keyed counterpart (<=>
    // join), not silently fall out of an equi-join into a spurious D + I
    // pair. One NULL-key row exists per side (NULL keys are unique row
    // identities here, same as the dup-key precondition demands), its
    // value doubled on the right so the expected answer is a 'C' row WITH
    // a NULL key — the exact row a null-naive diff cannot produce. The
    // oracle joins on IS NOT DISTINCT FROM and detects side-absence via
    // presence markers (key IS NULL no longer means "absent" — the
    // coalesce idiom is wrong here by construction, which is the point).
    Q("diff_null_keys",
      """WITH mn AS (SELECT min(o_orderkey) AS m FROM orders WHERE o_orderkey <= 5000),
        |l AS (SELECT CASE WHEN o_orderkey = (SELECT m FROM mn) THEN NULL
        |             ELSE o_orderkey END AS k,
        |             o_totalprice AS v
        |      FROM orders WHERE o_orderkey <= 5000),
        |r AS (SELECT k, CASE WHEN k IS NULL OR k % 13 = 0 THEN v * 2 ELSE v END AS v
        |      FROM l WHERE k IS NULL OR k % 17 <> 0
        |      UNION ALL
        |      SELECT k + 1000000, v FROM l WHERE k % 19 = 0),
        |j AS (SELECT a.k AS ak, a.v AS av, a.pa, b.k AS bk, b.v AS bv, b.pb
        |      FROM (SELECT *, 1 AS pa FROM l) a
        |      FULL OUTER JOIN (SELECT *, 1 AS pb FROM r) b
        |        ON a.k IS NOT DISTINCT FROM b.k)
        |SELECT CASE WHEN pa IS NULL THEN 'I' WHEN pb IS NULL THEN 'D'
        |            WHEN av IS DISTINCT FROM bv THEN 'C' ELSE 'N' END AS diff_status,
        |       CASE WHEN pa IS NOT NULL THEN ak ELSE bk END AS k,
        |       av AS left_v, bv AS right_v
        |FROM j""".stripMargin) { (s, d) =>
      val o = Tables.cachedTable(s, d, "orders")
        .filter(col("o_orderkey") <= 5000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val mn = o.agg(min("o_orderkey").as("m"))
      val l = o.crossJoin(broadcast(mn))
        .select(when(col("o_orderkey") === col("m"), lit(null))
          .otherwise(col("o_orderkey")).as("k"),
          col("o_totalprice").as("v"))
      val r = l.filter(col("k").isNull || col("k") % 17 =!= 0)
        .select(col("k"),
          when(col("k").isNull || col("k") % 13 === 0, col("v") * 2)
            .otherwise(col("v")).as("v"))
        .unionByName(l.filter(col("k") % 19 === 0)
          .select((col("k") + 1000000L).as("k"), col("v")))
      Differ.diff(l, r, Seq("k"))
    },

    // Diff over COMPLEX value columns (r8g): the differ's null-safe
    // compare (`<=>`) is type-generic, so array and struct values diff
    // without flattening — what a config-table or feature-store diff
    // actually needs (Spark cannot equality-compare maps; canonicalize
    // maps to sorted entry arrays first — documented contract). Fixture
    // perturbs three independent axes: the ARRAY changes on %7 keys, a
    // struct FIELD (lang case) changes on %5 keys, rows vanish per side
    // on %11/%13 — so a compare that ignores nesting or short-circuits on
    // the first column misclassifies a specific, named key class. Output
    // projects struct fields to scalars (artifact-hash-friendly); the C
    // status itself proves the nested compare fired.
    Q("diff_complex_types",
      """WITH base AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk, n_chars, lang
        |  FROM documents),
        |l AS (SELECT doc_id, tk[1:3] AS toks, n_chars, lang
        |      FROM base WHERE doc_id % 11 <> 0),
        |r AS (SELECT doc_id,
        |             CASE WHEN doc_id % 7 = 0 THEN tk[1:2] ELSE tk[1:3] END AS toks,
        |             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars,
        |             CASE WHEN doc_id % 5 = 0 THEN upper(lang) ELSE lang END AS lang
        |      FROM base WHERE doc_id % 13 <> 0)
        |SELECT CASE WHEN l.doc_id IS NULL THEN 'I'
        |            WHEN r.doc_id IS NULL THEN 'D'
        |            WHEN l.toks IS DISTINCT FROM r.toks
        |              OR l.n_chars IS DISTINCT FROM r.n_chars
        |              OR l.lang IS DISTINCT FROM r.lang THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       coalesce(l.doc_id, r.doc_id) AS doc_id,
        |       to_json(l.toks) AS left_toks, to_json(r.toks) AS right_toks,
        |       l.n_chars AS ln_chars, r.n_chars AS rn_chars,
        |       l.lang AS llang, r.lang AS rlang
        |FROM l FULL OUTER JOIN r ON l.doc_id = r.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"),
          col("n_chars"), col("lang"))
      val l = base.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), expr("slice(tk, 1, 3)").as("toks"),
          struct(col("n_chars"), col("lang")).as("meta"))
      val r = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, expr("slice(tk, 1, 2)"))
            .otherwise(expr("slice(tk, 1, 3)")).as("toks"),
          struct(
            when(col("doc_id") % 7 === 0, col("n_chars") + 1)
              .otherwise(col("n_chars")).as("n_chars"),
            when(col("doc_id") % 5 === 0, upper(col("lang")))
              .otherwise(col("lang")).as("lang")).as("meta"))
      // The nested compare runs on the RAW array/struct columns inside
      // Differ.diff; only the ARTIFACT boundary canonicalizes arrays via
      // to_json so the driver's pandas checker can sort the result (the
      // r8 lesson: array cells are unhashable there). Spark and DuckDB
      // both serialize string arrays as compact `["a","b"]` with SQL NULL
      // passing through — verified byte-identical.
      Differ.diff(l, r, Seq("doc_id"))
        .select(col("diff_status"), col("doc_id"),
          to_json(col("left_toks")).as("left_toks"),
          to_json(col("right_toks")).as("right_toks"),
          col("left_meta.n_chars").as("ln_chars"),
          col("right_meta.n_chars").as("rn_chars"),
          col("left_meta.lang").as("llang"),
          col("right_meta.lang").as("rlang"))
    },

    // Diff over MAP-typed value columns (r9, verdict ask #4) — the
    // feature-store case (`map<string,double>` feature bags) that Spark's
    // `<=>` refuses outright (maps are un-comparable). Differ routes
    // map-bearing columns through mapAwareEq: key-sorted entries compared
    // as arrays, so two maps with the same pairs in DIFFERENT entry order
    // are equal. The fixture makes that the load-bearing property: left
    // builds map('chars'→…, 'words'→…), right builds it REVERSED
    // ('words' first) — an order-sensitive compare would call EVERY
    // matched row C, while the oracle derives C solely from the %7/%5
    // value perturbations. Output maps canonicalize via Differ.mapCanon
    // (key-sorted to_json) so the artifact is harness-sortable — the
    // diff_complex_types lesson applied from birth.
    Q("diff_map_types",
      """WITH base AS (
        |  SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_words
        |  FROM documents),
        |l AS (SELECT doc_id, n_chars AS c, n_words AS w FROM base
        |      WHERE doc_id % 11 <> 0),
        |r AS (SELECT doc_id,
        |             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS c,
        |             CASE WHEN doc_id % 5 = 0 THEN n_words + 2 ELSE n_words END AS w
        |      FROM base WHERE doc_id % 13 <> 0)
        |SELECT CASE WHEN l.doc_id IS NULL THEN 'I'
        |            WHEN r.doc_id IS NULL THEN 'D'
        |            WHEN l.c IS DISTINCT FROM r.c
        |              OR l.w IS DISTINCT FROM r.w THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       coalesce(l.doc_id, r.doc_id) AS doc_id,
        |       CASE WHEN l.doc_id IS NULL THEN NULL
        |            ELSE to_json([{'key': 'chars', 'value': l.c},
        |                          {'key': 'words', 'value': l.w}]) END AS left_m,
        |       CASE WHEN r.doc_id IS NULL THEN NULL
        |            ELSE to_json([{'key': 'chars', 'value': r.c},
        |                          {'key': 'words', 'value': r.w}]) END AS right_m
        |FROM l FULL OUTER JOIN r ON l.doc_id = r.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
      val l = base.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          map(lit("chars"), col("n_chars"), lit("words"), col("n_words")).as("m"))
      val r = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          map(lit("words"),
            when(col("doc_id") % 5 === 0, col("n_words") + 2).otherwise(col("n_words")),
            lit("chars"),
            when(col("doc_id") % 7 === 0, col("n_chars") + 1).otherwise(col("n_chars"))).as("m"))
      Differ.diff(l, r, Seq("doc_id"))
        .select(col("diff_status"), col("doc_id"),
          Differ.mapCanon(col("left_m")).as("left_m"),
          Differ.mapCanon(col("right_m")).as("right_m"))
    },

    // Diff with BAG-semantics array columns (r9) — diff_complex_types
    // compares arrays POSITIONALLY (a reordered list is C); a tag list,
    // token set, or label array has no meaningful order, and a positional
    // diff floods the report with false C rows after any upstream
    // re-sort. DiffOptions(bagCols) canonicalizes the declared columns
    // via array_sort on BOTH sides before the null-safe compare. The
    // fixture makes order the load-bearing axis: right's array is the
    // REVERSE of left's (same elements — must be N); only %7 rows
    // actually drop an element (C). Output arrays canonicalize sorted +
    // to_json (harness-sortable).
    Q("diff_array_bag",
      """WITH base AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |l AS (SELECT doc_id, tk[1:3] AS toks FROM base WHERE doc_id % 11 <> 0),
        |r AS (SELECT doc_id,
        |             CASE WHEN doc_id % 7 = 0 THEN list_reverse(tk[1:2])
        |                  ELSE list_reverse(tk[1:3]) END AS toks
        |      FROM base WHERE doc_id % 13 <> 0)
        |SELECT CASE WHEN l.doc_id IS NULL THEN 'I'
        |            WHEN r.doc_id IS NULL THEN 'D'
        |            WHEN list_sort(l.toks) IS DISTINCT FROM list_sort(r.toks)
        |              THEN 'C'
        |            ELSE 'N' END AS diff_status,
        |       coalesce(l.doc_id, r.doc_id) AS doc_id,
        |       to_json(list_sort(l.toks)) AS left_toks,
        |       to_json(list_sort(r.toks)) AS right_toks
        |FROM l FULL OUTER JOIN r ON l.doc_id = r.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      val l = base.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), expr("slice(tk, 1, 3)").as("toks"))
      val r = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, reverse(expr("slice(tk, 1, 2)")))
            .otherwise(reverse(expr("slice(tk, 1, 3)"))).as("toks"))
      Differ.diff(l, r, Seq("doc_id"), DiffOptions(bagCols = Set("toks")))
        .select(col("diff_status"), col("doc_id"),
          to_json(array_sort(col("left_toks"))).as("left_toks"),
          to_json(array_sort(col("right_toks"))).as("right_toks"))
    }
  )
}
