package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** §2.B aggregations + window functions.
  *
  * Determinism rules (SURVEY §7.5): double sums go through DECIMAL(18,2)
  * (exact, order-independent) and are cast back to DOUBLE; averages are
  * decimal-sum / count in double (identical IEEE division both engines); all
  * window orderings are tie-broken by a unique key.
  */
object AggWindowQueries {

  private val sumQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"

  /** quality_benford's expected first-digit shares, round(log10(1+1/d)·1e6)
    * for d = 1..9 — computed ONCE here and interpolated as integer literals
    * into both engines (rank_ndcg's no-libm-in-the-gate discipline).
    */
  private val BenfordPpm: Seq[Long] =
    (1 to 9).map(dd => Math.round(math.log10(1.0 + 1.0 / dd) * 1e6))

  /** DuckDB CASE mapping digit → expected-ppm literal. */
  private def BenfordCase: String =
    BenfordPpm.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }
      .mkString("CASE digit ", " ", " ELSE 0 END")

  /** The two-sample frame of quality_ks_test and quality_mannwhitney:
    * order prices split by key parity into side 0 and side 1. Returns the
    * per-distinct-price counts (v, c1p, c2p) and the 1-row sample sizes
    * (n1, n2).
    */
  private def sideCounts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val t = Tables.cachedTable(s, d, "orders")
      .select(col("o_totalprice").as("v"), (col("o_orderkey") % 2).as("side"))
    val c1 = sum(when(col("side") === 0, 1L).otherwise(0L))
    val c2 = sum(when(col("side") === 1, 1L).otherwise(0L))
    (t.groupBy("v").agg(c1.as("c1p"), c2.as("c2p")), t.agg(c1.as("n1"), c2.as("n2")))
  }

  /** Price band of [[sideCounts]]' running sums: monotone in v. */
  private def priceBand = expr("CAST(floor(v / 10000.0) AS BIGINT)")

  def all: Seq[Q] = Seq(
    Q("agg_groupby",
      s"""SELECT l_returnflag, l_linestatus,
         |  $sumQty AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  $sumQty / COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val qtyDec = sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
      Tables.cachedTable(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          qtyDec.as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          (qtyDec / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    Q("agg_distinct_count",
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
    },

    Q("agg_corr",
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |       round((n * sxy - sx * sy) /
        |             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 5) AS corr_qty_price,
        |       round((sxy - sx * sy / n) / (n - 1), 5) AS covar_qty_price,
        |       round(sqrt((sxx - sx * sx / n) / (n - 1)), 5) AS stddev_qty
        |FROM s""".stripMargin) { (s, d) =>
      // Statistical aggregates via DECIMAL-exact moment sums: the builtin
      // corr/covar/stddev stream double partials whose merge order varies
      // per shuffle — not even run-to-run deterministic, let alone
      // cross-engine. Exact decimal moments + identical double formula =
      // bit-identical both sides (same §7.5 discipline as numericStats).
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      def m(c: org.apache.spark.sql.Column, p: Int = 38) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(p, 6))).cast("double")
      Tables.cachedTable(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          m(x, 27).as("sx"), m(y, 27).as("sy"),
          m(x * y).as("sxy"), m(x * x).as("sxx"), m(y * y).as("syy"))
        .select(
          col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 5)
            .as("corr_qty_price"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 5)
            .as("covar_qty_price"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 5)
            .as("stddev_qty"))
    },

    // Geometric + harmonic mean per return flag (r8h) — the mean family's
    // missing members: the geometric mean is the right average for
    // multiplicative quantities (growth factors, price relatives) and the
    // harmonic for rates; both are dragged far from the arithmetic mean by
    // skew, so the (arith, geo, harm) triple is itself a cheap shape
    // diagnostic (AM ≥ GM ≥ HM, gaps grow with dispersion). Exactness:
    // ln(x) and 1/x are quantized per ROW to DECIMAL (the text_entropy
    // ladder) so the sums are exact; one exp / one division at the end
    // (the events_attribution_decay exp-in-the-gate precedent).
    Q("agg_geomean",
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(ln(l_extendedprice) AS DECIMAL(18,6))) AS DOUBLE) AS sl,
        |         CAST(sum(CAST(1.0 / l_extendedprice AS DECIMAL(18,12))) AS DOUBLE) AS si
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |       round(s1 / n, 5) AS arith_mean,
        |       round(exp(sl / n), 5) AS geo_mean,
        |       round(n / si, 5) AS harmonic_mean
        |FROM s""".stripMargin) { (s, d) =>
      val x = col("l_extendedprice")
      val st = Tables.cachedTable(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x.cast("decimal(27,6)")).cast("double").as("s1"),
          sum(log(x).cast("decimal(18,6)")).cast("double").as("sl"),
          sum((lit(1.0) / x).cast("decimal(18,12)")).cast("double").as("si"))
      st.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        round(col("s1") / col("n"), 5).as("arith_mean"),
        round(exp(col("sl") / col("n")), 5).as("geo_mean"),
        round(col("n") / col("si"), 5).as("harmonic_mean"))
    },

    // Exact third-moment skewness per event type — the distribution-shape
    // monitor the mean/variance family misses (a value column whose skew
    // jumps flags a new heavy tail: bot traffic, a price-unit bug). Same
    // DECIMAL-exact power-sum discipline as agg_corr: the builtin skewness
    // streams double partials with shuffle-order-dependent merges; exact
    // decimal S1/S2/S3 + one identical IEEE formula is bit-stable in both
    // engines. Population σ³ in the denominator, products left-associated
    // identically.
    Q("agg_skewness",
      """WITH s AS (
        |  SELECT event_type,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |         CAST(sum(CAST((value * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s3
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
        |       round(s1 / n, 5) AS mean_value,
        |       round((s2 - s1 * s1 / n) / (n - 1), 5) AS var_value,
        |       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (((s1 / n) * (s1 / n)) * (s1 / n)))
        |             / (sqrt(s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))), 5)
        |         AS skew_value
        |FROM s""".stripMargin) { (s, d) =>
      // 100 TB shape: one map-side-combinable types-sized agg over the
      // scan — the three power sums ride the same partial-aggregate pass;
      // everything after is arithmetic on a types-sized frame.
      def m(c: org.apache.spark.sql.Column, p: Int) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(p, 6))).cast("double")
      val v = col("value")
      val st = Tables.cachedTable(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          m(v, 27).as("s1"), m(v * v, 38).as("s2"), m((v * v) * v, 38).as("s3"))
      val mu = col("s1") / col("n")
      val e2 = col("s2") / col("n")
      val e3 = col("s3") / col("n")
      st.select(
        col("event_type"), col("n").cast("long").as("n_rows"),
        round(mu, 5).as("mean_value"),
        round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 5)
          .as("var_value"),
        round((e3 - lit(3) * mu * e2 + lit(2) * ((mu * mu) * mu)) /
          (sqrt(e2 - mu * mu) * (e2 - mu * mu)), 5).as("skew_value"))
    },

    // Fourth standardized moment (r8g) — completes the moment family
    // (mean / var / skew / kurtosis): excess kurtosis is the tail-weight
    // alarm a numeric-drift monitor trends (fat tails inflate it long
    // before the mean moves). Same ladder as agg_skewness: four power
    // sums in ONE map-side-combinable pass, each product quantized to
    // DECIMAL before the exact cross-row sum, the closed form one
    // identical IEEE chain rounded to 5.
    Q("agg_kurtosis",
      """WITH s AS (
        |  SELECT event_type,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |         CAST(sum(CAST((value * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s3,
        |         CAST(sum(CAST((value * value) * (value * value) AS DECIMAL(38,6))) AS DOUBLE) AS s4
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
        |       round((s4 / n - 4 * (s1 / n) * (s3 / n)
        |              + 6 * ((s1 / n) * (s1 / n)) * (s2 / n)
        |              - 3 * (((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n))))
        |             / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
        |             - 3, 5) AS excess_kurtosis
        |FROM s""".stripMargin) { (s, d) =>
      def m(c: org.apache.spark.sql.Column, p: Int) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(p, 6))).cast("double")
      val v = col("value")
      val st = Tables.cachedTable(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          m(v, 27).as("s1"), m(v * v, 38).as("s2"),
          m((v * v) * v, 38).as("s3"), m((v * v) * (v * v), 38).as("s4"))
      val mu = col("s1") / col("n")
      val e2 = col("s2") / col("n")
      val e3 = col("s3") / col("n")
      val e4 = col("s4") / col("n")
      st.select(col("event_type"), col("n").cast("long").as("n_rows"),
        round((e4 - lit(4) * mu * e3 + lit(6) * (mu * mu) * e2 -
          lit(3) * ((mu * mu) * (mu * mu))) /
          ((e2 - mu * mu) * (e2 - mu * mu)) - lit(3), 5)
          .as("excess_kurtosis"))
    },

    // Jarque–Bera normality gate (r8h) — composes the skew and kurtosis
    // moment ladders into the one-number test JB = n/6·(S² + K²/4) (K =
    // excess kurtosis) with the χ²₍₂₎ 95% cut at 5.991: the automated
    // "is this metric column still bell-shaped?" check that turns the
    // shape-monitor family into a pass/fail quality gate. Same
    // DECIMAL-exact power sums as agg_skewness/agg_kurtosis (one
    // map-side-combinable agg streams S1..S4 in a single pass); S and K
    // are IEEE formulas written token-identically in both engines, JB is
    // one more identical formula on top — bit-stable, no tolerance.
    Q("quality_jarque_bera",
      """WITH s AS (
        |  SELECT event_type,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |         CAST(sum(CAST((value * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s3,
        |         CAST(sum(CAST((value * value) * (value * value) AS DECIMAL(38,6))) AS DOUBLE) AS s4
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT event_type, n,
        |         (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (((s1 / n) * (s1 / n)) * (s1 / n)))
        |           / (sqrt(s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
        |           AS sk,
        |         (s4 / n - 4 * (s1 / n) * (s3 / n)
        |            + 6 * ((s1 / n) * (s1 / n)) * (s2 / n)
        |            - 3 * (((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n))))
        |           / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
        |           - 3 AS ek
        |  FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
        |       round(sk, 5) AS skew_value,
        |       round(ek, 5) AS excess_kurtosis,
        |       round(n / 6 * (sk * sk + (ek * ek) / 4), 4) AS jb_stat,
        |       CAST(CASE WHEN n / 6 * (sk * sk + (ek * ek) / 4) < 5.991
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_normal
        |FROM d""".stripMargin) { (s, d) =>
      def m(c: org.apache.spark.sql.Column, p: Int) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(p, 6))).cast("double")
      val v = col("value")
      val st = Tables.cachedTable(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          m(v, 27).as("s1"), m(v * v, 38).as("s2"),
          m((v * v) * v, 38).as("s3"), m((v * v) * (v * v), 38).as("s4"))
      val n = col("n")
      val mu = col("s1") / n
      val e2 = col("s2") / n
      val e3 = col("s3") / n
      val e4 = col("s4") / n
      val sk = (e3 - lit(3) * mu * e2 + lit(2) * ((mu * mu) * mu)) /
        (sqrt(e2 - mu * mu) * (e2 - mu * mu))
      val ek = (e4 - lit(4) * mu * e3 + lit(6) * (mu * mu) * e2 -
        lit(3) * ((mu * mu) * (mu * mu))) /
        ((e2 - mu * mu) * (e2 - mu * mu)) - lit(3)
      val jb = n / lit(6) * (sk * sk + (ek * ek) / lit(4))
      st.select(col("event_type"), n.cast("long").as("n_rows"),
        round(sk, 5).as("skew_value"),
        round(ek, 5).as("excess_kurtosis"),
        round(jb, 4).as("jb_stat"),
        when(jb < 5.991, 1L).otherwise(0L).as("is_normal"))
    },

    // Population Stability Index (r8g) — the model-monitoring drift score
    // diff_drift's share_delta report deliberately omitted: PSI =
    // Σ (p−q)·ln(p/q) over the same 10 fixed price buckets, with +1
    // Laplace smoothing so empty buckets contribute a finite term instead
    // of ln(0). Determinism: p and q are IEEE divisions of exact integers,
    // each bucket's ln term is DECIMAL(18,6)-quantized BEFORE the exact
    // sum (the text_zipf ln discipline), so the 10-term total cannot
    // accumulate engine drift. Conventional read: <0.1 stable, 0.1–0.25
    // drifting, >0.25 act.
    Q("quality_psi",
      """WITH t AS (
        |  SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 0), 9) AS b,
        |         o_orderkey % 2 AS side
        |  FROM orders),
        |n AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n1,
        |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n2 FROM t),
        |c AS (SELECT b, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1,
        |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2
        |      FROM t GROUP BY 1),
        |g AS (SELECT unnest(generate_series(0, 9)) AS b),
        |x AS (SELECT g.b,
        |        CAST(coalesce(c.c1, 0) + 1 AS DOUBLE) / (n.n1 + 10) AS p,
        |        CAST(coalesce(c.c2, 0) + 1 AS DOUBLE) / (n.n2 + 10) AS q
        |      FROM g LEFT JOIN c ON c.b = g.b, n)
        |SELECT CAST((SELECT n1 FROM n) AS BIGINT) AS n1,
        |       CAST((SELECT n2 FROM n) AS BIGINT) AS n2,
        |       CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(18,6))) AS DOUBLE) AS psi
        |FROM x""".stripMargin) { (s, d) =>
      val t = Tables.cachedTable(s, d, "orders")
        .select(
          least(greatest(floor(col("o_totalprice") / 60000.0).cast("long"), lit(0L)),
            lit(9L)).as("b"),
          (col("o_orderkey") % 2).as("side"))
      val n = t.agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n2"))
      val c = t.groupBy("b").agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("c2"))
      val g = s.range(0, 10).select(col("id").as("b"))
      val x = g.join(c, Seq("b"), "left").crossJoin(broadcast(n))
        .select(col("n1"), col("n2"),
          ((coalesce(col("c1"), lit(0L)) + 1).cast("double") / (col("n1") + 10)).as("p"),
          ((coalesce(col("c2"), lit(0L)) + 1).cast("double") / (col("n2") + 10)).as("q"))
      x.groupBy("n1", "n2")
        .agg(sum(((col("p") - col("q")) * log(col("p") / col("q")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double").as("psi"))
        .select(col("n1"), col("n2"), col("psi"))
    },

    // Jensen–Shannon divergence (r9) — quality_psi's bounded, symmetric
    // sibling on the same smoothed 10-bucket pair: PSI blows up on
    // near-empty buckets and is asymmetric (order of snapshots matters);
    // JS ∈ [0, ln 2] is the drift score you can threshold uniformly
    // across metrics. Same Laplace-smoothed p/q; per-bucket term
    // p·ln(p/m) + q·ln(q/m) (m the midpoint) quantized DECIMAL(18,6),
    // exact 10-term sum, one final ×0.5.
    Q("quality_js_divergence",
      """WITH t AS (
        |  SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 0), 9) AS b,
        |         o_orderkey % 2 AS side
        |  FROM orders),
        |n AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n1,
        |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n2 FROM t),
        |c AS (SELECT b, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1,
        |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2
        |      FROM t GROUP BY 1),
        |g AS (SELECT unnest(generate_series(0, 9)) AS b),
        |x AS (SELECT g.b,
        |        CAST(coalesce(c.c1, 0) + 1 AS DOUBLE) / (n.n1 + 10) AS p,
        |        CAST(coalesce(c.c2, 0) + 1 AS DOUBLE) / (n.n2 + 10) AS q
        |      FROM g LEFT JOIN c ON c.b = g.b, n)
        |SELECT CAST((SELECT n1 FROM n) AS BIGINT) AS n1,
        |       CAST((SELECT n2 FROM n) AS BIGINT) AS n2,
        |       0.5 * CAST(sum(CAST(p * ln(p / ((p + q) / 2))
        |                           + q * ln(q / ((p + q) / 2))
        |                        AS DECIMAL(18,6))) AS DOUBLE) AS js_divergence
        |FROM x""".stripMargin) { (s, d) =>
      val t = Tables.cachedTable(s, d, "orders")
        .select(
          least(greatest(floor(col("o_totalprice") / 60000.0).cast("long"), lit(0L)),
            lit(9L)).as("b"),
          (col("o_orderkey") % 2).as("side"))
      val n = t.agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n2"))
      val c = t.groupBy("b").agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("c2"))
      val g = s.range(0, 10).select(col("id").as("b"))
      val x = g.join(c, Seq("b"), "left").crossJoin(broadcast(n))
        .select(col("n1"), col("n2"),
          ((coalesce(col("c1"), lit(0L)) + 1).cast("double") / (col("n1") + 10)).as("p"),
          ((coalesce(col("c2"), lit(0L)) + 1).cast("double") / (col("n2") + 10)).as("q"))
      val mid = (col("p") + col("q")) / 2
      x.groupBy("n1", "n2")
        .agg(sum((col("p") * log(col("p") / mid) + col("q") * log(col("q") / mid))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("s"))
        .select(col("n1"), col("n2"), (lit(0.5) * col("s")).as("js_divergence"))
    },

    // NULL-pattern census (r9) — the missingness MATRIX a data-quality
    // audit reads before imputing: for each column pair, do the nulls
    // co-occur (one broken upstream join nulls both) or anti-occur (two
    // independent feeds)? Nulls are PLANTED by closed-form key rules in
    // BOTH engines (the fixture has none), then the census counts each
    // pair's (n_a, n_b, n_both) in ONE aggregation pass — all integers
    // plus an exact-ppm Jaccard of the null sets.
    Q("quality_missingness",
      """WITH t AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS a,
        |         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS b,
        |         CASE WHEN o_orderkey % 35 = 1 THEN NULL ELSE o_orderpriority END AS c
        |  FROM orders),
        |m AS (SELECT
        |  sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS na,
        |  sum(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS nb,
        |  sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS nc,
        |  sum(CASE WHEN a IS NULL AND b IS NULL THEN 1 ELSE 0 END) AS nab,
        |  sum(CASE WHEN a IS NULL AND c IS NULL THEN 1 ELSE 0 END) AS nac,
        |  sum(CASE WHEN b IS NULL AND c IS NULL THEN 1 ELSE 0 END) AS nbc
        |  FROM t)
        |SELECT * FROM (
        |  SELECT 'a' AS col1, 'b' AS col2, CAST(na AS BIGINT) AS n1,
        |         CAST(nb AS BIGINT) AS n2, CAST(nab AS BIGINT) AS n_both,
        |         CAST(nab * 1000000 // greatest(na + nb - nab, 1) AS BIGINT) AS jaccard_ppm
        |  FROM m
        |  UNION ALL
        |  SELECT 'a', 'c', CAST(na AS BIGINT), CAST(nc AS BIGINT), CAST(nac AS BIGINT),
        |         CAST(nac * 1000000 // greatest(na + nc - nac, 1) AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 'b', 'c', CAST(nb AS BIGINT), CAST(nc AS BIGINT), CAST(nbc AS BIGINT),
        |         CAST(nbc * 1000000 // greatest(nb + nc - nbc, 1) AS BIGINT) FROM m)"""
        .stripMargin) { (s, d) =>
      val t = Tables.cachedTable(s, d, "orders")
        .select(
          when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_custkey")).as("a"),
          when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_totalprice")).as("b"),
          when(col("o_orderkey") % 35 === 1, lit(null))
            .otherwise(col("o_orderpriority")).as("c"))
      def nn(x: String) = sum(when(col(x).isNull, 1L).otherwise(0L))
      def nb(x: String, y: String) =
        sum(when(col(x).isNull && col(y).isNull, 1L).otherwise(0L))
      // ONE aggregation pass; the 3 pair rows unpivot off the 1-row frame
      // via stack (the columnStats idiom) — never one scan per pair.
      t.agg(nn("a").as("na"), nn("b").as("nb"), nn("c").as("nc"),
          nb("a", "b").as("nab"), nb("a", "c").as("nac"), nb("b", "c").as("nbc"))
        .selectExpr(
          """stack(3, 'a', 'b', na, nb, nab,
            |          'a', 'c', na, nc, nac,
            |          'b', 'c', nb, nc, nbc) AS (col1, col2, n1, n2, n_both)"""
            .stripMargin)
        .select(col("col1"), col("col2"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          col("n_both").cast("long").as("n_both"),
          expr("CAST(n_both * 1000000 div greatest(n1 + n2 - n_both, 1) AS BIGINT)")
            .as("jaccard_ppm"))
    },

    // RFM customer segmentation — the classic ops-analytics cut (recency /
    // frequency / monetary, scored 1–5, concatenated into a segment code).
    // Deliberately NOT ntile: a global ntile is a single-task sort over
    // every customer; threshold scoring computes four exact percentiles
    // per metric (one 1-row stats frame, broadcast) and scores each row
    // with integer compares — the quality_outliers / anomaly_mad pattern.
    // Exactness: all three metrics are integers (days, counts, exact
    // decimal cents), percentile interpolation on integers is the pinned
    // anomaly_mad parity (lower + (upper−lower)·frac, both engines), and
    // the scores are pure integer arithmetic on those shared doubles.
    Q("agg_rfm",
      """WITH c AS (SELECT o_custkey, max(o_orderdate) AS last_d,
        |                  CAST(count(*) AS BIGINT) AS freq,
        |                  CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) * 100 AS BIGINT)
        |                    AS monetary_cents
        |           FROM orders GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM c),
        |s AS (SELECT o_custkey, CAST(date_diff('day', last_d, mxd) AS BIGINT) AS rec_days,
        |             freq, monetary_cents
        |      FROM c, mx),
        |t AS (SELECT quantile_cont(rec_days, 0.2) AS r1, quantile_cont(rec_days, 0.4) AS r2,
        |             quantile_cont(rec_days, 0.6) AS r3, quantile_cont(rec_days, 0.8) AS r4,
        |             quantile_cont(freq, 0.2) AS f1, quantile_cont(freq, 0.4) AS f2,
        |             quantile_cont(freq, 0.6) AS f3, quantile_cont(freq, 0.8) AS f4,
        |             quantile_cont(monetary_cents, 0.2) AS m1, quantile_cont(monetary_cents, 0.4) AS m2,
        |             quantile_cont(monetary_cents, 0.6) AS m3, quantile_cont(monetary_cents, 0.8) AS m4
        |      FROM s)
        |SELECT o_custkey, rec_days, freq, monetary_cents,
        |       CAST(1 + (rec_days < r4)::INT + (rec_days < r3)::INT
        |              + (rec_days < r2)::INT + (rec_days < r1)::INT AS BIGINT) AS r_score,
        |       CAST(1 + (freq > f1)::INT + (freq > f2)::INT
        |              + (freq > f3)::INT + (freq > f4)::INT AS BIGINT) AS f_score,
        |       CAST(1 + (monetary_cents > m1)::INT + (monetary_cents > m2)::INT
        |              + (monetary_cents > m3)::INT + (monetary_cents > m4)::INT AS BIGINT) AS m_score
        |FROM s, t""".stripMargin) { (s, d) =>
      // 100 TB shape: one customer-keyed agg (map-side combinable), a
      // 1-row max + a 1-row 12-value percentile frame (both broadcast),
      // then a pure projection — no global sort, no window anywhere.
      val dec = org.apache.spark.sql.types.DecimalType(27, 2)
      val c = Tables.cachedTable(s, d, "orders")
        .groupBy("o_custkey")
        .agg(max("o_orderdate").as("last_d"),
          count(lit(1)).cast("long").as("freq"),
          (sum(col("o_totalprice").cast(dec)) * 100).cast("long").as("monetary_cents"))
      val mx = c.agg(max("last_d").as("mxd"))
      // cached per dir: the three fence fetches and the final projection
      // share one materialization of the customer-level frame
      val sdf = Tables.cached(s, s"$d/rfm-sdf") {
        c.crossJoin(broadcast(mx))
          .select(col("o_custkey"),
            datediff(col("mxd"), col("last_d")).cast("long").as("rec_days"),
            col("freq"), col("monetary_cents"))
      }
      // quantile fences via the banded order-statistic fetch (r8i) — the
      // builtin percentile() would buffer every customer row in one
      // executor buffer, which does not survive a billion-customer frame.
      // All three metrics ride ONE grouped call (metric = the group) over
      // the unpivoted frame; the band divisor is constant per group, so
      // banding stays monotone within each group.
      val unp = sdf.select(col("o_custkey"), explode(array(
          struct(lit("r").as("metric"), col("rec_days").cast("double").as("value")),
          struct(lit("f").as("metric"), col("freq").cast("double").as("value")),
          struct(lit("m").as("metric"),
            col("monetary_cents").cast("double").as("value")))).as("x"))
        .select(col("o_custkey"), col("x.metric").as("metric"),
          col("x.value").as("value"))
      val bandDiv = when(col("metric") === "r", 100.0)
        .when(col("metric") === "f", 4.0).otherwise(1000000.0)
      val fences = graft.operators.CurateOps.exactQuantilesByGroup(
        unp, groupCols = Seq("metric"), valueCol = "value", tieCol = "o_custkey",
        band = floor(col("value") / bandDiv).cast("long"),
        qs = Seq("q1" -> 0.2, "q2" -> 0.4, "q3" -> 0.6, "q4" -> 0.8))
      val fenceCols = for (m <- Seq("r", "f", "m"); i <- 1 to 4)
        yield max(when(col("metric") === m, col(s"q$i"))).as(s"$m$i")
      val th = fences.agg(fenceCols.head, fenceCols.tail: _*)
      def sc(v: String, lo: Boolean, t: Seq[String]) = {
        val cmps = t.map(c0 =>
          (if (lo) (col(v) < col(c0)) else (col(v) > col(c0))).cast("int"))
        (lit(1) + cmps.reduce(_ + _)).cast("long")
      }
      sdf.crossJoin(broadcast(th))
        .select(col("o_custkey"), col("rec_days"), col("freq"), col("monetary_cents"),
          sc("rec_days", lo = true, Seq("r4", "r3", "r2", "r1")).as("r_score"),
          sc("freq", lo = false, Seq("f1", "f2", "f3", "f4")).as("f_score"),
          sc("monetary_cents", lo = false, Seq("m1", "m2", "m3", "m4")).as("m_score"))
    },

    Q("quality_outliers",
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY 1),
        |st AS (SELECT l_returnflag, sx / n AS mean,
        |              sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
        |       FROM s)
        |SELECT l.l_returnflag, l.l_orderkey, l.l_linenumber, l.l_extendedprice,
        |       round((l.l_extendedprice - st.mean) / st.sd, 5) AS zscore
        |FROM lineitem l JOIN st USING (l_returnflag)
        |WHERE abs(l.l_extendedprice - st.mean) > 1.72 * st.sd""".stripMargin) {
      (s, d) =>
        // Numeric outlier report (the row-level complement of
        // quality_checks' table-level gates): per-group z-score flags via
        // the house DECIMAL-exact moments — builtin stddev streams double
        // partials whose merge order varies per shuffle, so mean/sd are
        // derived from exact decimal sums with the identical double
        // formula in both engines (same discipline as agg_corr). The
        // stats table is groups-sized (broadcast); flagging is a second
        // scan with a per-row comparison — two scans, zero extra
        // shuffles at any scale. Threshold 1.72σ is fixture-calibrated:
        // the price column is uniform (max |z| = sqrt(3) ~ 1.732), so a
        // normal-style 3σ gate would be vacuous — 1.72σ flags the ~1.4%
        // distribution tails.
        val x = col("l_extendedprice")
        def m(c: org.apache.spark.sql.Column, p: Int) =
          sum(c.cast(org.apache.spark.sql.types.DecimalType(p, 6))).cast("double")
        val li = Tables.cachedTable(s, d, "lineitem")
        val st = li.groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            m(x, 27).as("sx"), m(x * x, 38).as("sxx"))
          .select(col("l_returnflag"),
            (col("sx") / col("n")).as("mean"),
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
              .as("sd"))
        li.join(broadcast(st), "l_returnflag")
          .filter(abs(x - col("mean")) > lit(1.72) * col("sd"))
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"),
            round((x - col("mean")) / col("sd"), 5).as("zscore"))
    },

    Q("agg_mode",
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderstatus, o_orderpriority, n,
        |             row_number() OVER (PARTITION BY o_orderstatus
        |                                ORDER BY n DESC, o_orderpriority) AS rn
        |      FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      // Deterministic mode (argmax with lexicographic tiebreak) — native
      // `mode()` functions break ties engine-specifically, so the portable
      // count+rank form IS the operator. Domain per group is tiny (priority
      // values), so the rank window needs no two-phase treatment.
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("n").desc, col("o_orderpriority"))
      Tables.cachedTable(s, d, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("n"))
    },

    Q("agg_percentile",
      """SELECT l_returnflag,
        |       quantile_cont(l_extendedprice, 0.5) AS p50,
        |       quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      // Exact percentiles WITHOUT per-group value buffers (r8i): Spark's
      // `percentile` is a TypedImperativeAggregate that collects every
      // value of a group into one executor buffer — OOM at a 100 TB group.
      // CurateOps.exactQuantilesByGroup instead runs the banded two-phase
      // rank and fetches only the two order-statistic rows per quantile,
      // interpolating with EXACTLY the built-in's IEEE tree (bit-equal,
      // pinned in CuratePropSpec) — and DuckDB `quantile_cont` uses the
      // same ANSI (n-1)*p interpolation, so the hash gate holds. (The
      // approximate sketch path is approx_percentile; like
      // approx_count_distinct it has no cross-engine oracle.)
      graft.operators.CurateOps.exactQuantilesByGroup(
        Tables.cachedTable(s, d, "lineitem")
          .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
        groupCols = Seq("l_returnflag"),
        valueCol = "l_extendedprice",
        tieCol = "l_orderkey",
        band = floor(col("l_extendedprice") / 5000).cast("long"),
        qs = Seq("p50" -> 0.5, "p90" -> 0.9))
    },

    // Mergeable EXACT-distinct artifacts (r8) — the bitmap-rollup pattern
    // (Druid/ClickHouse groupBitmap, roaring bitmaps): per (type, day),
    // persist the distinct-user SET as a sorted artifact; any horizon's
    // exact distinct is then the artifact UNION's cardinality — no rescan
    // of raw events, and merge is associative/commutative like the HLL
    // registers (agg_hll_rollup's exact twin — use this while the daily
    // sets fit, HLL past that). The query materializes the per-day
    // artifacts, merges them, and emits merged-vs-direct side by side:
    // the identity IS the check, and sum(per-day) − merged is the
    // cross-day repeat-visitor overlap a dashboard reads for free.
    Q("agg_bitmap_distinct",
      s"""WITH e AS (SELECT event_type,
         |                  (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
         |                  user_id
         |           FROM events),
         |d AS (SELECT event_type, day_us, count(DISTINCT user_id) AS n_day
         |      FROM e GROUP BY 1, 2)
         |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
         |       CAST(sum(n_day) AS BIGINT) AS sum_day_distinct,
         |       CAST(t.n_direct AS BIGINT) AS merged_distinct,
         |       CAST(t.n_direct AS BIGINT) AS direct_distinct
         |FROM d JOIN (SELECT event_type, count(DISTINCT user_id) AS n_direct
         |             FROM e GROUP BY 1) t USING (event_type)
         |GROUP BY 1, t.n_direct""".stripMargin) { (s, d) =>
      val dayUs = 86400000000L
      val e = Tables.events(s, d).select(col("event_type"),
        expr(s"CAST(ts_us DIV $dayUs AS BIGINT) * $dayUs").as("day_us"),
        col("user_id"))
      // the per-day artifact: a sorted distinct-id array (the portable
      // stand-in for a roaring bitmap — identical merge algebra)
      val artifacts = e.groupBy("event_type", "day_us")
        .agg(sort_array(collect_set(col("user_id"))).as("users"))
      val merged = artifacts.groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n_days"),
          sum(size(col("users"))).cast("long").as("sum_day_distinct"),
          size(array_distinct(flatten(collect_list(col("users")))))
            .cast("long").as("merged_distinct"))
      val direct = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("direct_distinct"))
      merged.join(direct, "event_type")
        .select("event_type", "n_days", "sum_day_distinct",
          "merged_distinct", "direct_distinct")
    },

    // Deterministic bottom-k-sample quantile sketch (r8) — the
    // ORACLE-CHECKABLE approximate-quantile path (approx_percentile's
    // t-digest has no cross-engine twin, so it's declared no-oracle; this
    // one hash-checks end to end). The sketch is the k rows with the
    // SMALLEST sha256 hash rank per group — a bottom-k sample is a
    // mergeable sketch (merge = keep the k smallest of the union;
    // associative, commutative, deterministic — the same min-k property
    // the HLL/top-k family rides), and uniform because sha256 ranks are
    // uniform on row identity. Quantiles of the sample estimate the
    // group's quantiles with O(1/sqrt(k)) error, VISIBLE in the output:
    // est and exact sit side by side. At 100 TB the sample is the
    // KB-sized per-group sketch a dashboard stores; the exact columns
    // exist here as the judge of estimate quality (they'd be dropped in
    // production). Sample selection is the two-phase bucketed top-k — no
    // per-group global sort of the full data.
    Q("agg_sample_quantiles",
      """WITH h AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         substr(sha256(CAST(l_orderkey AS VARCHAR) || '-' ||
        |                      CAST(l_linenumber AS VARCHAR)), 1, 16) AS hr,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |s AS (SELECT * FROM (
        |  SELECT l_returnflag, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY hr, l_orderkey, l_linenumber) AS rn
        |  FROM h) WHERE rn <= 64),
        |est AS (SELECT l_returnflag,
        |               quantile_cont(l_extendedprice, 0.5) AS p50_est,
        |               quantile_cont(l_extendedprice, 0.9) AS p90_est
        |        FROM s GROUP BY 1),
        |ex AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |              quantile_cont(l_extendedprice, 0.5) AS p50_exact,
        |              quantile_cont(l_extendedprice, 0.9) AS p90_exact
        |       FROM lineitem GROUP BY 1)
        |SELECT ex.l_returnflag, ex.n_rows, est.p50_est, est.p90_est,
        |       ex.p50_exact, ex.p90_exact
        |FROM ex JOIN est USING (l_returnflag)""".stripMargin) { (s, d) =>
      import graft.operators.TextOps
      val li = Tables.cachedTable(s, d, "lineitem")
      val hashed = li.select(
        col("l_returnflag"), col("l_extendedprice"),
        substring(sha2(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")), 256), 1, 16).as("hr"),
        col("l_orderkey"), col("l_linenumber"))
      val sample = TextOps.topKPerGroup(hashed, Seq("l_returnflag"),
        Seq(col("hr"), col("l_orderkey"), col("l_linenumber")), 64,
        bucketOn = col("l_orderkey"))
      val est = sample.groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("p50_est"),
          percentile(col("l_extendedprice"), lit(0.9)).as("p90_est"))
      // exact side: banded order-statistic fetch, not a per-group value
      // buffer (same rewrite as agg_percentile — the judge columns must
      // also survive a 100 TB group)
      val exactQ = graft.operators.CurateOps.exactQuantilesByGroup(
        li.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
        groupCols = Seq("l_returnflag"),
        valueCol = "l_extendedprice",
        tieCol = "l_orderkey",
        band = floor(col("l_extendedprice") / 5000).cast("long"),
        qs = Seq("p50_exact" -> 0.5, "p90_exact" -> 0.9))
      val counts = li.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
      counts.join(broadcast(exactQ), "l_returnflag")
        .join(broadcast(est), "l_returnflag")
        .select("l_returnflag", "n_rows", "p50_est", "p90_est",
          "p50_exact", "p90_exact")
    },

    Q("agg_pivot",
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
        |       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      // Pivot with an explicit value list (no discovery pass — at scale the
      // implicit form runs an extra distinct job); CASE-without-ELSE in the
      // oracle mirrors pivot's NULL for empty cells.
      Tables.cachedTable(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double"))
    },

    Q("agg_unpivot",
      """WITH m AS (SELECT l_returnflag,
        |                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |                  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
        |                  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
        |           FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value
        |FROM m UNPIVOT (value FOR metric IN (sum_qty, sum_disc, sum_tax))""".stripMargin) {
      (s, d) =>
        // UNPIVOT/melt — the inverse of agg_pivot and the other half of the
        // reshaping surface: wide per-group metrics to (group, metric,
        // value) rows, the shape dashboards and metric stores ingest.
        // Dataset.unpivot is a zero-shuffle projection (each input row
        // fans out to 3 fixed rows), so the only exchange is the 3-group
        // agg that feeds it. DECIMAL-exact sums per house discipline.
        val dec = (c: String) =>
          sum(col(c).cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
        Tables.cachedTable(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(dec("l_quantity").as("sum_qty"), dec("l_discount").as("sum_disc"),
            dec("l_tax").as("sum_tax"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_disc"), col("sum_tax")),
            "metric", "value")
    },

    // HyperLogLog sketch — implementation-specific, no cross-engine oracle;
    // ApproxDistinctSpec pins the tight statistical band. The exact count
    // rides alongside (self-auditing report) and the in-query 10% require
    // (r9 ask #7) makes a sketch regression fail EVERY runner of the key —
    // harness and bench, not just scalatest.
    Q.noOracle("agg_approx_distinct") { (s, d) =>
      // Shared-distinct shape: mixing countDistinct with a sketch agg in
      // ONE aggregate makes Catalyst expand the sketch's partial phase to
      // (group, value) grain — a sketch BUFFER per distinct value (r11,
      // measured 9x; at 100 TB that per-value state is an OOM, not a
      // slowdown). Instead ONE distinct pass feeds both: the sketch is
      // duplicate-insensitive, so its estimate over the distinct frame is
      // bit-identical, and the exact count is a plain count.
      val dk = Tables.cachedTable(s, d, "orders")
        .select("o_orderstatus", "o_custkey").distinct()
      val est = dk.groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_n_cust"),
          count(col("o_custkey")).as("n_exact"))
      graft.Q.requireBand(est,
        abs(col("approx_n_cust") - col("n_exact")) * 10 <= col("n_exact"),
        "agg_approx_distinct: estimate left the 10% band vs exact")
    },

    // Own HyperLogLog as a persistable, composable artifact (r7w15): the
    // 4 KiB register array is what a 100 TB pipeline keeps per
    // partition/day — any rollup is a register max, no re-scan. The query
    // surfaces estimate vs exact side by side (self-auditing report);
    // estimate-valued → no cross-engine oracle, HyperLogLogSpec pins the
    // ≤5% band (design σ ≈ 1.6%) and merge shape-independence.
    Q.noOracle("agg_hll_sketch") { (s, d) =>
      // Shared-distinct shape (r11): countDistinct in the SAME aggregate
      // as the HLL forced the HLL's partial phase onto (flag, partkey)
      // grain — one 4 KiB register array PER DISTINCT PART (measured
      // 1.65 s vs 0.56 s at sf0.1; at 100 TB that per-value sketch state
      // is an OOM). One distinct pass feeds both: HLL registers are
      // duplicate-insensitive (register = max of hashes), so the sketch
      // over the distinct frame is bit-identical, and exact is count(*).
      val dk = Tables.cachedTable(s, d, "lineitem")
        .select("l_returnflag", "l_partkey").distinct()
      val est = dk.groupBy("l_returnflag")
        .agg(
          count(col("l_partkey")).as("n_exact"),
          graft.functions.HyperLogLog.agg(col("l_partkey")).as("n_hll"))
        .withColumn("err_ppm",
          ((abs(col("n_hll") - col("n_exact")) * 1000000) / col("n_exact"))
            .cast("long"))
      // In-query 5% band (r9 ask #7; observed ≤0.95% across sf0.001–0.1,
      // design σ ≈ 1.6%): a register regression fails the harness run.
      // The band ALSO keeps the bench honest: without a consumer of the
      // estimate columns, count() let Catalyst prune the sketch work
      // entirely and prior rounds timed an empty aggregate.
      graft.Q.requireBand(est, col("err_ppm") < 50000,
        "agg_hll_sketch: estimate left the 5% band vs exact")
    },

    // The re-aggregation claim made CONCRETE (r7w21): stage 1 builds one
    // HLL register array per day (the persisted daily artifact — at 100 TB
    // these are parquet binary cells, one per partition); stage 2 folds
    // the day sketches with a register-max merge into the month's distinct
    // users — data is scanned once by stage 1 and NEVER again, and
    // merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly. Exact global
    // distinct rides alongside for the self-audit. Estimate-valued → no
    // cross-engine oracle; HyperLogLogSpec pins the rollup == direct-
    // sketch identity and the error band.
    Q.noOracle("agg_hll_rollup") { (s, d) =>
      val daily = Tables.events(s, d)
        .withColumn("day_us", expr("(ts_us div 86400000000) * 86400000000"))
        .groupBy(col("day_us"))
        .agg(graft.functions.HyperLogLog.registers(col("user_id")).as("sk"))
      val exact = Tables.events(s, d)
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val rolled = daily.agg(count(lit(1)).cast("long").as("n_days"),
        graft.functions.HyperLogLog.mergeRegisters(col("sk")).as("n_est"))
        .crossJoin(broadcast(exact))
        .withColumn("err_ppm",
          ((abs(col("n_est") - col("n_exact")) * 1000000) / col("n_exact")).cast("long"))
      // In-query 5% band (r9 ask #7; observed ≤1.2% across sf0.001–0.1):
      // a broken register-max merge fails the harness run itself.
      graft.Q.requireBand(rolled, col("err_ppm") < 50000,
        "agg_hll_rollup: merged estimate left the 5% band vs exact")
    },

    // EXACT audience intersection via sorted-id-array artifacts (r8g) —
    // agg_hll_intersect's exact twin on the SAME custkey%3 segments, so
    // the two keys together are the sketch-vs-exact ladder: when the
    // intersection is small relative to the union, inclusion-exclusion's
    // error swamps it and THIS is the op you run. The artifacts are
    // sorted distinct-id arrays (the portable roaring-bitmap stand-in,
    // same algebra as agg_bitmap_distinct); the AND is the codegen'd
    // O(n+m) SortedLongIntersectCount primitive merge — no per-row hash
    // build, no object churn. At 100 TB the arrays shard by id-range
    // (each range cell intersects independently, counts sum) — the
    // standard roaring partitioning; here one cell suffices.
    Q("agg_bitmap_intersect",
      """WITH a AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 3 IN (0, 1)),
        |b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 3 IN (1, 2))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        |       (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
        |       (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (k)) AS n_intersect,
        |       (SELECT CAST(count(*) AS BIGINT) FROM (SELECT k FROM a UNION SELECT k FROM b))
        |         AS n_union""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.graft.ColumnBridge
      val c = Tables.cachedTable(s, d, "customer")
        .select(col("c_custkey"), (col("c_custkey") % 3).as("r"))
      val segA = c.filter(col("r") =!= 2)
        .agg(sort_array(collect_set(col("c_custkey"))).as("ids_a"))
      val segB = c.filter(col("r") =!= 0)
        .agg(sort_array(collect_set(col("c_custkey"))).as("ids_b"))
      segA.crossJoin(broadcast(segB))
        .select(
          size(col("ids_a")).cast("long").as("n_a"),
          size(col("ids_b")).cast("long").as("n_b"),
          ColumnBridge.column(graft.functions.SortedLongIntersectCount(
            ColumnBridge.expression(col("ids_a")),
            ColumnBridge.expression(col("ids_b")))).as("n_intersect"))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_intersect"))
    },

    // Sketch set-algebra (r8g): HLL unions exactly (register max) but has
    // no intersection operator — the audience-overlap question ("how many
    // users both clicked AND viewed?") is answered by inclusion-exclusion
    // over three estimates: |A∩B| ≈ est(A) + est(B) − est(A∪B). The union
    // leg reuses the SAME per-segment register artifacts (merge is
    // register-max, so no re-scan), which is the whole point at 100 TB:
    // overlap matrices over N segments come from N persisted sketches,
    // never N² co-group scans. Caveat encoded in the output: I-E
    // subtracts two ±2%·n errors, so the absolute error is driven by the
    // UNION size — fine for coarse overlap dashboards, not for tiny
    // intersections of huge sets (use the exact path then). Estimate-
    // valued → no cross-engine oracle; HyperLogLogSpec pins the identity
    // est_a + est_b − est_union == intersect_est and the error band vs
    // the exact intersection.
    Q.noOracle("agg_hll_intersect") { (s, d) =>
      // Segments with CONTROLLED overlap (the event-type user sets are
      // saturated at toy SF — every user does every type — which would
      // make all four estimates trivially equal): seg a = custkey%3 ∈
      // {0,1}, seg b = custkey%3 ∈ {1,2}, so truth is |a|=|b|≈2n/3,
      // |a∩b|≈n/3, |a∪b|=n.
      val segs = Tables.cached(s, s"$d/hll-seg-sketches") {
        val c = Tables.cachedTable(s, d, "customer")
          .select(col("c_custkey"), (col("c_custkey") % 3).as("r"))
        c.filter(col("r") =!= 2).select(lit("a").as("seg"), col("c_custkey"))
          .unionByName(
            c.filter(col("r") =!= 0).select(lit("b").as("seg"), col("c_custkey")))
          .groupBy("seg")
          .agg(graft.functions.HyperLogLog.registers(col("c_custkey")).as("sk"))
      }
      val per = segs.groupBy("seg")
        .agg(graft.functions.HyperLogLog.mergeRegisters(col("sk")).as("est"))
      val uni = segs.agg(
        graft.functions.HyperLogLog.mergeRegisters(col("sk")).as("est_union"))
      // Exact overlap co-computed for the self-audit + in-query band: the
      // intersection cohort is custkey%3 == 1 by construction, one cheap
      // distinct-count — at 100 TB this audit column is optional, the
      // sketch algebra is the product.
      val exact = Tables.cachedTable(s, d, "customer")
        .filter(col("c_custkey") % 3 === 1)
        .agg(countDistinct(col("c_custkey")).as("n_exact_intersect"))
      val out = per.agg(
          max(when(col("seg") === "a", col("est"))).as("est_a"),
          max(when(col("seg") === "b", col("est"))).as("est_b"))
        .crossJoin(broadcast(uni))
        .withColumn("est_intersect",
          col("est_a") + col("est_b") - col("est_union"))
        .crossJoin(broadcast(exact))
      // 15% band (r9 ask #7; observed ≤9.3% across sf0.001–0.1): I-E
      // subtracts two union-sized sketch errors, so the band is wider
      // than the single-sketch 5% — HyperLogLogSpec pins the same bound.
      graft.Q.requireBand(out,
        abs(col("est_intersect") - col("n_exact_intersect")) * 100 <=
          col("n_exact_intersect") * 15,
        "agg_hll_intersect: inclusion-exclusion left the 15% band vs exact")
    },

    // Mergeable quantile sketch (Greenwald-Khanna / percentile_approx) —
    // the OTHER sketch a 100 TB profiler needs beside HLL: exact
    // percentiles need a full sort per group, the sketch is one partial
    // agg with bounded state. Estimate-valued like agg_approx_distinct →
    // no cross-engine oracle; ApproxPercentileSpec pins the rank-error
    // bound against the exact quantile and run-to-run determinism.
    Q.noOracle("agg_approx_percentile") { (s, d) =>
      // Flattened to scalar p50/p95 (not one array<double> column): the
      // driver's pandas-side sort/compare can't hash numpy arrays, so the
      // array form records an artifact error even on a no-oracle key.
      val est = Tables.cachedTable(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          percentile_approx(col("o_totalprice"),
            array(lit(0.5), lit(0.95)), lit(1000)).as("pq"),
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("__pmin"),
          max(col("o_totalprice")).as("__pmax"))
        .select(col("o_orderstatus"),
          element_at(col("pq"), 1).as("approx_p50"),
          element_at(col("pq"), 2).as("approx_p95"),
          col("n"), col("__pmin"), col("__pmax"))
      // In-query sanity band (r9 ask #7): both estimates inside the
      // group's exact [min, max] (co-computed in the SAME agg pass — no
      // extra scan, scale-free) and rank-monotone. The tight n/1000
      // rank-window guarantee stays in ApproxPercentileSpec, which needs
      // a sort the declared key must not pay.
      graft.Q.requireBand(est,
        col("approx_p50") >= col("__pmin") && col("approx_p95") <= col("__pmax") &&
          col("approx_p50") <= col("approx_p95"),
        "agg_approx_percentile: estimates left the [min,max]/monotone band")
        .select("o_orderstatus", "approx_p50", "approx_p95", "n")
    },

    Q("agg_rollup",
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin) { (s, d) =>
      // SQL form: DataFrame-API rollup over a 3-way join of session-cached
      // inputs trips Spark's ambiguous-self-join detection once other
      // queries have touched the same cached Datasets; the SQL path resolves
      // by name and plans identically (Expand + partial/final hash agg).
      Tables.cachedTable(s, d, "customer").createOrReplaceTempView("customer")
      Tables.cachedTable(s, d, "nation").createOrReplaceTempView("nation")
      Tables.cachedTable(s, d, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, n_name, COUNT(*) AS n_cust,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)
    },

    Q("agg_cube",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    },

    Q("agg_grouping_sets",
      """SELECT r_name, n_name, COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "customer").createOrReplaceTempView("customer")
      Tables.cachedTable(s, d, "nation").createOrReplaceTempView("nation")
      Tables.cachedTable(s, d, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, n_name, COUNT(*) AS n_cust
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY GROUPING SETS ((r_name), (n_name), ())""".stripMargin)
    },

    Q("window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.cachedTable(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },

    Q("window_lag_lead",
      """SELECT event_id, user_id, ts_us, value,
        |       lag(value) OVER w AS prev_value,
        |       lead(value) OVER w AS next_value,
        |       ts_us - lag(ts_us) OVER w AS gap_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select("event_id", "user_id", "ts_us", "value")
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("next_value", lead("value", 1).over(w))
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
    },

    // Exponentially weighted moving average (r8) — the signal-smoothing
    // primitive (metric dashboards, anomaly baselines): per user over the
    // event sequence, EWMA with decay 1/2 over the last 8 observations,
    // renormalized over the lags actually present at the partition head.
    // An unbounded-history EWMA is inherently sequential (state carried
    // row to row — a streaming op, cf. mapGroupsWithState); the BOUNDED
    // formulation is the batch-window shape: 8 lag() frames over ONE
    // (user, ts) sort, no state, no self-join. Bit-exact across engines
    // with no rounding: 0.5^j scales are exponent shifts (exact), both
    // engines sum the terms in the same left-associated order, one IEEE
    // division at the end.
    Q("window_ewma", {
      val num = (1 to 7).map(j =>
        s"coalesce(v$j * ${math.pow(0.5, j)}, 0)").mkString(" + ")
      val den = (1 to 7).map(j =>
        s"CASE WHEN v$j IS NULL THEN 0 ELSE ${math.pow(0.5, j)} END").mkString(" + ")
      s"""SELECT event_id, user_id, ts_us, value,
         |       (value + $num) / (1 + $den) AS ewma
         |FROM (
         |  SELECT event_id, user_id, ts_us, value,
         |         ${(1 to 7).map(j => s"lag(value, $j) OVER w AS v$j").mkString(", ")}
         |  FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))""".stripMargin
    }) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val lags = (1 to 7).map(j => (lag("value", j).over(w), math.pow(0.5, j)))
      val num = lags.foldLeft(col("value")) { case (acc, (lg, p)) =>
        acc + coalesce(lg * lit(p), lit(0.0))
      }
      val den = lags.foldLeft(lit(1.0)) { case (acc, (lg, p)) =>
        acc + when(lg.isNull, lit(0.0)).otherwise(lit(p))
      }
      Tables.events(s, d)
        .select("event_id", "user_id", "ts_us", "value")
        .withColumn("ewma", num / den)
    },

    Q("window_first_last",
      """SELECT o_orderkey, o_custkey,
        |       first_value(o_orderkey) OVER w AS first_key,
        |       last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |         AS last_key,
        |       nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |         AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) {
      (s, d) =>
        // first/last/nth_value frame semantics — the window-catalog corner
        // lag/lead can't express (positional access inside an explicit
        // frame; last/nth need the FULL frame or they silently mean
        // "current row so far"). Total order (date, key) per customer; one
        // key-partitioned window, no funnel.
        val ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.cachedTable(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            first(col("o_orderkey")).over(ord).as("first_key"),
            last(col("o_orderkey")).over(full).as("last_key"),
            nth_value(col("o_orderkey"), 2).over(full).as("second_key"))
    },

    Q("window_running",
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
        |FROM orders""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.cachedTable(s, d, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            .as("running_revenue"))
    },

    Q("window_moving_avg",
      """SELECT event_id, user_id, ts_us,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |         / COUNT(value) OVER w AS avg3
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-2, 0)
      Tables.events(s, d)
        .select(
          col("event_id"), col("user_id"), col("ts_us"),
          (sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
            / count(col("value")).over(w)).as("avg3"))
    },

    // Rolling 7-day median of daily event counts (r8h) — the robust
    // smoother the moving AVERAGE family can't be: one traffic spike drags
    // a mean for a week but leaves the median untouched, which is why
    // ops-anomaly baselines (and anomaly_mad's global form) prefer it.
    // Exactness: the window median is computed EXPLICITLY as the sorted
    // frame list's middle elements — med2 = sl[(k+1) div 2] + sl[(k+2)
    // div 2], the DOUBLED median, so even-width frames stay integer-exact
    // and no engine's median()/averaging semantics enters the gate.
    // 100 TB shape: the corpus collapses to a (type, day)-sized daily agg
    // FIRST (map-side combine); the rolling window then sorts ≤7-element
    // lists over that tiny frame — per-type partitions, never row-scale.
    Q("window_rolling_median",
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2),
        |ls AS (SELECT event_type, day, n,
        |              list_sort(list(n) OVER (
        |                PARTITION BY event_type ORDER BY day
        |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS sl
        |       FROM c)
        |SELECT event_type, CAST(day AS BIGINT) AS day, n,
        |       CAST(len(sl) AS BIGINT) AS win_n,
        |       CAST(sl[(len(sl) + 1) // 2] + sl[(len(sl) + 2) // 2]
        |            AS BIGINT) AS med2
        |FROM ls""".stripMargin) { (s, d) =>
      val c = Tables.events(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      c.withColumn("sl", sort_array(collect_list(col("n")).over(w)))
        .select(col("event_type"), col("day").cast("long").as("day"), col("n"),
          size(col("sl")).cast("long").as("win_n"),
          (element_at(col("sl"), expr("(size(sl) + 1) div 2").cast("int")) +
            element_at(col("sl"), expr("(size(sl) + 2) div 2").cast("int")))
            .cast("long").as("med2"))
    },

    Q("window_dist",
      """SELECT o_orderkey, o_orderstatus,
        |       round(percent_rank() OVER w, 5) AS pct_rank,
        |       round(cume_dist() OVER w, 5) AS cume,
        |       first_value(o_orderkey) OVER w AS cheapest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, d) =>
      // percent_rank/cume_dist are integer-quotient doubles (rank-1)/(n-1)
      // and rank/n — deterministic given the tie-broken total order.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.cachedTable(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w), 5).as("pct_rank"),
        round(cume_dist().over(w), 5).as("cume"),
        first_value(col("o_orderkey")).over(w).as("cheapest_key"))
    },

    Q("window_ntile",
      """SELECT o_orderkey, o_custkey,
        |       CAST(ntile(4) OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
        |FROM orders""".stripMargin) { (s, d) =>
      // ANSI ntile bucketing (identical remainder distribution in both
      // engines); order tie-broken on the unique key.
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.cachedTable(s, d, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"),
          ntile(4).over(w).cast("long").as("quartile"))
    },

    // Trailing TIME-range frame (r8b) — the rolling rate-limit / burst
    // counter: per user, how many events landed in the trailing hour of
    // EVENT time (RANGE BETWEEN 3.6e9 µs PRECEDING — a value frame, so
    // simultaneous events are peers and the count is tie-order-
    // independent, unlike a ROWS frame). window_range_frame covers the
    // numeric-measure case; this is the time-axis twin every abuse/SLA
    // monitor runs. At scale: one user-keyed exchange + per-user ordered
    // frame — the sessionize shape.
    Q("window_trailing_hour",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT event_id, user_id, ts_us,
        |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_us
        |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS n_trailing_hr
        |FROM e""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"))
        .withColumn("n_trailing_hr", count(lit(1)).over(w))
    },

    // Mann-Whitney U / rank-sum test (r8b) — the nonparametric "is one
    // sample stochastically larger" twin of quality_ks_test, on the SAME
    // per-distinct-value count frame: 2U = Σ_v c1(v)·(2·cum2<(v) + c2(v))
    // (greater-than pairs doubled + ties once) — all BIGINT, and
    // U/(n1·n2) IS the AUC / common-language effect size, reported as
    // exact ppm. Same banded two-phase cumulative as the KS key
    // (CurateOps.bandedCumsum, no global sort); the naive-window oracle
    // again proves the decomposition lossless.
    Q("quality_mannwhitney",
      """WITH t AS (SELECT o_totalprice AS v, o_orderkey % 2 AS side FROM orders),
        |n AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n1,
        |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n2 FROM t),
        |pv AS (SELECT v, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1p,
        |              sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2p
        |       FROM t GROUP BY 1),
        |c AS (SELECT v, c1p, c2p,
        |        sum(c2p) OVER (ORDER BY v) - c2p AS cum2b
        |      FROM pv)
        |SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
        |       CAST(sum(c1p * (2 * cum2b + c2p)) AS BIGINT) AS u2x,
        |       CAST(sum(c1p * (2 * cum2b + c2p)) * 1000000 // (2 * n.n1 * n.n2)
        |            AS BIGINT) AS auc_ppm
        |FROM c, n GROUP BY n.n1, n.n2""".stripMargin) { (s, d) =>
      val (pv, n) = sideCounts(s, d)
      graft.operators.CurateOps.bandedCumsum(pv, Seq(col("v")), priceBand,
          Seq("c2p" -> "cum2"))
        .select(col("c1p"), (col("cum2") - col("c2p")).as("cum2b"), col("c2p"))
        .crossJoin(broadcast(n))
        .groupBy("n1", "n2")
        .agg(sum(col("c1p") * (lit(2) * col("cum2b") + col("c2p"))).as("u2x"))
        .select(col("n1"), col("n2"), col("u2x").cast("long").as("u2x"),
          expr("u2x * 1000000 div (2 * n1 * n2)").as("auc_ppm"))
    },

    // Chi-square test of independence (r8b) — the categorical sibling of
    // quality_ks_test: is order status independent of priority? Per cell
    // (s, p): term = (o·N − r·c)² / (N·r·c) over the FULL marginal grid
    // (zero-observed cells included — dropping them biases the statistic
    // low). Determinism ladder: every factor is an exact integer < 2^53
    // (so its double image is exact), the per-cell double term is one
    // identical IEEE multiply-divide tree in both engines, quantized to
    // DECIMAL(18,6) and summed exactly (order-free) — one division per
    // cell, one exact sum, no accumulation drift.
    Q("quality_chi2",
      """WITH t AS (SELECT o_orderstatus AS s, o_orderpriority AS p FROM orders),
        |o AS (SELECT s, p, count(*) AS o FROM t GROUP BY 1, 2),
        |r AS (SELECT s, count(*) AS r FROM t GROUP BY 1),
        |c AS (SELECT p, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t),
        |grid AS (SELECT r.s, c.p, r.r, c.c FROM r CROSS JOIN c),
        |cell AS (
        |  SELECT g.s, g.p,
        |         CAST(CAST((coalesce(o.o, 0) * n.n - g.r * g.c) AS DOUBLE)
        |              * CAST((coalesce(o.o, 0) * n.n - g.r * g.c) AS DOUBLE)
        |              / (CAST(n.n AS DOUBLE) * g.r * g.c)
        |           AS DECIMAL(18,6)) AS term
        |  FROM grid g LEFT JOIN o ON o.s = g.s AND o.p = g.p, n)
        |SELECT CAST((SELECT count(*) FROM r) - 1 AS BIGINT)
        |         * CAST((SELECT count(*) FROM c) - 1 AS BIGINT) AS dof,
        |       CAST((SELECT n FROM n) AS BIGINT) AS n,
        |       CAST(sum(term) AS DOUBLE) AS chi2
        |FROM cell""".stripMargin) { (s, d) =>
      // marginals are dimension-sized (|status| × |priority| = 15 cells);
      // the only corpus work is the one (s, p) count agg
      val t = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderstatus").as("s"), col("o_orderpriority").as("p"))
      val o = t.groupBy("s", "p").agg(count(lit(1)).as("o"))
      val r = t.groupBy("s").agg(count(lit(1)).as("r"))
      val c = t.groupBy("p").agg(count(lit(1)).as("c"))
      val n = t.agg(count(lit(1)).as("n"))
      val nR = r.count()
      val nC = c.count()
      broadcast(r).crossJoin(broadcast(c))
        .join(o, Seq("s", "p"), "left")
        .crossJoin(broadcast(n))
        .select(((coalesce(col("o"), lit(0L)) * col("n") - col("r") * col("c"))
          .cast("double") *
          (coalesce(col("o"), lit(0L)) * col("n") - col("r") * col("c"))
            .cast("double") /
          (col("n").cast("double") * col("r") * col("c")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("term"))
        .agg(sum("term").as("chi2_d"))
        .crossJoin(broadcast(n))
        .select(lit((nR - 1) * (nC - 1)).as("dof"),
          col("n").cast("long").as("n"),
          col("chi2_d").cast("double").as("chi2"))
    },

    // CUSUM change detection (r8g) — the classic sequential drift
    // detector (Page 1954): accumulate deviations from the historical
    // mean, reset at zero. The textbook form s_i = max(0, s_{i-1} + dev_i)
    // is RECURSIVE, but it has a windowable closed form: s_i = p_i −
    // min(0, min_{j≤i} p_j) with p the prefix sum of deviations (the
    // min(0,·) floor is the recursion's implicit p_0 — property-pinned
    // == the recursion in CuratePropSpec, which caught its omission) — a
    // running sum and a running min over ONE type-keyed exchange (the
    // same recursion-elimination discipline as the hysteresis LOCF).
    // Exactness:
    // hourly sums and the per-type mean are DECIMAL-exact; dev multiplies
    // by n_hours (cross-multiplied — no division), so p and the running
    // min are exact integers-in-decimal and cusum is their exact
    // difference, cast to double losslessly.
    Q("window_cusum",
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |                  CAST(value AS DECIMAL(18,6)) AS v
        |           FROM events),
        |h AS (SELECT event_type, hr, CAST(sum(v) AS DECIMAL(18,6)) AS x
        |      FROM e GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(sum(x) AS DECIMAL(18,6)) AS total,
        |             CAST(count(*) AS DECIMAL(10,0)) AS n_hours
        |      FROM h GROUP BY 1),
        |d AS (SELECT h.event_type, h.hr,
        |             CAST(h.x * m.n_hours - m.total AS DECIMAL(30,6)) AS dev_scaled
        |      FROM h JOIN m USING (event_type)),
        |p AS (SELECT event_type, hr,
        |        sum(dev_scaled) OVER (PARTITION BY event_type ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
        |      FROM d),
        |r AS (SELECT event_type, hr, pfx,
        |        min(pfx) OVER (PARTITION BY event_type ORDER BY hr
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
        |      FROM p)
        |SELECT event_type, CAST(hr AS BIGINT) AS hr,
        |       CAST(pfx - (CASE WHEN runmin < 0 THEN runmin
        |                        ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
        |         AS cusum_scaled
        |FROM r""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Long.MinValue, 0)
      val h = Tables.events(s, d)
        .select(col("event_type"), expr("ts_us div 3600000000").as("hr"),
          col("value").cast("decimal(18,6)").as("v"))
        .groupBy("event_type", "hr")
        .agg(sum("v").cast("decimal(18,6)").as("x"))
      val m = h.groupBy("event_type")
        .agg(sum("x").cast("decimal(18,6)").as("total"),
          count(lit(1)).cast("decimal(10,0)").as("n_hours"))
      // operand widths bounded so the product stays DECIMAL in BOTH
      // engines (DuckDB silently promotes overflow-width decimal
      // products to DOUBLE — the float-crumb class the gate caught)
      h.join(broadcast(m), "event_type")
        .select(col("event_type"), col("hr"),
          (col("x") * col("n_hours") - col("total"))
            .cast("decimal(30,6)").as("dev_scaled"))
        .withColumn("pfx", sum("dev_scaled").over(w))
        .withColumn("runmin", min(col("pfx")).over(w))
        .select(col("event_type"), col("hr"),
          // CASE (not least()): the recursion's implicit p_0 = 0 floor —
          // without it an all-positive prefix run would be zeroed against
          // its own first element; and DuckDB's least() over decimals
          // returns DOUBLE (float crumbs the gate caught), the CASE stays
          // exact decimal in both engines
          (col("pfx") - when(col("runmin") < 0, col("runmin"))
            .otherwise(lit(0).cast("decimal(38,6)")))
            .cast("double").as("cusum_scaled"))
    },

    // Mutual information (r8g) — quality_chi2's information-theoretic
    // sibling on the SAME (status, priority) pair: chi2 answers "is there
    // dependence", MI answers "how many nats of it" — the feature-
    // selection / redundant-column score. Only observed cells contribute
    // (p·ln(...) → 0 as p → 0), so no marginal grid is needed; each
    // cell's term is (c/n)·ln(c·n/(r·cc)) — doubles of exact ints in one
    // identical IEEE tree, DECIMAL(18,6)-quantized before the exact
    // cells-sized sum (the PSI/zipf ln discipline).
    Q("quality_mutual_info",
      """WITH t AS (SELECT o_orderstatus AS x, o_orderpriority AS y FROM orders),
        |n AS (SELECT count(*) AS n FROM t),
        |c AS (SELECT x, y, count(*) AS c FROM t GROUP BY 1, 2),
        |r AS (SELECT x, count(*) AS r FROM t GROUP BY 1),
        |cc AS (SELECT y, count(*) AS cc FROM t GROUP BY 1)
        |SELECT CAST((SELECT n FROM n) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(sum(CAST((CAST(c.c AS DOUBLE) / n.n)
        |                     * ln(CAST(c.c AS DOUBLE) * n.n
        |                          / (CAST(r.r AS DOUBLE) * cc.cc))
        |                  AS DECIMAL(18,6))) AS DOUBLE) AS mi_nats
        |FROM c JOIN r USING (x) JOIN cc USING (y), n""".stripMargin) { (s, d) =>
      val t = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
      val n = t.agg(count(lit(1)).as("n"))
      val c = t.groupBy("x", "y").agg(count(lit(1)).as("c"))
      val r = t.groupBy("x").agg(count(lit(1)).as("r"))
      val cc = t.groupBy("y").agg(count(lit(1)).as("cc"))
      c.join(broadcast(r), "x").join(broadcast(cc), "y")
        .crossJoin(broadcast(n))
        .select(col("n"),
          ((col("c").cast("double") / col("n")) *
            log(col("c").cast("double") * col("n") /
              (col("r").cast("double") * col("cc"))))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("term"))
        .groupBy("n")
        .agg(count(lit(1)).as("n_cells"), sum("term").cast("double").as("mi_nats"))
        .select(col("n").cast("long").as("n"), col("n_cells"), col("mi_nats"))
    },

    // Kolmogorov-Smirnov two-sample test (r8b) — the binning-free drift
    // statistic diff_drift's fixed histogram cannot be: KS = sup over x of
    // |F1(x) − F2(x)| between the even-key and odd-key order-price
    // samples, reported as the exact integer numerator max|c1·n2 − c2·n1|
    // plus its ppm ratio — no float ever enters, so the sup over 100k+
    // candidate points cannot drift between engines. The oracle computes
    // the ECDFs with one naive global cumulative window; the Spark side
    // runs the banded TWO-PHASE cumulative (CurateOps.bandedCumsum) so no
    // task ever sorts the whole value set — the decomposition's
    // losslessness is what the hash gate proves.
    Q("quality_ks_test",
      """WITH t AS (SELECT o_totalprice AS v, o_orderkey % 2 AS side FROM orders),
        |n AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n1,
        |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n2 FROM t),
        |pv AS (SELECT v, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1p,
        |              sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2p
        |       FROM t GROUP BY 1),
        |c AS (SELECT v,
        |        sum(c1p) OVER (ORDER BY v) AS c1,
        |        sum(c2p) OVER (ORDER BY v) AS c2
        |      FROM pv)
        |SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
        |       CAST(max(abs(c1 * n.n2 - c2 * n.n1)) AS BIGINT) AS d_num,
        |       CAST(max(abs(c1 * n.n2 - c2 * n.n1)) * 1000000 // (n.n1 * n.n2)
        |            AS BIGINT) AS ks_ppm
        |FROM c, n GROUP BY n.n1, n.n2""".stripMargin) { (s, d) =>
      // the band grid is ~60 rows (one per 10,000 of price), so the
      // offset prefix is dimension-sized at any corpus scale
      val (pv, n) = sideCounts(s, d)
      graft.operators.CurateOps.bandedCumsum(pv, Seq(col("v")), priceBand,
          Seq("c1p" -> "c1", "c2p" -> "c2"))
        .crossJoin(broadcast(n))
        .select(col("n1"), col("n2"),
          abs(col("c1") * col("n2") - col("c2") * col("n1")).as("dd"))
        .groupBy("n1", "n2")
        .agg(max("dd").as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          expr("d_num * 1000000 div (n1 * n2)").as("ks_ppm"))
    },

    // DISCRETE percentiles (r8b, ANSI ordered-set aggregate): unlike the
    // interpolating percentile_cont (agg_percentile), percentile_disc
    // returns an ACTUAL data value — the smallest with cumulative
    // distribution ≥ p — which is what latency SLO reporting wants (an
    // interpolated p99 of 103.2ms names a latency no request had). Both
    // families side by side per return flag; the cont leg rides the
    // pinned Spark-percentile == DuckDB-quantile_cont parity, the disc
    // leg is set-membership exact. This key exists to gate the ANSI
    // WITHIN GROUP SQL surface itself, so it deliberately keeps the
    // builtin aggregates; the no-group-buffer path for huge groups is
    // CurateOps.exactQuantilesByGroup (agg_percentile/agg_rfm), whose
    // rank fetch generalizes to disc (rank = the ceil(n·q) order
    // statistic, no interpolation).
    Q("agg_percentile_disc",
      """SELECT l_returnflag,
        |       quantile_disc(l_quantity, 0.25) AS p25_disc,
        |       quantile_disc(l_quantity, 0.50) AS p50_disc,
        |       quantile_disc(l_quantity, 0.75) AS p75_disc,
        |       quantile_cont(l_quantity, 0.50) AS p50_cont
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "lineitem")
        .createOrReplaceTempView("graft_li_pd")
      s.sql("""SELECT l_returnflag,
              |       percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
              |       percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity) AS p50_disc,
              |       percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75_disc,
              |       percentile_cont(0.50) WITHIN GROUP (ORDER BY l_quantity) AS p50_cont
              |FROM graft_li_pd
              |GROUP BY l_returnflag""".stripMargin)
    },

    // Two-phase top-k PER GROUP as a declared operator (r8b): the house
    // workhorse every report in this repo leans on (diff_examples,
    // text_langid profiles, budget_select...) finally gated directly —
    // per order priority, the 3 priciest orders. Phase 1 ranks inside
    // (group, hash-bucket) sub-windows and keeps k per bucket; phase 2
    // ranks the ≤ k·buckets survivors per group — so no task ever sorts
    // a whole group (the single-task window is THE top-k scale bug; the
    // oracle is exactly that naive global-window form, proving the
    // decomposition lossless). Ties break on the unique key.
    Q("window_topk_group",
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank,
        |       o_orderkey, o_totalprice
        |FROM r WHERE rank <= 3""".stripMargin) { (s, d) =>
      graft.operators.TextOps.topKPerGroup(
        Tables.cachedTable(s, d, "orders")
          .select("o_orderpriority", "o_orderkey", "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey")),
        k = 3, bucketOn = col("o_orderkey"))
        .select(col("o_orderpriority"), col("rank"),
          col("o_orderkey"), col("o_totalprice"))
    },

    // LOCF gap-fill (r8b) — last-observation-carried-forward imputation,
    // the time-series repair every sensor/metrics pipeline runs before
    // aggregation: NULLs (injected closed-form at event_id % 7 = 0) are
    // replaced by the user's most recent non-NULL reading via
    // last_value ... IGNORE NULLS over a running frame; leading NULLs
    // (no prior observation) stay NULL in both engines. Filled values
    // are bit-copies of earlier doubles — no arithmetic, so the hash
    // gate is exact. Only the dialect spelling differs (Spark: postfix
    // IGNORE NULLS; DuckDB: inside the call).
    Q("window_fill_forward",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |                  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |           FROM events)
        |SELECT event_id, user_id, v,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM e""".stripMargin) { (s, d) =>
      // user-partitioned running frame: one keyed exchange, no global
      // window — the sessionize plan shape
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")).as("v"))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select("event_id", "user_id", "v", "filled")
    },

    Q("window_range_frame",
      """SELECT o_custkey, o_orderkey, od_us,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY od_us
        |         RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_30d
        |FROM (SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us, o_totalprice
        |      FROM orders)""".stripMargin) { (s, d) =>
      // 30 days in microseconds; value-range frame over the epoch-us key.
      val w = Window.partitionBy("o_custkey").orderBy("od_us")
        .rangeBetween(-2592000000000L, 0L)
      Tables.cachedTable(s, d, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"),
          col("o_totalprice"))
        .select(
          col("o_custkey"), col("o_orderkey"), col("od_us"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("rev_30d"))
    },

    // Market-basket co-occurrence with lift — the association signal
    // behind "docs from these two domains co-occur in training batches" /
    // recommendation-style curation. Pair generation is the per-order
    // self-join of the DISTINCT (order, part) frame: cost is Σ k² over
    // order sizes (k ≈ 4 here), never corpus² — the canonical distributed
    // co-occurrence shape. Lift kept integer-exact at micro scale:
    // lift = P(a∧b)/(P(a)·P(b)) = n_pair·N / (n_a·n_b), truncating BIGINT
    // division after scaling by 1e6. Top-100 by the (n_pair, p1, p2)
    // total order so the LIMIT is deterministic; at 100 TB this final
    // top-k is TakeOrderedAndProject over the pair-agg output.
    Q("cooccur_lift",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n_total FROM li),
        |pf AS (SELECT l_partkey, count(*) AS n_part FROM li GROUP BY 1),
        |pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
        |       FROM li a JOIN li b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2)
        |SELECT p1, p2, n_pair, f1.n_part AS n_p1, f2.n_part AS n_p2,
        |       (n_pair * n_total * 1000000) // (f1.n_part * f2.n_part) AS lift_micro
        |FROM pr JOIN pf f1 ON f1.l_partkey = p1
        |        JOIN pf f2 ON f2.l_partkey = p2
        |        CROSS JOIN tot
        |ORDER BY n_pair DESC, p1, p2 LIMIT 100""".stripMargin) { (s, d) =>
      // The distinct (order, part) frame feeds FOUR consumers (n_total,
      // part frequencies, both self-join sides); without caching, the
      // distinct's shuffle re-runs once per consumer. At cluster scale
      // this is the classic "materialize the deduped edge list once"
      // shape (persist or a pre-bucketed table); here Tables.cached.
      // The materialized frame is CLUSTERED BY THE JOIN KEY (r15
      // optimization round): distinct() leaves it hash-partitioned on
      // (orderkey, partkey) — a superset of the self-join key, which does
      // NOT co-locate equal orderkeys — so both self-join sides paid a
      // fresh exchange per run. Repartitioning by l_orderkey inside the
      // once-per-corpus build makes the pair join exchange-free on both
      // sides (InMemoryRelation preserves outputPartitioning; at cluster
      // scale: a table bucketed by the join key, guide §2.4).
      val li = Tables.cached(s, s"$d/lineitem+order_part_distinct") {
        Tables.table(s, d, "lineitem")
          .select("l_orderkey", "l_partkey").distinct()
          .repartition(col("l_orderkey"))
      }
      val tot = li.agg(countDistinct("l_orderkey").as("n_total"))
      val pf = li.groupBy("l_partkey").agg(count(lit(1)).as("n_part"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      a.join(b, Seq("l_orderkey")).filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n_pair"))
        .join(pf.select(col("l_partkey").as("p1"), col("n_part").as("n_p1")), "p1")
        .join(pf.select(col("l_partkey").as("p2"), col("n_part").as("n_p2")), "p2")
        .crossJoin(broadcast(tot))
        .withColumn("lift_micro",
          expr("(n_pair * n_total * 1000000L) div (n_p1 * n_p2)"))
        .select("p1", "p2", "n_pair", "n_p1", "n_p2", "lift_micro")
        .orderBy(col("n_pair").desc, col("p1"), col("p2"))
        .limit(100)
    },

    // Robust outlier census: median/MAD per order-priority — the gate that
    // survives heavy-tailed value columns where the σ-rule (quality_
    // outliers) is dragged by the outliers themselves. Exactness ladder:
    // prices → floor(·100) cents (BIGINT; floor of an IEEE product is
    // bit-identical everywhere), exact interpolated median of INTEGERS is
    // a multiple of 0.5 with both engines using lower + (upper−lower)·frac
    // (exact doubles < 2^53 — Spark percentile ≡ DuckDB quantile_cont),
    // deviations ×2 back to BIGINT, second median likewise; the 3σ-
    // equivalent gate |x−med| > 3·1.4826·MAD compares dev2·10000 against
    // 44478·mad2 — integer-valued doubles, no rounding anywhere. Shape:
    // two group-sized agg→join rounds (stats frames broadcast at scale),
    // per-row flag, one final rollup — the same two-scan budget as
    // quality_outliers.
    Q("anomaly_mad",
      """WITH o AS (SELECT o_orderpriority AS prio,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |m AS (SELECT prio, quantile_cont(cents, 0.5) AS med FROM o GROUP BY 1),
        |r AS (SELECT o.prio, cents, med,
        |             CAST(abs(cents - med) * 2 AS BIGINT) AS dev2
        |      FROM o JOIN m USING (prio)),
        |m2 AS (SELECT prio, quantile_cont(dev2, 0.5) AS mad2 FROM r GROUP BY 1)
        |SELECT r.prio AS o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(min(med * 2) AS BIGINT) AS med_x2,
        |       CAST(min(mad2 * 2) AS BIGINT) AS mad2_x2,
        |       CAST(sum(CASE WHEN dev2 * 10000 > CAST(44478 * mad2 AS BIGINT)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM r JOIN m2 USING (prio)
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val o = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") * 100).as("cents"))
      val m = o.groupBy("prio").agg(expr("percentile(cents, 0.5)").as("med"))
      val r = o.join(m, "prio")
        .withColumn("dev2", (abs(col("cents") - col("med")) * 2).cast("long"))
      val m2 = r.groupBy("prio").agg(expr("percentile(dev2, 0.5)").as("mad2"))
      r.join(m2, "prio")
        .groupBy("prio")
        .agg(
          count(lit(1)).as("n_orders"),
          min(col("med") * 2).cast("long").as("med_x2"),
          min(col("mad2") * 2).cast("long").as("mad2_x2"),
          sum(when(col("dev2") * 10000 > (lit(44478) * col("mad2")).cast("long"), 1)
            .otherwise(0)).as("n_outliers"))
        .withColumnRenamed("prio", "o_orderpriority")
    },

    // Exact equi-width histogram of order value — the distribution census
    // behind quality dashboards and bucket-balanced sampling. All-integer
    // ladder: prices → floor(·100) cents (BIGINT; floor of an IEEE product
    // is bit-identical everywhere), bucket = (cents−minc)·20 div span with
    // span = maxc+1−minc, so the max lands in bucket 19 and every boundary
    // is an exact integer comparison — no float binning anywhere. Empty
    // buckets are absent in both engines. Per-bucket lo/hi are the observed
    // min/max cents (data-derived, no bound arithmetic to drift). 100 TB
    // shape: one scalar min/max agg broadcast into a second scan (the
    // quality_outliers two-scan budget), then a 20-group partial agg —
    // zero wide shuffles.
    Q("agg_histogram",
      """WITH o AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |st AS (SELECT min(cents) AS minc, max(cents) + 1 AS maxc1 FROM o),
        |b AS (SELECT cents,
        |        CAST(((cents - minc) * 20) // (maxc1 - minc) AS BIGINT) AS bucket
        |      FROM o, st)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |       min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM b GROUP BY 1""".stripMargin) { (s, d) =>
      graft.operators.CurateOps.histogram(
        Tables.cachedTable(s, d, "orders"),
        floor(col("o_totalprice") * 100), buckets = 20)
        .select(col("bucket"), col("n"),
          col("lo").as("lo_cents"), col("hi").as("hi_cents"))
    },

    Q("agg_regression",
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(27,12))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(27,12))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,12))) AS DOUBLE) AS syy,
        |         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(27,12))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 5) AS slope,
        |       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 5)
        |         AS intercept,
        |       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 5) AS r2
        |FROM m""".stripMargin) { (s, d) =>
      // Grouped OLS (price ~ quantity per returnflag) — the regression
      // sibling of agg_corr: one aggregation pass collecting the five
      // DECIMAL-exact moment sums (order-free ⇒ deterministic under any
      // partitioning), then the closed-form slope/intercept/r² in plain
      // IEEE arithmetic written identically in both engines. At 100 TB
      // this is a single map-side-combined agg — the moments ARE the
      // mergeable state (same discipline as udaf_typed/ExactMoments).
      val dec = (c: org.apache.spark.sql.Column) => c.cast(org.apache.spark.sql.types.DecimalType(27, 12))
      val q = col("l_quantity"); val p = col("l_extendedprice")
      Tables.cachedTable(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec(q)).cast("double").as("sx"),
          sum(dec(p)).cast("double").as("sy"),
          sum(dec(q * q)).cast("double").as("sxx"),
          sum(dec(p * p)).cast("double").as("syy"),
          sum(dec(q * p)).cast("double").as("sxy"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 5).as("slope"),
          round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), 5)
            .as("intercept"),
          round(((col("n") * col("sxy") - col("sx") * col("sy"))
              * (col("n") * col("sxy") - col("sx") * col("sy")))
            / ((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy"))), 5).as("r2"))
    },

    Q("events_ab_test",
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS sv,
        |         CAST(sum(CAST(value * value AS DECIMAL(27,12))) AS DOUBLE) AS svv
        |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
        |ab AS (SELECT
        |  (SELECT n FROM m WHERE event_type = 'purchase') AS na,
        |  (SELECT sv FROM m WHERE event_type = 'purchase') AS sa,
        |  (SELECT svv FROM m WHERE event_type = 'purchase') AS saa,
        |  (SELECT n FROM m WHERE event_type = 'click') AS nb,
        |  (SELECT sv FROM m WHERE event_type = 'click') AS sb,
        |  (SELECT svv FROM m WHERE event_type = 'click') AS sbb),
        |v AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb,
        |             (saa - sa * sa / na) / (na - 1) AS va,
        |             (sbb - sb * sb / nb) / (nb - 1) AS vb
        |      FROM ab)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       round(ma, 5) AS mean_a, round(mb, 5) AS mean_b,
        |       round((ma - mb) / sqrt(va / na + vb / nb), 5) AS t_stat,
        |       round(((va / na + vb / nb) * (va / na + vb / nb))
        |             / ((va / na) * (va / na) / (na - 1)
        |                + (vb / nb) * (vb / nb) / (nb - 1)), 5) AS welch_dof
        |FROM v""".stripMargin) { (s, d) =>
      // Welch two-sample t — the experimentation primitive (A/B value
      // comparison between event types): one grouped pass collects
      // DECIMAL-exact (n, Σv, Σv²) per arm, then mean/variance/t/dof in
      // the identical IEEE sequence both engines run. The t statistic and
      // Welch–Satterthwaite dof are emitted (p-values need erf — the
      // caller's lookup); at 100 TB one map-side-combined agg, and the
      // per-arm moments are the mergeable daily artifact.
      val dec = (c: org.apache.spark.sql.Column) => c.cast(org.apache.spark.sql.types.DecimalType(27, 12))
      val m = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sv"),
          sum(dec(col("value") * col("value"))).cast("double").as("svv"))
      def side(t: String, suffix: String) = m.filter(col("event_type") === t)
        .select(col("n").as(s"n$suffix"), col("sv").as(s"s$suffix"),
          col("svv").as(s"s$suffix$suffix"))
      val ab = side("purchase", "a").crossJoin(side("click", "b"))
      val v = ab.select(col("na"), col("nb"),
        (col("sa") / col("na")).as("ma"), (col("sb") / col("nb")).as("mb"),
        ((col("saa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)).as("va"),
        ((col("sbb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)).as("vb"))
      v.select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(col("ma"), 5).as("mean_a"), round(col("mb"), 5).as("mean_b"),
        round((col("ma") - col("mb"))
          / sqrt(col("va") / col("na") + col("vb") / col("nb")), 5).as("t_stat"),
        round(((col("va") / col("na") + col("vb") / col("nb"))
            * (col("va") / col("na") + col("vb") / col("nb")))
          / ((col("va") / col("na")) * (col("va") / col("na")) / (col("na") - 1)
            + (col("vb") / col("nb")) * (col("vb") / col("nb")) / (col("nb") - 1)), 5)
          .as("welch_dof"))
    },

    // Grouped top-k as a bounded mergeable aggregate — the third top-k
    // form next to global TakeOrderedAndProject (sort_limit_topk) and the
    // two-phase window (topKPerGroup): each partition folds to ≤k entries,
    // partials merge MAP-SIDE, and only k rows per (group, partition)
    // shuffle — for few groups × huge input this beats the window form,
    // which shuffles every surviving row and sorts. Total order (price
    // desc, item_id asc) makes the answer partition-shape independent
    // (spec-pinned); the oracle is the window formulation.
    Q("agg_topk_heap",
      """WITH t AS (SELECT l_returnflag, l_extendedprice,
        |                  l_orderkey * 16 + l_linenumber AS item_id
        |           FROM lineitem)
        |SELECT l_returnflag,
        |       CAST(row_number() OVER (PARTITION BY l_returnflag
        |              ORDER BY l_extendedprice DESC, item_id) AS BIGINT) AS rank,
        |       l_extendedprice, item_id
        |FROM t QUALIFY rank <= 5""".stripMargin) { (s, d) =>
      val t = Tables.cachedTable(s, d, "lineitem").select(
        col("l_returnflag"), col("l_extendedprice"),
        (col("l_orderkey") * 16 + col("l_linenumber")).as("item_id"))
      t.groupBy(col("l_returnflag"))
        .agg(graft.functions.TopKHeap.agg(5,
          col("l_extendedprice"), col("item_id"), col("item_id")).as("tk"))
        .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rank"),
          col("e.score").as("l_extendedprice"), col("e.tie").as("item_id"))
    },

    // Heavy hitters via Count-Min sketch + exact verify: pass 1 folds the
    // whole table into a 4×1024-counter sketch (map-side partial merge —
    // only d·w longs per partition shuffle, not rows); pass 2 keeps rows
    // whose sketched estimate clears the threshold and exact-counts ONLY
    // those. CMS never under-counts, so the pre-filter has zero false
    // negatives and the exact HAVING makes false positives harmless → the
    // output equals the plain exact heavy-hitter query the oracle runs.
    // 100 TB shape: the exact groupBy's shuffle shrinks from every row to
    // the heavy keys' rows; the sketch itself is the mergeable artifact a
    // streaming/daily pipeline unions for free. Sketch quality is
    // property-pinned in CountMinSketchSpec (estimate ≥ truth, ε·n bound).
    Q("agg_countmin",
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 HAVING count(*) >= 45""".stripMargin) { (s, d) =>
      val thr = 45L
      val li = Tables.cachedTable(s, d, "lineitem")
      val sk = li.agg(graft.functions.CountMinSketch.agg(col("l_partkey")).as("sk"))
      li.crossJoin(broadcast(sk))
        .filter(graft.functions.CountMinSketch.estimate(col("sk"), col("l_partkey")) >= thr)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("n"))
        .filter(col("n") >= thr)
    },

    // Deterministic heavy hitters (r8i) — agg_countmin's sketch is
    // probabilistic (ε·n overcount, needs a width tuned to the stream);
    // Misra–Gries is the DETERMINISTIC summary: k=64 counters guarantee
    // every token with frequency > N/(k+1) survives, no hash luck involved
    // (functions/MisraGries.scala; Agarwal et al. 2012 for mergeability).
    // Two-pass exact shape over the corpus token stream: pass 1 folds each
    // partition into a ≤64-counter state (map-side combine — only k
    // counters per partition shuffle, never the token stream), pass 2
    // re-counts ONLY the ≤64 broadcast candidates and keeps those above
    // the gate threshold n·64 > N (> N/65, so the summary provably
    // contains them all — matching the naive oracle is the completeness
    // claim under test). At 100 TB: the candidate set is O(k) cold bytes
    // regardless of corpus size; the exact pass is one broadcast-filtered
    // partial agg. Integer cross-multiply (n*64 > N) keeps the gate
    // division-free.
    Q("agg_heavy_hitters",
      """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token
        |             FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS n, n_total
        |FROM tok, tot
        |GROUP BY token, n_total
        |HAVING count(*) * 64 > n_total""".stripMargin) { (s, d) =>
      val tok = Tables.cachedTable(s, d, "documents")
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("token"))
      val summary = tok.agg(
        count(lit(1)).cast("long").as("n_total"),
        graft.functions.MisraGries.agg(col("token"), 64).as("cands"))
      val cand = summary.select(col("n_total"), explode(col("cands")).as("token"))
      tok.join(broadcast(cand), "token")
        .groupBy(col("token"), col("n_total"))
        .agg(count(lit(1)).cast("long").as("n"))
        .filter(col("n") * 64 > col("n_total"))
        .select(col("token"), col("n"), col("n_total"))
    },

    // Conditional-aggregate surface (r8g): FILTER-clause counts plus the
    // boolean reducers bool_and/bool_or — the idioms every data-quality
    // rollup is written in (count_if(bad) per partition, bool_and(invariant)
    // as a gate). All are single-pass partial aggregates: each FILTER leg
    // is a predicated counter inside the SAME hash-agg operator (one scan,
    // one shuffle of |groups| rows, never one pass per condition), and the
    // boolean reducers ship one byte per partition. Cross-engine note:
    // Spark's count_if == DuckDB's FILTER'd count; any_value is banned
    // here (nondeterministic pick) — min/max stand in for "a value".
    Q("agg_conditional",
      """SELECT l_returnflag,
        |       CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_hi_disc,
        |       CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_bulk,
        |       CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.06)
        |            AS BIGINT) AS n_hi_tax_supp,
        |       bool_and(l_quantity > 0) AS all_qty_pos,
        |       bool_or(l_discount = 0) AS any_zero_disc
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_if(col("l_discount") > 0.05).as("n_hi_disc"),
          count_if(col("l_quantity") >= 25).as("n_bulk"),
          count_distinct(when(col("l_tax") > 0.06, col("l_suppkey")))
            .as("n_hi_tax_supp"),
          bool_and(col("l_quantity") > 0).as("all_qty_pos"),
          bool_or(col("l_discount") === 0).as("any_zero_disc"))
    },

    // Spearman rank correlation (r8g) — the monotone-association sibling of
    // agg_corr's Pearson: does order value rise with line count even when
    // the relationship is non-linear? Permutation ranks (row_number over
    // the total order (value, key) — a unique tie-break, so ranks are a
    // permutation and rho = 1 − 6Σd²/(n(n²−1)) holds exactly with integer
    // Σd²). Determinism ladder: n and Σd² are BIGINTs < 2^53 (exact double
    // images), rho is ONE identical IEEE multiply-divide tree in both
    // engines — no accumulation drift possible. The oracle ranks with two
    // naive global windows; the Spark side runs the banded TWO-PHASE rank
    // (per-band row_number + broadcast band offsets — quality_ks_test's
    // cumulative discipline) so no task ever sorts the whole table: the
    // hash gate proves the decomposition lossless.
    Q("quality_spearman",
      """WITH xy AS (
        |  SELECT o.o_orderkey AS k, o.o_totalprice AS x, l.cnt AS y
        |  FROM orders o JOIN (SELECT l_orderkey, count(*) AS cnt
        |                      FROM lineitem GROUP BY 1) l
        |    ON l.l_orderkey = o.o_orderkey),
        |r AS (
        |  SELECT k,
        |         row_number() OVER (ORDER BY x, k) AS rx,
        |         row_number() OVER (ORDER BY y, k) AS ry
        |  FROM xy),
        |s AS (SELECT count(*) AS n,
        |             sum((rx - ry) * (rx - ry)) AS sum_d2 FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sum_d2 AS BIGINT) AS sum_d2,
        |       1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))
        |         AS rho
        |FROM s""".stripMargin) { (s, d) =>
      val cnt = Tables.cachedTable(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("y"))
      val xy = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("x"))
        .join(cnt, col("k") === col("l_orderkey"))
        .select("k", "x", "y")
      // banded two-phase permutation rank (CurateOps.bandedRank): phase 1 =
      // band counts → exclusive offsets, phase 2 = within-band row_number
      val rx = graft.operators.CurateOps
        .bandedRank(xy, "x", "k", expr("CAST(floor(x / 10000.0) AS BIGINT)"), "rx")
        .select("k", "rx")
      val ry = graft.operators.CurateOps
        .bandedRank(xy, "y", "k", col("y"), "ry")
        .select("k", "ry")
      rx.join(ry, "k")
        .agg(count(lit(1)).as("n"),
          sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sum_d2"))
        .select(col("n"), col("sum_d2").cast("long").as("sum_d2"),
          (lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n").cast("double") *
              (col("n").cast("double") * col("n").cast("double") - lit(1.0))))
            .as("rho"))
    },

    // Winsorized mean (r8g) — the robust location estimate QA dashboards
    // trend instead of the raw mean (one fat-finger order of 10^9 moves a
    // mean; a p05/p95-clamped mean doesn't): per group, clamp values into
    // [p05, p95] then average. Two-pass by necessity (the clamp bounds
    // are a group-sized agg broadcast back into the scan); the clamped
    // values are quantized to DECIMAL(18,6) BEFORE the cross-row sum
    // (interpolated percentile bounds are full-precision doubles — the
    // quantize-then-exact-sum ladder is what keeps the mean bit-equal
    // cross-engine), and the mean is the usual exact-sum / count IEEE
    // division. Rides the pinned Spark-percentile == DuckDB-quantile_cont
    // parity.
    Q("quality_winsorized",
      """WITH b AS (
        |  SELECT l_returnflag,
        |         quantile_cont(l_extendedprice, 0.05) AS p05,
        |         quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT l.l_returnflag,
        |         CAST(least(greatest(l.l_extendedprice, b.p05), b.p95)
        |              AS DECIMAL(18,6)) AS v
        |  FROM lineitem l JOIN b USING (l_returnflag))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(v) AS DOUBLE) / count(*) AS winsorized_mean
        |FROM c GROUP BY 1""".stripMargin) { (s, d) =>
      // Winsorizing bounds WITHOUT per-group value buffers (r15
      // optimization round, the agg_percentile discipline): the
      // `percentile` builtin is a TypedImperativeAggregate that collects
      // every value of a group into ONE executor buffer and sorts it
      // single-threaded — OOM-class at a 100 TB group, and even at sf0.1
      // the 3 single-task sorts were the key's dominant cost (measured
      // 2.1–2.7 s; banded two-phase rank 1.0–1.2 s same session).
      // CurateOps.exactQuantilesByGroup fetches only the two
      // order-statistic rows per quantile and interpolates with EXACTLY
      // the builtin's IEEE tree (bit-equal, CuratePropSpec pin), so the
      // oracle hash is unchanged.
      val li = Tables.cachedTable(s, d, "lineitem")
      val bounds = graft.operators.CurateOps.exactQuantilesByGroup(
        li.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
        groupCols = Seq("l_returnflag"),
        valueCol = "l_extendedprice",
        tieCol = "l_orderkey",
        band = floor(col("l_extendedprice") / 5000).cast("long"),
        qs = Seq("p05" -> 0.05, "p95" -> 0.95))
      li.join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"),
          least(greatest(col("l_extendedprice"), col("p05")), col("p95"))
            .cast("decimal(18,6)").as("v"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .select(col("l_returnflag"), col("n"),
          (col("sv").cast("double") / col("n")).as("winsorized_mean"))
    },

    // Benford first-digit audit (r8g) — the data-forensics screen for
    // fabricated/templated numeric columns: natural multiplicative data
    // follows P(d) = log10(1 + 1/d); synthetic or clipped generators
    // (like this fixture) deviate loudly, and the per-digit deviation
    // table IS the report. log10 never runs in either engine: the nine
    // expected shares are precomputed ppm literals interpolated from one
    // Scala constant (rank_ndcg's discipline). First digit is exact
    // integer/string arithmetic on floor(value); observed shares are
    // integer floor-division ppm. One scan, a 9-row agg.
    Q("quality_benford",
      s"""WITH dgt AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
         |              AS BIGINT) AS digit
         |  FROM orders WHERE o_totalprice >= 1),
         |c AS (SELECT digit, count(*) AS n FROM dgt GROUP BY 1),
         |t AS (SELECT sum(n) AS total FROM c)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |       CAST(n * 1000000 // t.total AS BIGINT) AS obs_ppm,
         |       CAST(($BenfordCase) AS BIGINT) AS exp_ppm,
         |       CAST(abs(n * 1000000 // t.total - ($BenfordCase)) AS BIGINT) AS dev_ppm
         |FROM c, t""".stripMargin) { (s, d) =>
      val expArr = typedLit(BenfordPpm)
      val c = Tables.cachedTable(s, d, "orders")
        .filter(col("o_totalprice") >= 1)
        .select(expr(
          "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = c.agg(sum("n").as("total"))
      c.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          expr("n * 1000000 div total").as("obs_ppm"),
          element_at(expArr, col("digit").cast("int")).as("exp_ppm"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
    },

    // Rolling OLS slope (r8g) — agg_regression's window twin: the trend
    // of a customer's order value over their trailing 10 orders, the
    // per-entity drift detector a churn/LTV pipeline computes. The frame
    // collects the four moment sums (n, Σx, Σx², Σy, Σxy) with x = exact
    // integer epoch-day and y DECIMAL(18,2), so every sum is exact and
    // order-free; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is one IEEE
    // division of two exact aggregates (< 2^53 — identical bits
    // cross-engine), with the degenerate frames (n<2, zero variance in
    // x) pinned to 0.0 by the same CASE in both engines. 100 TB shape:
    // one customer-keyed exchange, bounded per-customer frames — the
    // sessionize discipline; never a global sort.
    Q("window_slope",
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |         date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS x,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders),
        |w AS (SELECT o_custkey, o_orderkey, x,
        |        count(*) OVER f AS n,
        |        sum(x) OVER f AS sx,
        |        sum(x * x) OVER f AS sxx,
        |        sum(y) OVER f AS sy,
        |        sum(y * x) OVER f AS sxy
        |      FROM o WINDOW f AS (PARTITION BY o_custkey ORDER BY x, o_orderkey
        |                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT o_custkey, o_orderkey, CAST(n AS BIGINT) AS n,
        |       CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
        |            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |                 / CAST(n * sxx - sx * sx AS DOUBLE)
        |       END AS slope
        |FROM w""".stripMargin) { (s, d) =>
      val f = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("x"), col("o_orderkey"))
        .rowsBetween(-9, 0)
      Tables.cachedTable(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') AS BIGINT)")
            .as("x"),
          col("o_totalprice").cast("decimal(18,2)").as("y"))
        .select(col("o_custkey"), col("o_orderkey"), col("x"),
          count(lit(1)).over(f).as("n"),
          sum(col("x")).over(f).as("sx"),
          sum(col("x") * col("x")).over(f).as("sxx"),
          sum(col("y")).over(f).as("sy"),
          sum(col("y") * col("x")).over(f).as("sxy"))
        .select(col("o_custkey"), col("o_orderkey"), col("n"),
          when(col("n") < 2 ||
               col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(0.0))
            .otherwise(
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"))
    },

    // Column-completeness profile (r8g) — the "DESCRIBE my table" report
    // every ingestion QA step publishes first: per column, fill rate and
    // distinct cardinality in ONE pass (all counters are slots of a
    // single hash-agg; never a pass per column — at 100 TB a 300-column
    // profile is still one scan). The wide-to-long reshape is a stack()
    // over the 1-row agg, i.e. free. count(DISTINCT a), count(DISTINCT
    // b), ... in one agg plans via expand (×columns-profiled data
    // multiplier) — acceptable for a profile job, and the alternative
    // (one pass per column) is strictly worse.
    Q("quality_profile",
      """WITH s AS (
        |  SELECT count(*) AS n,
        |         count(o_orderstatus) AS f1, count(DISTINCT o_orderstatus) AS d1,
        |         count(o_orderpriority) AS f2, count(DISTINCT o_orderpriority) AS d2,
        |         count(o_custkey) AS f3, count(DISTINCT o_custkey) AS d3,
        |         count(o_totalprice) AS f4, count(DISTINCT o_totalprice) AS d4
        |  FROM orders)
        |SELECT column_name, CAST(n AS BIGINT) AS n_rows,
        |       CAST(f AS BIGINT) AS n_filled, CAST(n - f AS BIGINT) AS n_nulls,
        |       CAST(d AS BIGINT) AS n_distinct,
        |       CAST(f * 1000000 // n AS BIGINT) AS fill_ppm
        |FROM (
        |  SELECT 'o_orderstatus' AS column_name, n, f1 AS f, d1 AS d FROM s
        |  UNION ALL SELECT 'o_orderpriority', n, f2, d2 FROM s
        |  UNION ALL SELECT 'o_custkey', n, f3, d3 FROM s
        |  UNION ALL SELECT 'o_totalprice', n, f4, d4 FROM s)""".stripMargin) {
      (s, d) =>
        Tables.cachedTable(s, d, "orders")
          .agg(
            count(lit(1)).as("n"),
            count(col("o_orderstatus")).as("f1"),
            countDistinct(col("o_orderstatus")).as("d1"),
            count(col("o_orderpriority")).as("f2"),
            countDistinct(col("o_orderpriority")).as("d2"),
            count(col("o_custkey")).as("f3"),
            countDistinct(col("o_custkey")).as("d3"),
            count(col("o_totalprice")).as("f4"),
            countDistinct(col("o_totalprice")).as("d4"))
          .selectExpr(
            """stack(4,
              |  'o_orderstatus', f1, d1,
              |  'o_orderpriority', f2, d2,
              |  'o_custkey', f3, d3,
              |  'o_totalprice', f4, d4) AS (column_name, f, d)""".stripMargin,
            "n")
          .select(col("column_name"), col("n").as("n_rows"),
            col("f").as("n_filled"), (col("n") - col("f")).as("n_nulls"),
            col("d").as("n_distinct"),
            expr("f * 1000000 div n").as("fill_ppm"))
    },

    // Running DISTINCT count per entity (r8g) — the feature-adoption
    // curve: after each event, how many distinct event types has this
    // user touched so far? COUNT(DISTINCT) OVER a running frame is
    // unsupported (Spark) / quadratic-state (anywhere); the scalable
    // identity is "cumulative sum of first-occurrence markers": mark row
    // 1 of each (user, type) via row_number, then a running SUM of marks
    // — two windows over the SAME user-keyed exchange, O(1) state per
    // row. The oracle runs the identical decomposition (DuckDB would
    // allow the naive form only with quadratic rescans).
    Q("window_running_distinct",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |           FROM events),
        |m AS (SELECT user_id, ts_us, event_id,
        |        CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY ts_us, event_id) = 1
        |             THEN 1 ELSE 0 END AS first_seen
        |      FROM e)
        |SELECT user_id, ts_us, event_id,
        |       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
        |FROM m""".stripMargin) { (s, d) =>
      val wFirst = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
      val wRun = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Long.MinValue, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          sum("first_seen").over(wRun).as("n_types_seen"))
    },

    // Cramér's V (r9) — quality_chi2's statistic normalized into the
    // [0,1] ASSOCIATION-STRENGTH scale a data-quality dashboard actually
    // thresholds on (chi2 grows with n, so raw chi2 can't be compared
    // across tables; V = sqrt(chi2 / (n·(min(r,c)−1))) can). Same exact
    // ladder as chi2 (integer marginals < 2^53, per-cell double term
    // quantized to DECIMAL(18,6), exact order-free sum), then TWO final
    // IEEE steps (one division, one correctly-rounded sqrt) — identical
    // trees both engines, rounded at 5 dp at the report boundary.
    // 100 TB: marginals are dimension-sized; the only corpus work is the
    // one (s, p) count agg.
    Q("quality_cramers_v",
      """WITH t AS (SELECT o_orderstatus AS s, o_orderpriority AS p FROM orders),
        |o AS (SELECT s, p, count(*) AS o FROM t GROUP BY 1, 2),
        |r AS (SELECT s, count(*) AS r FROM t GROUP BY 1),
        |c AS (SELECT p, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t),
        |grid AS (SELECT r.s, c.p, r.r, c.c FROM r CROSS JOIN c),
        |cell AS (
        |  SELECT CAST(CAST((coalesce(o.o, 0) * n.n - g.r * g.c) AS DOUBLE)
        |              * CAST((coalesce(o.o, 0) * n.n - g.r * g.c) AS DOUBLE)
        |              / (CAST(n.n AS DOUBLE) * g.r * g.c)
        |           AS DECIMAL(18,6)) AS term
        |  FROM grid g LEFT JOIN o ON o.s = g.s AND o.p = g.p, n),
        |k AS (SELECT least((SELECT count(*) FROM r),
        |                   (SELECT count(*) FROM c)) - 1 AS mindim)
        |SELECT CAST(n.n AS BIGINT) AS n, CAST(k.mindim AS BIGINT) AS mindim,
        |       round(sqrt(CAST(sum(term) AS DOUBLE)
        |                  / (CAST(n.n AS DOUBLE) * k.mindim)), 5) AS cramers_v
        |FROM cell, n, k GROUP BY n.n, k.mindim""".stripMargin) { (s, d) =>
      val t = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderstatus").as("s"), col("o_orderpriority").as("p"))
      val o = t.groupBy("s", "p").agg(count(lit(1)).as("o"))
      val r = t.groupBy("s").agg(count(lit(1)).as("r"))
      val c = t.groupBy("p").agg(count(lit(1)).as("c"))
      val n = t.agg(count(lit(1)).as("n"))
      val minDim = math.min(r.count(), c.count()) - 1
      broadcast(r).crossJoin(broadcast(c))
        .join(o, Seq("s", "p"), "left")
        .crossJoin(broadcast(n))
        .select(col("n"),
          ((coalesce(col("o"), lit(0L)) * col("n") - col("r") * col("c"))
            .cast("double") *
            (coalesce(col("o"), lit(0L)) * col("n") - col("r") * col("c"))
              .cast("double") /
            (col("n").cast("double") * col("r") * col("c")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("term"))
        .groupBy("n").agg(sum("term").as("chi2_d"))
        .select(col("n").cast("long").as("n"),
          lit(minDim).as("mindim"),
          round(sqrt(col("chi2_d").cast("double") /
            (col("n").cast("double") * lit(minDim.toDouble))), 5).as("cramers_v"))
    },

    // Welch's unequal-variance t-test (r9) — the two-sample mean
    // comparison quality_mannwhitney (rank-based) doesn't give: did the
    // mean of metric v MOVE between cohorts, without the equal-variance
    // assumption Student's t needs (cohort sizes and spreads differ in
    // every real A/B readout). Moments ride the agg_corr DECIMAL ladder
    // (per-term quantize → exact order-free sum → double); the t statistic
    // and the Welch–Satterthwaite dof are each ONE identical IEEE tree,
    // rounded at 5 dp at the report boundary. 100 TB: one map-side
    // combinable agg over the cohort column — no shuffle beyond 2 groups.
    Q("quality_welch_ttest",
      """WITH t AS (SELECT o_orderkey % 2 AS side, o_totalprice AS v FROM orders),
        |m AS (SELECT side, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS sx,
        |             CAST(sum(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |      FROM t GROUP BY 1),
        |w AS (SELECT
        |        (SELECT n FROM m WHERE side = 0) AS n1,
        |        (SELECT n FROM m WHERE side = 1) AS n2,
        |        (SELECT sx FROM m WHERE side = 0) AS s1,
        |        (SELECT sx FROM m WHERE side = 1) AS s2,
        |        (SELECT sxx FROM m WHERE side = 0) AS q1,
        |        (SELECT sxx FROM m WHERE side = 1) AS q2),
        |f AS (SELECT n1, n2,
        |             (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS a,
        |             (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS b,
        |             s1 / n1 - s2 / n2 AS dm
        |      FROM w)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       round(dm / sqrt(a + b), 5) AS t_stat,
        |       round((a + b) * (a + b) /
        |             (a * a / (n1 - 1) + b * b / (n2 - 1)), 5) AS dof
        |FROM f""".stripMargin) { (s, d) =>
      val dec27 = org.apache.spark.sql.types.DecimalType(27, 6)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val t = Tables.cachedTable(s, d, "orders")
        .select((col("o_orderkey") % 2).as("side"), col("o_totalprice").as("v"))
      val m = t.groupBy("side").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("v").cast(dec27)).cast("double").as("sx"),
        sum((col("v") * col("v")).cast(dec38)).cast("double").as("sxx"))
      val w = m.filter(col("side") === 0)
        .select(col("n").as("n1"), col("sx").as("s1"), col("sxx").as("q1"))
        .crossJoin(broadcast(m.filter(col("side") === 1)
          .select(col("n").as("n2"), col("sx").as("s2"), col("sxx").as("q2"))))
      val a = (col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1) / col("n1")
      val b = (col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1) / col("n2")
      val dm = col("s1") / col("n1") - col("s2") / col("n2")
      w.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(dm / sqrt(a + b), 5).as("t_stat"),
        round((a + b) * (a + b) /
          (a * a / (col("n1") - 1) + b * b / (col("n2") - 1)), 5).as("dof"))
    },

    // One-way ANOVA F (r9) — Welch's k-group generalization: does metric v
    // differ across MORE than two cohorts (order status here)? Avoids the
    // mean-subtraction float trap with the sum-of-squares identities
    // SSB = Σ_g S_g²/n_g − S²/N and SSW = Q − Σ_g S_g²/n_g, where S_g/Q
    // are DECIMAL-exact; the per-group double terms S_g²/n_g quantize to
    // DECIMAL(27,6) and sum exactly (order-free — the accumulator-split
    // lesson applies to ORDER, not just width), so k-group reduction
    // order can't flip a bit. F and the dof pair are one IEEE tree.
    Q("quality_anova",
      """WITH t AS (SELECT o_orderstatus AS g, o_totalprice AS v FROM orders),
        |m AS (SELECT g, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS sx,
        |             CAST(sum(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |      FROM t GROUP BY 1),
        |agg AS (SELECT count(*) AS k,
        |               CAST(sum(CAST(n AS DECIMAL(27,6))) AS DOUBLE) AS nn,
        |               CAST(sum(CAST(sx AS DECIMAL(27,6))) AS DOUBLE) AS ss,
        |               CAST(sum(CAST(sxx AS DECIMAL(38,6))) AS DOUBLE) AS qq,
        |               CAST(sum(CAST(sx * sx / n AS DECIMAL(27,6))) AS DOUBLE) AS sb
        |        FROM m)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
        |       round(((sb - ss * ss / nn) / (k - 1)) /
        |             ((qq - sb) / (nn - k)), 5) AS f_stat
        |FROM agg""".stripMargin) { (s, d) =>
      val dec27 = org.apache.spark.sql.types.DecimalType(27, 6)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val t = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderstatus").as("g"), col("o_totalprice").as("v"))
      val m = t.groupBy("g").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("v").cast(dec27)).cast("double").as("sx"),
        sum((col("v") * col("v")).cast(dec38)).cast("double").as("sxx"))
      m.agg(
          count(lit(1)).as("k"),
          sum(col("n").cast(dec27)).cast("double").as("nn"),
          sum(col("sx").cast(dec27)).cast("double").as("ss"),
          sum(col("sxx").cast(dec38)).cast("double").as("qq"),
          sum((col("sx") * col("sx") / col("n")).cast(dec27)).cast("double").as("sb"))
        .select(col("k").cast("long").as("k"), col("nn").cast("long").as("n"),
          round(((col("sb") - col("ss") * col("ss") / col("nn")) / (col("k") - 1)) /
            ((col("qq") - col("sb")) / (col("nn") - col("k"))), 5).as("f_stat"))
    },

    // WEIGHTED median (r9) — agg_percentile medians ROWS; this medians
    // MASS: the price point splitting total QUANTITY in half (revenue/
    // inventory medians weight by units, not line items — a few bulk
    // lines move it where the row median won't budge). Integer-exact:
    // weights are integral doubles cast BIGINT, the crossing rule
    // 2·cumW ≥ W is a pure integer compare on ONE group-keyed ordered
    // window (value, orderkey, linenumber — a total order), winner = the
    // first crossing row. 100 TB: same banded shape as the exact
    // quantiles — no per-group value buffers anywhere.
    Q("agg_weighted_median",
      """WITH t AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |                  CAST(l_quantity AS BIGINT) AS w,
        |                  l_orderkey, l_linenumber
        |           FROM lineitem),
        |c AS (SELECT g, v, w,
        |             sum(w) OVER (PARTITION BY g
        |                          ORDER BY v, l_orderkey, l_linenumber) AS cw,
        |             sum(w) OVER (PARTITION BY g) AS tw
        |      FROM t),
        |x AS (SELECT g, v, cw, tw,
        |             row_number() OVER (PARTITION BY g ORDER BY cw, v) AS rn
        |      FROM c WHERE 2 * cw >= tw)
        |SELECT g AS l_returnflag, v AS weighted_median,
        |       CAST(tw AS BIGINT) AS total_weight
        |FROM x WHERE rn = 1""".stripMargin) { (s, d) =>
      val byG = org.apache.spark.sql.expressions.Window.partitionBy("g")
      val t = Tables.cachedTable(s, d, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      t.withColumn("cw", sum("w").over(
          byG.orderBy("v", "l_orderkey", "l_linenumber")
            .rowsBetween(Long.MinValue, 0)))
        .withColumn("tw", sum("w").over(byG))
        .filter(lit(2) * col("cw") >= col("tw"))
        .withColumn("rn", row_number().over(byG.orderBy("cw", "v")))
        .filter(col("rn") === 1)
        .select(col("g").as("l_returnflag"), col("v").as("weighted_median"),
          col("tw").cast("long").as("total_weight"))
    }
  )
}
