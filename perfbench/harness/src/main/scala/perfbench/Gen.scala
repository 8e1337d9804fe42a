package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generated value is a pure function of
  * (row id, seed), computed with `xxhash64`, so the same seed gives the
  * same rows at any core count and partitioning.
  */
object Gen {

  /** Uniform draw in [0, m) for row `id`, salt `k`. */
  private def u(id: Column, seed: Long, k: Int, m: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(k)), lit(m))

  /** Uniform double in [0, 1). */
  private def unit(id: Column, seed: Long, k: Int): Column =
    u(id, seed, k, 1000000L).cast("double") / 1e6

  // ---- diff_snapshot ---------------------------------------------------

  /** Row counts the snapshot generator planted: N unchanged, C changed,
    * I inserted, D deleted.
    */
  final case class Planted(n: Long, c: Long, i: Long, d: Long) {
    def leftRows: Long = n + c + d
    def rightRows: Long = n + c + i
  }

  /** Churn class of left row `id`, per mille of `xxhash64(id, seed)`:
    * [0, 10) changed, [10, 15) deleted, else unchanged. The same function
    * runs as a Spark column ([[churnCol]]) and on the driver ([[planted]]).
    */
  private def churn(id: Long, seed: Long): Long =
    java.lang.Math.floorMod(XXH64.hashLong(seed, XXH64.hashLong(id, 42L)), 1000L)

  private def churnCol(id: Column, seed: Long): Column =
    pmod(xxhash64(id, lit(seed)), lit(1000L))

  def planted(rows: Long, seed: Long): Planted = {
    var c = 0L
    var d = 0L
    var id = 0L
    while (id < rows) {
      val k = churn(id, seed)
      if (k < 10) c += 1 else if (k < 15) d += 1
      id += 1
    }
    Planted(rows - c - d, c, rows / 200, d)
  }

  /** The ten mixed-type value columns of a snapshot row. */
  private def values(id: Column, seed: Long): Seq[Column] = Seq(
    when(u(id, seed, 1, 50) === 0, lit(Double.NaN))
      .otherwise(round(unit(id, seed, 2) * 1000.0, 3)).as("x_double"),
    (u(id, seed, 3, 2000000) / 100.0).as("y_double"),
    when(u(id, seed, 4, 20) === 0, lit(null).cast("decimal(18,4)"))
      .otherwise((u(id, seed, 5, 100000000L) / 10000).cast("decimal(18,4)")).as("amount"),
    concat(lit("name-"), u(id, seed, 6, 1L << 40).cast("string")).as("name"),
    when(u(id, seed, 7, 10) === 0, lit(null).cast("string"))
      .otherwise(element_at(array(Seq("alpha", "beta", "gamma", "delta", "eps").map(lit): _*),
        (u(id, seed, 8, 5) + 1).cast("int"))).as("category"),
    u(id, seed, 9, 1000000).cast("int").as("qty"),
    when(u(id, seed, 10, 25) === 0, lit(null).cast("int"))
      .otherwise(u(id, seed, 11, 100).cast("int")).as("rank"),
    (u(id, seed, 12, 2) === 1).as("flag"),
    (lit(1704067200000000L) + u(id, seed, 13, 31536000000000L)).as("ts_us"),
    u(id, seed, 14, Long.MaxValue).as("ref"))

  /** One planted change per changed row, on a column picked by hash; each
    * rewrite differs from its input whatever the input is (NULL and NaN
    * included).
    */
  private def changed(seed: Long): Seq[Column] = {
    val pick = u(col("id"), seed, 99, 6)
    def on(k: Int, c: String, v: Column) =
      when(pick === k, v).otherwise(col(c)).as(c)
    Seq(
      col("id"),
      on(0, "x_double", when(isnan(col("x_double")), lit(0.5)).otherwise(col("x_double") + 1.0)),
      col("y_double"),
      on(1, "amount", coalesce(col("amount") + lit(BigDecimal("0.0001")),
        lit(BigDecimal("1.0000"))).cast("decimal(18,4)")),
      on(2, "name", concat(col("name"), lit("~"))),
      col("category"),
      on(3, "qty", col("qty") + 1),
      col("rank"),
      on(4, "flag", !col("flag")),
      on(5, "ts_us", col("ts_us") + 1),
      col("ref"))
  }

  /** Writes `left` and `right` snapshots under `dir` and returns what was
    * planted. Right = left minus the deleted rows, with one column
    * rewritten on each changed row, plus `rows / 200` inserted rows with
    * fresh ids.
    */
  def snapshot(spark: SparkSession, dir: String, rows: Long, seed: Long): Planted = {
    val p = planted(rows, seed)
    val id = col("id")
    val base = spark.range(0, rows).select(id +: values(id, seed): _*)
    base.write.mode("overwrite").parquet(s"$dir/left")
    val left = spark.read.parquet(s"$dir/left")
    val cls = churnCol(col("id"), seed)
    val kept = left.filter(cls >= 15)
    val edited = left.filter(cls < 10).select(changed(seed): _*)
    val inserted = spark.range(rows, rows + p.i).select(id +: values(id, seed ^ 0x5eed): _*)
    kept.unionByName(edited).unionByName(inserted)
      .write.mode("overwrite").parquet(s"$dir/right")
    p
  }

  // ---- fixture tables --------------------------------------------------

  /** Row counts of the fixture tables. `scale` follows the TPC-H-style
    * scale factor of the program's test data (orders = 1.5M × scale).
    */
  final case class FixtureSize(scale: Double, documents: Int) {
    def rows(base: Long): Long = math.max(1L, math.round(base * scale))
  }

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "fast", "filter", "group", "hash",
    "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "value", "vector",
    "window", "delta", "shuffle", "stage", "task", "cache", "plan", "index",
    "page", "block", "file", "log", "diff", "sketch")

  private def pick(words: Seq[String], i: Column): Column =
    element_at(array(words.map(lit): _*), (i + 1).cast("int"))

  private def ntz(micros: Column): Column =
    timestamp_micros(micros).cast("timestamp_ntz")

  private val DaySecs = 86400L * 1000000L
  private val Day1992 = 694224000000000L // 1992-01-01 in µs

  /** The fixture tables named in `tables` (of customer, orders, events and
    * documents: the ones the benchmark's keys read) under `dir`, one
    * single-file parquet each: the layout, names and schemas of the
    * program's own test data. Documents carry planted near-duplicates: every
    * fifth row copies an earlier row with one token changed.
    */
  def fixture(spark: SparkSession, dir: String, size: FixtureSize,
              tables: Set[String]): Unit = {
    val seed = 42L
    val id = col("id")
    def write(name: String, df: => DataFrame): Unit = if (tables(name))
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long) = spark.range(0, n)
    val nCust = size.rows(150000)
    val nOrd = size.rows(1500000)

    write("customer", range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(id, seed, 1, 25).cast("int").as("c_nationkey"),
      round(unit(id, seed, 2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        u(id, seed, 3, 5)).as("c_mktsegment")))
    write("orders", range(nOrd).select(id.as("o_orderkey"),
      u(id, seed, 11, nCust).as("o_custkey"),
      pick(Seq("F", "O", "P"), u(id, seed, 12, 3)).as("o_orderstatus"),
      round(unit(id, seed, 13) * 500000.0 + 900.0, 2).as("o_totalprice"),
      ntz(lit(Day1992) + u(id, seed, 14, 2400) * DaySecs).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(id, seed, 15, 5)).as("o_orderpriority")))
    write("events", range(size.rows(1000000)).select(id.as("event_id"),
      ntz(lit(1704067200000000L) + id * 30000000L + u(id, seed, 27, 30000000L)).as("ts"),
      u(id, seed, 28, 2000).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), u(id, seed, 29, 5)).as("event_type"),
      round(unit(id, seed, 30) * 200.0, 2).as("value"),
      format_string("{\"k\": %d}", u(id, seed, 31, 100)).as("props")))

    // Near-duplicate carriers: row `id` with id % 5 == 4 copies row
    // `src` = id - 1 - (hash % min(id, 20)) and rewrites one position.
    def source(salt: Int): Column =
      when(pmod(id, lit(5L)) === 4,
        id - 1 - pmod(xxhash64(id, lit(salt)), least(id, lit(20L))))
        .otherwise(id)
    val docs = range(size.documents).select(id, source(32).as("src"))
      .select(id.as("doc_id"), expr(
        s"""concat_ws(' ', transform(sequence(0, 9 + cast(pmod(xxhash64(src, 33), 40) as int)),
           |  j -> element_at(array(${Vocab.map(w => s"'$w'").mkString(",")}),
           |    cast(pmod(xxhash64(if(id != src AND j = cast(pmod(xxhash64(id, 34), 10) as int),
           |      id, src), j, 35), ${Vocab.size}) as int) + 1)))""".stripMargin).as("text"),
        pick(Seq("de", "en", "es", "fr"), u(col("src"), seed, 36, 4)).as("lang"),
        concat(lit("src"), u(id, seed, 37, 5).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs)
  }
}
