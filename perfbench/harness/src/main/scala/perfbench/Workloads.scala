package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft
import perfbench.Harness.{Op, Workload}

/** Keyed snapshot diff over two generated snapshots (see [[Gen.snapshot]]).
  * Every check compares against what the generator planted, never against
  * another `Differ` output.
  */
object DiffSnapshot {
  val Rows = 50000L
}

final class DiffSnapshot(dir: String, rows: Long, seed: Long) extends Workload {
  private val keys = Seq("id")
  private var planted: Gen.Planted = _
  private var rightDigest: (Long, BigDecimal) = _

  def setup(spark: SparkSession): Unit = planted = Gen.snapshot(spark, dir, rows, seed)

  def inputs: Map[String, Any] = Map(
    "rows_left" -> planted.leftRows, "rows_right" -> planted.rightRows,
    "bytes" -> Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum,
    "planted" -> Harness.jmap(Map("N" -> planted.n, "C" -> planted.c, "I" -> planted.i,
      "D" -> planted.d)))

  private val Statuses = Seq("N", "C", "I", "D")

  private def statusCounts(c: String => Column): Seq[Column] =
    Statuses.map(s => sum(when(c("diff_status") === s, 1L).otherwise(0L)).as(s))

  /** Sum of `n` per status, for the summary frame `(diff_status, n)`. */
  private def summaryCounts(c: String => Column): Seq[Column] =
    Statuses.map(s => sum(when(c("diff_status") === s, c("n")).otherwise(0L)).as(s))

  private def expectCounts(want: Map[String, Long])(m: Map[String, Any]): Option[String] = {
    val got = want.keys.map(k => k -> Option(m(k)).fold(0L)(_.toString.toLong)).toMap
    if (got == want) None else Some(s"status counts $got, planted $want")
  }

  private def all = Map("N" -> planted.n, "C" -> planted.c, "I" -> planted.i, "D" -> planted.d)
  private def nonN = all.updated("N", 0L)

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    val l = spark.read.parquet(s"$dir/left")
    val r = spark.read.parquet(s"$dir/right")
    if (rightDigest == null) {
      val order = r.columns.zipWithIndex.sortBy(identity).map(_._2)
      val row = r.agg(count(lit(1)), sum(Digest.rowHash(r, order).cast("decimal(38,0)"))).head()
      rightDigest = (row.getLong(0), BigDecimal(row.getDecimal(1)))
    }
    Seq(
      Op("diff", () => Graft.diff(l, r, keys), statusCounts, expectCounts(all)),
      Op("diffSummary", () => Graft.diffSummary(l, r, keys), summaryCounts, expectCounts(all)),
      Op("diffLarge", () => Graft.diffLarge(l, r, keys), statusCounts, expectCounts(nonN)),
      Op("columnStats", () => Graft.columnStats(l, r, keys),
        c => Seq(sum(c("n_diff")).as("changed")),
        m => if (m("changed").toString.toLong == planted.c) None
          else Some(s"columnStats counts ${m("changed")} changed values, planted ${planted.c}")),
      Op("applyChangeset", () => Graft.applyChangeset(l, Graft.diff(l, r, keys), keys),
        _ => Nil, m => {
          val got = (m("rows").toString.toLong, BigDecimal(m("hash").toString))
          if (got == rightDigest) None
          else Some(s"applyChangeset(left, diff) digest $got != right's $rightDigest")
        }),
      Op("diffReport", () => Graft.diffReport(l, r, keys, "name"),
        c => Statuses.map(s =>
          sum(when(c("section") === "summary" && c("item") === s, c("n")).otherwise(0L)).as(s)),
        expectCounts(all)))
  }
}

/** Declared keys of the program, run on generated fixture tables (see
  * [[Gen.fixture]]). Each output's digest must equal the one stored in
  * `expected_digests.json`.
  */
object Fixture {
  val Size = Gen.FixtureSize(scale = 0.01, documents = 500)

  def keys(workload: String): Seq[String] = workload match {
    case "near_dup" => Seq("dedup_near", "dedup_containment", "dedup_minhash_lsh", "dedup_clusters")
    case "catalog_txnlog" => Seq("sql_diff_txnlog_tvf", "stream_txn_sink", "txn_merge")
  }

  /** The fixture tables a workload's keys read. */
  def tables(workload: String): Set[String] = workload match {
    case "near_dup" => Set("documents")
    case "catalog_txnlog" => Set("customer", "orders", "events")
  }
}

final class Fixture(dir: String, keys: Seq[String], tables: Set[String], seed: Long,
                    digests: Option[String], recordTo: Option[String]) extends Workload {
  private val size = Fixture.Size
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val recorded = new java.util.TreeMap[String, Any]()

  /** key -> (rows, hash) */
  private lazy val expected: Map[String, (Long, String)] = digests.fold(
    Map.empty[String, (Long, String)]) { path =>
    val root = mapper.readTree(Files.readAllBytes(Paths.get(path))).get("digests")
    root.fieldNames().asScala.map { k =>
      val e = root.get(k)
      k -> (e.get("rows").asLong, e.get("hash").asText)
    }.toMap
  }

  def setup(spark: SparkSession): Unit = Gen.fixture(spark, dir, size, tables)

  def inputs: Map[String, Any] = Map(
    "fixture" -> size.toString, "keys" -> Harness.jlist(keys),
    "bytes" -> Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** The seed orders the first pass's keys. Cleared passes run them in the
    * listed order, so the same key pays each shared cache build and
    * per-operation latencies compare across runs and seeds.
    */
  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    val order = if (pass == 0) new scala.util.Random(seed).shuffle(keys) else keys
    order.map { k =>
      Op(k, () => graft.SparkEntry.queries(k)(spark, dir), check = m => check(k, m))
    }
  }

  private def check(key: String, m: Map[String, Any]): Option[String] = {
    val rows = m("rows").toString.toLong
    val hash = Option(m("hash")).fold("null")(_.toString)
    if (recordTo.isDefined) {
      recorded.put(key, Harness.jmap(Map("rows" -> rows, "hash" -> hash)))
      None
    } else expected.get(key) match {
      case None => Some("no expected digest stored for this key")
      case Some((r, h)) =>
        if (r == rows && h == hash) None
        else Some(s"digest ($rows, $hash) != expected ($r, $h)")
    }
  }

  /** In record mode, writes the digests in `expected_digests.json`'s format. */
  override def finish(): Unit = recordTo.foreach { path =>
    Files.write(Paths.get(path), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(Harness.jmap(Map("fixture" -> size.toString, "digests" -> recorded))))
  }
}

/** Per-row cost of the five native kernels `GraftExtensions.register`
  * installs, one SQL aggregate per kernel over cached seeded inputs.
  */
object Kernels {
  val Rows = 50000L

  def probe(spark: SparkSession, seed: Long): Map[String, Double] = {
    val words = "array('agg','batch','column','filter','group','hash','join','key','merge'," +
      "'order','part','query','scan','sort','spark','stream','table','value','window','vector')"
    val t = spark.range(0, Rows).selectExpr(
      "id",
      s"transform(sequence(0, 15), j -> element_at($words, cast(pmod(xxhash64(id, j, ${seed}L), 20) as int) + 1)) AS wa",
      s"transform(sequence(0, 31), j -> pmod(xxhash64(id, j, ${seed + 1}L), 256)) AS la",
      s"transform(sequence(0, 31), j -> pmod(xxhash64(id, j, ${seed + 2}L), 256)) AS lb",
      s"transform(sequence(0, 63), j -> cast((pmod(xxhash64(id, j, ${seed + 3}L), 2001) - 1000) / 1000.0 AS float)) AS fa",
      s"transform(sequence(0, 63), j -> cast((pmod(xxhash64(id, j, ${seed + 4}L), 2001) - 1000) / 1000.0 AS float)) AS fb",
      s"transform(sequence(0, 63), j -> cast(pmod(xxhash64(id, j, ${seed + 5}L), 255) - 127 AS tinyint)) AS ba",
      s"transform(sequence(0, 63), j -> cast(pmod(xxhash64(id, j, ${seed + 6}L), 255) - 127 AS tinyint)) AS bb")
      .selectExpr("*",
        // wb: wa with the token at one hashed position replaced
        s"transform(wa, (w, j) -> if(j = cast(pmod(xxhash64(id, ${seed + 7}L), 16) as int), 'zzz', w)) AS wb")
      .selectExpr("concat_ws(' ', wa) AS sa", "concat_ws(' ', wb) AS sb",
        "array_sort(array_distinct(wa)) AS ta", "array_sort(array_distinct(wb)) AS tb",
        "array_sort(array_distinct(la)) AS la", "array_sort(array_distinct(lb)) AS lb",
        "fa", "fb", "ba", "bb")
      .cache()
    t.count()
    val kernels = Seq(
      "bounded_levenshtein" -> "bounded_levenshtein(sa, sb, 3)",
      "sorted_intersect_count" -> "sorted_intersect_count(ta, tb)",
      "sorted_long_intersect_count" -> "sorted_long_intersect_count(la, lb)",
      "float_vec_dot" -> "float_vec_dot(fa, fb)",
      "byte_vec_dot" -> "byte_vec_dot(ba, bb)")
    val out = kernels.map { case (name, e) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        t.selectExpr(s"sum(cast($e AS double))").collect()
        (System.nanoTime() - t0).toDouble
      }
      name -> Harness.median(times) / Rows
    }.toMap
    t.unpersist(blocking = true)
    out
  }
}
