package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, rng}
import graft.streaming.StreamOps

/** Property pin for the r14 digest-strengthened census: the batch/stream
  * shared body ([[StreamOps.diffStreamStreamBatch]] — the same code the
  * oracle-checked `stream_diff_stream` key runs) must agree with an
  * INDEPENDENT JVM re-implementation of the documented semantics on
  * randomized dual feeds. The model recomputes everything from the
  * contract, not from Spark expressions: window assignment by integer
  * floor, count, max with NULLs skipped and NaN greatest, the canonical
  * payload string (doubles at DECIMAL(18,6) HALF_UP via
  * BigDecimal.valueOf — Spark's own double→decimal path — NaN/±Inf
  * named, NULL = U+2400, U+001F-joined), sha-256 slice sums, `<=>` max
  * compare, side-split null-key D/I rows, and the C-on-count-or-max-or-
  * digest verdict. Any drift between what the code computes and what the
  * scaladoc/SURVEY promise fails here without DuckDB in the loop.
  */
class StreamCensusPropSpec extends SparkTestBase {
  import spark.implicits._

  private val W = 1000000L // 1s windows

  // (ts_us, key, value, etype) — values stress every canon branch
  private type Ev = (Long, Option[Long], Option[Double], Option[String])
  private val evGen: Gen[Ev] = for {
    t <- Gen.choose(0L, 3L * W - 1L)
    k <- Gen.option(Gen.choose(0L, 3L))
    // 9.9e11 sits at the edge of DECIMAL(18,6)'s 12 integral digits —
    // values BEYOND it fail loudly under ANSI in both engines (the
    // DECIMAL-ladder discipline), so the tested domain is |v| < 1e12
    v <- Gen.option(Gen.oneOf(1.0, 2.5, 0.1234567, 1e-9, -3.75, 9.9e11,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
    s <- Gen.option(Gen.oneOf("view", "click", "weiv", ""))
  } yield (t, k, v, s)

  private val feedGen: Gen[List[Ev]] = Gen.listOfN(25, evGen)

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = rng.Seed(seed)
    (1 to n).map { _ =>
      val v = g.pureApply(Gen.Parameters.default, s)
      s = s.next
      v
    }
  }

  private def toDF(rows: Seq[Ev]): DataFrame =
    rows.toDF("ts_us", "k", "v", "et")

  /** Equal-timestamp rivals for the latest forms: each of the first four
    * events gets two more at the same ts and key, with another value and
    * the strings U+FF5A and U+1D11E. Those two order one way in UTF-8
    * (Spark, DuckDB) and the other way in Java's UTF-16 `compareTo`, so
    * the (ts, payload) tie-break decides which event is the latest.
    */
  private def withTies(rows: List[Ev]): List[Ev] =
    rows ++ rows.take(4).zipWithIndex.flatMap { case ((t, k, _, _), i) =>
      val v = Seq(Some(2.5), None, Some(Double.NaN), Some(-3.75))(i)
      Seq((t, k, v, Some("\uFF5A")), (t, k, v, Some("\uD834\uDD1E")))
    }

  /** Rows of a LIVE form over two MemoryStream feeds carrying `l` and `r`
    * (event time as TIMESTAMP column `ts`), flushed by a far-future
    * sentinel on both feeds whose own group never closes.
    */
  private def liveRows(l: Seq[Ev], r: Seq[Ev], name: String)(
      diff: (DataFrame, DataFrame) => DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (lIn, rIn) = (MemoryStream[Ev], MemoryStream[Ev])
    def feed(in: MemoryStream[Ev]) = in.toDF().toDF("ts_us", "k", "v", "et")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = diff(feed(lIn), feed(rIn)).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      lIn.addData(l: _*)
      rIn.addData(r: _*)
      val sentinel: Ev = (100L * W, Some(-999L), None, None)
      lIn.addData(sentinel)
      rIn.addData(sentinel)
      q.processAllAvailable()
      rowsOf(spark.table(name))
    } finally q.stop()
  }

  /** How many generated pairs per property also run the live form. */
  private val LiveCases = 3

  // ---- the independent model --------------------------------------------

  private def canonDouble(v: Option[Double]): String = v match {
    case None => "␀"
    case Some(d) if d.isNaN => "NaN"
    case Some(d) if d == Double.PositiveInfinity => "Inf"
    case Some(d) if d == Double.NegativeInfinity => "-Inf"
    case Some(d) =>
      // Spark's Cast(double → decimal) goes through BigDecimal.valueOf
      // (Double.toString shortest form), then HALF_UP at the target scale
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
  }
  private def canonStr(s: Option[String]): String = s.getOrElse("␀")

  private def slices(payload: String): (Long, Long) = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload.getBytes("UTF-8"))
    val hex = sha.map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16),
      java.lang.Long.parseLong(hex.substring(8, 16), 16))
  }

  private case class Cen(n: Long, mx: Option[Double], d1: Long, d2: Long)

  private def census(rows: Seq[Ev]): Map[(Long, Option[Long]), Cen] =
    rows.groupBy(e => (e._1 - java.lang.Math.floorMod(e._1, W), e._2))
      .map { case (g, es) =>
        val vs = es.flatMap(_._3)
        val mx = if (vs.isEmpty) None
          else Some(vs.reduce((a, b) =>
            if (b.isNaN || (!a.isNaN && b > a)) b else a))
        val ds = es.map(e =>
          slices(canonDouble(e._3) + "" + canonStr(e._4)))
        g -> Cen(es.size, mx, ds.map(_._1).sum, ds.map(_._2).sum)
      }

  private def maxEq(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => x == y || (x.isNaN && y.isNaN)
    case _ => false
  }

  private def fmtD(v: Option[Double]): String = v match {
    case None => "␀"
    case Some(d) => d.toString
  }

  /** Model rows in rowsOf's pipe format, sorted. */
  private def model(l: Seq[Ev], r: Seq[Ev]): Seq[String] = {
    val lc = census(l)
    val rc = census(r)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def dig(c: Cen) = s"${c.d1}:${c.d2}"
    // null keys never pair: each side's null-key groups emit alone
    for ((ws, k) <- (lc.keySet ++ rc.keySet)) {
      val kStr = k.map(_.toString).getOrElse("␀")
      (if (k.isEmpty) None else lc.get((ws, k)), if (k.isEmpty) None else rc.get((ws, k))) match {
        case (Some(a), Some(b)) =>
          val st =
            if (a.n != b.n || !maxEq(a.mx, b.mx) || a.d1 != b.d1 || a.d2 != b.d2) "C"
            else "N"
          out += s"$ws|$kStr|$st|${a.n}|${b.n}|${fmtD(a.mx)}|${fmtD(b.mx)}|${dig(a)}|${dig(b)}"
        case (Some(a), None) =>
          out += s"$ws|$kStr|D|${a.n}|␀|${fmtD(a.mx)}|␀|${dig(a)}|␀"
        case (None, Some(b)) =>
          out += s"$ws|$kStr|I|␀|${b.n}|␀|${fmtD(b.mx)}|␀|${dig(b)}"
        case (None, None) => // null key: side-split below
      }
    }
    // side-split null-key rows
    for ((ws, k) <- lc.keySet if k.isEmpty) {
      val a = lc((ws, k))
      out += s"$ws|␀|D|${a.n}|␀|${fmtD(a.mx)}|␀|${dig(a)}|␀"
    }
    for ((ws, k) <- rc.keySet if k.isEmpty) {
      val b = rc((ws, k))
      out += s"$ws|␀|I|␀|${b.n}|␀|${fmtD(b.mx)}|␀|${dig(b)}"
    }
    out.toSeq.sorted
  }

  test("diffStreamStreamBatch == independent JVM model on randomized dual feeds") {
    val cases = samples(Gen.zip(feedGen, feedGen), 12, seed = 1414L)
    for (((lRows, rRows), i) <- cases.zipWithIndex) {
      val got = rowsOf(StreamOps.diffStreamStreamBatch(
        toDF(lRows), toDF(rRows), "ts_us", "k", Seq("v", "et"), W))
      val want = model(lRows, rRows)
      assert(got == want,
        s"case $i diverged from the model\nspark=$got\nmodel=$want\n" +
          s"l=$lRows\nr=$rRows")
      if (i < LiveCases) {
        // a key named like a per-side aggregate must not clash with it
        val n = rowsOf(StreamOps.diffStreamStreamBatchKeyed(
          toDF(lRows).withColumnRenamed("k", "n"),
          toDF(rRows).withColumnRenamed("k", "n"), "ts_us", Seq("n"), Seq("v", "et"), W))
        assert(n == want, s"case $i keyed `n` diverged\nspark=$n\nmodel=$want")
        val live = liveRows(lRows, rRows, s"census_live_$i")((l, r) =>
          StreamOps.diffStreamStream(l, r, "ts", "k", Seq("v", "et"), W, "0 seconds").toDF())
        assert(live == want, s"case $i live diverged\nlive=$live\nmodel=$want")
      }
    }
  }

  // ---- latest-form model --------------------------------------------------

  private def cmpOpt(a: Option[Double], b: Option[Double]): Int = (a, b) match {
    case (None, None) => 0
    case (None, Some(_)) => -1 // NULL smallest in struct order
    case (Some(_), None) => 1
    case (Some(x), Some(y)) =>
      if (x == y || (x.isNaN && y.isNaN)) 0
      else if (y.isNaN || (!x.isNaN && x < y)) -1
      else 1
  }

  /** Latest observation per (window, key): max by (ts, v…) struct order. */
  private def latest(rows: Seq[Ev]): Map[(Long, Option[Long]), (Option[Double], Option[Double])] =
    rows.groupBy(e => (e._1 - java.lang.Math.floorMod(e._1, W), e._2))
      .map { case (g, es) =>
        val win = es.reduce { (a, b) =>
          if (a._1 != b._1) { if (a._1 > b._1) a else b }
          else {
            // model payload = (v, v2) where v2 = v * 3 - 1 derived below;
            // compare field-wise like max(struct)
            val c0 = cmpOpt(a._3, b._3)
            if (c0 != 0) { if (c0 > 0) a else b }
            else if (cmpOpt(a._3.map(_ * 3 - 1), b._3.map(_ * 3 - 1)) >= 0) a else b
          }
        }
        g -> (win._3, win._3.map(_ * 3 - 1))
      }

  private def eq2(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => x == y || (x.isNaN && y.isNaN)
    case _ => false
  }

  private def modelLatest(l: Seq[Ev], r: Seq[Ev]): Seq[String] = {
    val lc = latest(l)
    val rc = latest(r)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def row(ws: Long, k: Option[Long], st: String,
            a: Option[(Option[Double], Option[Double])],
            b: Option[(Option[Double], Option[Double])]) = {
      val kStr = k.map(_.toString).getOrElse("␀")
      def f(p: Option[(Option[Double], Option[Double])], i: Int) =
        p.map(t => fmtD(if (i == 0) t._1 else t._2)).getOrElse("␀")
      out += s"$ws|$kStr|$st|${f(a, 0)}|${f(b, 0)}|${f(a, 1)}|${f(b, 1)}"
    }
    for ((ws, k) <- (lc.keySet ++ rc.keySet) if k.nonEmpty) {
      (lc.get((ws, k)), rc.get((ws, k))) match {
        case (Some(a), Some(b)) =>
          val st = if (eq2(a._1, b._1) && eq2(a._2, b._2)) "N" else "C"
          row(ws, k, st, Some(a), Some(b))
        case (Some(a), None) => row(ws, k, "D", Some(a), None)
        case (None, Some(b)) => row(ws, k, "I", None, Some(b))
        case _ =>
      }
    }
    for ((ws, k) <- lc.keySet if k.isEmpty) row(ws, k, "D", Some(lc((ws, k))), None)
    for ((ws, k) <- rc.keySet if k.isEmpty) row(ws, k, "I", None, Some(rc((ws, k))))
    out.toSeq.sorted
  }

  test("diffStreamStreamLatestBatch == independent JVM model on randomized dual feeds") {
    import org.apache.spark.sql.functions.{col, element_at, lit}
    val cases = samples(Gen.zip(feedGen, feedGen), 10, seed = 2828L)
      .map { case (l, r) => (withTies(l), withTies(r)) }
    for (((lRows, rRows), i) <- cases.zipWithIndex) {
      // second payload column derived deterministically (v*3 - 1), so the
      // tie-break and per-column compare both exercise two fields
      def withV2(df: DataFrame) = df.withColumn("v2", col("v") * lit(3.0) - lit(1.0))
      val got = rowsOf(StreamOps.diffStreamStreamLatestBatch(
        withV2(toDF(lRows)), withV2(toDF(rRows)), "ts_us", "k", Seq("v", "v2"), W))
      val want = modelLatest(lRows, rRows)
      assert(got == want,
        s"case $i diverged from the latest-form model\nspark=$got\nmodel=$want\n" +
          s"l=$lRows\nr=$rRows")
      if (i < LiveCases) {
        // a key named like the per-side aggregate struct must not clash
        val m = rowsOf(StreamOps.diffStreamStreamLatestBatchKeyed(
          withV2(toDF(lRows)).withColumnRenamed("k", "m"),
          withV2(toDF(rRows)).withColumnRenamed("k", "m"), "ts_us", Seq("m"),
          Seq("v", "v2"), W))
        assert(m == want, s"case $i keyed `m` diverged\nspark=$m\nmodel=$want")
        val live = liveRows(lRows, rRows, s"latest_live_$i")((l, r) =>
          StreamOps.diffStreamStreamLatest(withV2(l), withV2(r), "ts", "k",
              Seq("v", "v2"), W, "0 seconds")
            .select(col("window_start_us"), col("key"), col("diff_status"),
              element_at(col("left_values"), 1), element_at(col("right_values"), 1),
              element_at(col("left_values"), 2), element_at(col("right_values"), 2)))
        assert(live == want, s"case $i live diverged\nlive=$live\nmodel=$want")
      }
    }
  }

  test("census refuses dtype-skewed payload feeds; latest form survives NULL timestamps (r14 review)") {
    import org.apache.spark.sql.functions.col
    // a DOUBLE-vs-DECIMAL payload skew would canonicalize "1.500000" vs
    // "1.50" and read every paired group C — must refuse at construction
    val l = toDF(Seq((100L, Some(1L), Some(1.5), Some("a"))))
    val rSkew = l.withColumn("v", col("v").cast("decimal(10,2)"))
    val e = intercept[IllegalArgumentException](
      StreamOps.diffStreamStreamBatch(l, rSkew, "ts_us", "k", Seq("v", "et"), W))
    assert(e.getMessage.contains("diffStreamStreamBatch") &&
      e.getMessage.contains("DECIMAL(10,2)"), e.getMessage)
    // latest form: a NULL-ts left-only group must read D, not I (presence
    // tests the struct MAX, never the nullable window column)
    val lNullTs = Seq((1L, Some(7L), Some(1.0))).toDF("ts0", "k", "v")
      .select(org.apache.spark.sql.functions.lit(null).cast("bigint").as("ts_us"),
        col("k"), col("v"))
    val rEmpty = lNullTs.filter(org.apache.spark.sql.functions.lit(false))
    val out = StreamOps.diffStreamStreamLatestBatch(
      lNullTs, rEmpty, "ts_us", "k", Seq("v"), W).collect()
    assert(out.length == 1 && out.head.getString(2) == "D", out.mkString)
  }

  test("digest is load-bearing: compensating sub-max drift is C, permutation is N") {
    // the r13-weak case, deterministic: same count, same max
    val l = Seq((100L, Some(1L), Some(1.0), Some("a")),
      (200L, Some(1L), Some(5.0), Some("a")))
    val r = Seq((150L, Some(1L), Some(2.0), Some("a")),
      (250L, Some(1L), Some(5.0), Some("a")))
    val c = StreamOps.diffStreamStreamBatch(toDF(l), toDF(r), "ts_us", "k",
      Seq("v", "et"), W).collect()
    assert(c.length == 1 && c.head.getString(2) == "C", c.mkString)
    // same multiset in a different arrival order must be N (the digest is
    // order-independent by construction)
    val rPerm = Seq((999L, Some(1L), Some(5.0), Some("a")),
      (1L, Some(1L), Some(1.0), Some("a")))
    val n = StreamOps.diffStreamStreamBatch(toDF(l), toDF(rPerm), "ts_us", "k",
      Seq("v", "et"), W).collect()
    assert(n.length == 1 && n.head.getString(2) == "N", n.mkString)
  }

  // ---- tuple-key census model (r15) ---------------------------------------

  private val NUL = "␀" // rowsOf's null marker
  private val US = ""  // payload field separator

  /** Census keyed by the (k, et) TUPLE — the composite/string-key
    * generalization. Payload = v alone (et moved from payload to key).
    */
  private def censusK(rows: Seq[Ev]): Map[(Long, Option[Long], Option[String]), Cen] =
    rows.groupBy(e => (e._1 - java.lang.Math.floorMod(e._1, W), e._2, e._4))
      .map { case (g, es) =>
        val vs = es.flatMap(_._3)
        val mx = if (vs.isEmpty) None
          else Some(vs.reduce((a, b) =>
            if (b.isNaN || (!a.isNaN && b > a)) b else a))
        val ds = es.map(e => slices(canonDouble(e._3)))
        g -> Cen(es.size, mx, ds.map(_._1).sum, ds.map(_._2).sum)
      }

  private def modelK(l: Seq[Ev], r: Seq[Ev]): Seq[String] = {
    val lc = censusK(l)
    val rc = censusK(r)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def dig(c: Cen) = s"${c.d1}:${c.d2}"
    def ks(k: Option[Long]) = k.map(_.toString).getOrElse(NUL)
    def ss(k: Option[String]) = k.getOrElse(NUL)
    // a tuple with ANY null part never pairs (batch joins all key columns
    // with plain `=`) — those groups side-split below
    for (g @ (ws, k1, k2) <- (lc.keySet ++ rc.keySet)
         if k1.nonEmpty && k2.nonEmpty) {
      (lc.get(g), rc.get(g)) match {
        case (Some(a), Some(b)) =>
          val st =
            if (a.n != b.n || !maxEq(a.mx, b.mx) || a.d1 != b.d1 || a.d2 != b.d2) "C"
            else "N"
          out += s"$ws|${ks(k1)}|${ss(k2)}|$st|${a.n}|${b.n}|${fmtD(a.mx)}|${fmtD(b.mx)}|${dig(a)}|${dig(b)}"
        case (Some(a), None) =>
          out += s"$ws|${ks(k1)}|${ss(k2)}|D|${a.n}|$NUL|${fmtD(a.mx)}|$NUL|${dig(a)}|$NUL"
        case (None, Some(b)) =>
          out += s"$ws|${ks(k1)}|${ss(k2)}|I|$NUL|${b.n}|$NUL|${fmtD(b.mx)}|$NUL|${dig(b)}"
        case _ =>
      }
    }
    for (g @ (ws, k1, k2) <- lc.keySet if k1.isEmpty || k2.isEmpty) {
      val a = lc(g)
      out += s"$ws|${ks(k1)}|${ss(k2)}|D|${a.n}|$NUL|${fmtD(a.mx)}|$NUL|${dig(a)}|$NUL"
    }
    for (g @ (ws, k1, k2) <- rc.keySet if k1.isEmpty || k2.isEmpty) {
      val b = rc(g)
      out += s"$ws|${ks(k1)}|${ss(k2)}|I|$NUL|${b.n}|$NUL|${fmtD(b.mx)}|$NUL|${dig(b)}"
    }
    out.toSeq.sorted
  }

  test("diffStreamStreamBatchKeyed == independent JVM model on tuple-key feeds (r15)") {
    // The composite/string-key generalization against the same independent
    // re-implementation discipline: key = (k BIGINT, et STRING) with null
    // parts, payload = v. Any drift in tuple grouping, null-part
    // side-split, or the restored key columns fails here.
    val cases = samples(Gen.zip(feedGen, feedGen), 12, seed = 4242L)
    for (((lRows, rRows), i) <- cases.zipWithIndex) {
      val got = rowsOf(StreamOps.diffStreamStreamBatchKeyed(
        toDF(lRows), toDF(rRows), "ts_us", Seq("k", "et"), Seq("v"), W))
      val want = modelK(lRows, rRows)
      assert(got == want,
        s"case $i diverged from the tuple-key model\nspark=$got\nmodel=$want\n" +
          s"l=$lRows\nr=$rRows")
      if (i < LiveCases) {
        val live = liveRows(lRows, rRows, s"census_keyed_live_$i")((l, r) =>
          StreamOps.diffStreamStreamKeyed(l, r, "ts", Seq("k", "et"), Seq("v"),
            W, "0 seconds"))
        assert(live == want, s"case $i live diverged\nlive=$live\nmodel=$want")
      }
    }
  }

  // ---- any-type latest model (r15) ----------------------------------------

  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def payA(v: Option[Double], s: Option[String]): String =
    canonDouble(v) + US + canonStr(s)

  /** Latest per (window, key) by (ts, payload-utf8, display) — the
    * any-type form's documented pick order. Carries (pay, value display,
    * typed et display) per side.
    */
  private def latestA(rows: Seq[Ev]): Map[(Long, Option[Long]), (String, Option[Double], Option[String])] =
    rows.groupBy(e => (e._1 - java.lang.Math.floorMod(e._1, W), e._2))
      .map { case (g, es) =>
        val win = es.reduce { (a, b) =>
          if (a._1 != b._1) { if (a._1 > b._1) a else b }
          else {
            val c = utf8Cmp(payA(a._3, a._4), payA(b._3, b._4))
            if (c != 0) { if (c > 0) a else b }
            else if (cmpOpt(a._3, b._3) >= 0) a else b
          }
        }
        g -> (payA(win._3, win._4), win._3, win._4)
      }

  private def modelLatestA(l: Seq[Ev], r: Seq[Ev]): Seq[String] = {
    val lc = latestA(l)
    val rc = latestA(r)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def row(ws: Long, k: Option[Long], st: String,
            a: Option[(String, Option[Double], Option[String])],
            b: Option[(String, Option[Double], Option[String])]) = {
      val kStr = k.map(_.toString).getOrElse(NUL)
      def p(x: Option[(String, Option[Double], Option[String])]) = x.map(_._1).getOrElse(NUL)
      def d(x: Option[(String, Option[Double], Option[String])]) = x.map(t => fmtD(t._2)).getOrElse(NUL)
      def e(x: Option[(String, Option[Double], Option[String])]) = x.flatMap(_._3).getOrElse(NUL)
      out += s"$ws|$kStr|$st|${p(a)}|${p(b)}|${d(a)}|${d(b)}|${e(a)}|${e(b)}"
    }
    for ((ws, k) <- (lc.keySet ++ rc.keySet) if k.nonEmpty) {
      (lc.get((ws, k)), rc.get((ws, k))) match {
        case (Some(a), Some(b)) =>
          row(ws, k, if (a._1 == b._1) "N" else "C", Some(a), Some(b))
        case (Some(a), None) => row(ws, k, "D", Some(a), None)
        case (None, Some(b)) => row(ws, k, "I", None, Some(b))
        case _ =>
      }
    }
    for ((ws, k) <- lc.keySet if k.isEmpty) row(ws, k, "D", Some(lc((ws, k))), None)
    for ((ws, k) <- rc.keySet if k.isEmpty) row(ws, k, "I", None, Some(rc((ws, k))))
    out.toSeq.sorted
  }

  test("diffStreamStreamLatestAnyBatch == independent JVM model on randomized feeds (r15)") {
    // The any-type latest form: payload = (v DOUBLE, et STRING), verdict
    // on the canonical payload string, display = the exact double for v
    // plus the TYPED restore for et (r15 widening). The model re-derives
    // the (ts, payload-utf8, display) pick order, the canonical string,
    // and the typed et display from the documented contract alone.
    val cases = samples(Gen.zip(feedGen, feedGen), 12, seed = 5656L)
      .map { case (l, r) => (withTies(l), withTies(r)) }
    for (((lRows, rRows), i) <- cases.zipWithIndex) {
      val got = rowsOf(StreamOps.diffStreamStreamLatestAnyBatch(
        toDF(lRows), toDF(rRows), "ts_us", Seq("k"), Seq("v", "et"), W))
      val want = modelLatestA(lRows, rRows)
      assert(got == want,
        s"case $i diverged from the any-latest model\nspark=$got\nmodel=$want\n" +
          s"l=$lRows\nr=$rRows")
      if (i < LiveCases) {
        val live = liveRows(lRows, rRows, s"any_live_$i")((l, r) =>
          StreamOps.diffStreamStreamLatestAny(l, r, "ts", Seq("k"), Seq("v", "et"),
            W, "0 seconds"))
        assert(live == want, s"case $i live diverged\nlive=$live\nmodel=$want")
      }
    }
  }
}
