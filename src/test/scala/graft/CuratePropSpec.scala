package graft

import org.scalacheck.{Gen, rng}
import graft.operators.CurateOps

/** Property invariants of the parametrized CurateOps forms on generated
  * inputs (fixed seed) — the query keys pin one fixture binding; these pin
  * the operators against brute-force reference implementations across
  * random shapes, gaps, budgets, and band widths.
  */
class CuratePropSpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = rng.Seed(seed)
    (1 to n).map { _ => val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v }
  }

  // ---- theil-sen hot-band refinement (r12) -----------------------------

  /** Brute-force lower-median Theil–Sen slope per group: all pairwise
    * slopes, total order (slope, d1, d2), element at rank (m+1)/2.
    */
  private def bruteTheilSen(rows: Seq[(String, Long, Long)]): Map[String, (Long, Double)] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val pts = rs.map(r => (r._2, r._3))
      val slopes = for {
        (d1, x1) <- pts; (d2, x2) <- pts if d1 < d2
      } yield ((x2 - x1).toDouble / (d2 - d1), d1, d2)
      if (slopes.isEmpty) None
      else {
        val sorted = slopes.sortBy(identity)
        val m = sorted.size
        val med = sorted((m + 1) / 2 - 1)._1
        Some(g -> (m.toLong, BigDecimal(med).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }

  private def runTheilSen(rows: Seq[(String, Long, Long)]): Map[String, (Long, Double)] =
    CurateOps.theilSenSlopes(rows.toDF("event_type", "day", "x"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("theilSenSlopes: the CONSTANT-SLOPE degenerate emits via the direct escape, correctly") {
    // Every pairwise slope identical (constant daily counts) — the r11
    // `weak` case: all m pairs land in ONE band. The single-value escape
    // must emit the median with no window, and the answer must match
    // brute force exactly.
    val flat = (0L until 40L).map(d => ("flat", d, 7L))
    val rising = (0L until 40L).map(d => ("rising", d, 3L * d)) // slope 3, also constant
    val rows = flat ++ rising
    assert(runTheilSen(rows) == bruteTheilSen(rows))
    assert(bruteTheilSen(rows) == Map("flat" -> (780L, 0.0), "rising" -> (780L, 3.0)))
  }

  test("theilSenSlopes: near-degenerate cluster (sub-band spread) matches brute force") {
    // Slopes concentrated within one coarse floor(slope*8) band but NOT
    // identical — the adaptive fine banding must still locate the median.
    val rows = (0L until 25L).map(d => ("t", d, d * d)) // slopes d1+d2: varied
    val tight = (0L until 30L).map(d => ("u", d, d / 7L)) // slopes in [0, ~0.15]
    val all = rows ++ tight
    assert(runTheilSen(all) == bruteTheilSen(all))
  }

  private val tsGen: Gen[Seq[(String, Long, Long)]] = for {
    nG <- Gen.chooseNum(1, 3)
    rows <- Gen.listOfN(nG * 12, for {
      g <- Gen.oneOf("a", "b", "c")
      d <- Gen.chooseNum(0L, 30L)
      x <- Gen.chooseNum(0L, 50L)
    } yield (g, d, x))
  } yield rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // one x per (g, day)

  test("theilSenSlopes matches the brute-force lower median on random day series") {
    for ((rows, i) <- samples(tsGen, 8, 21L).zipWithIndex) {
      val got = runTheilSen(rows)
      val want = bruteTheilSen(rows)
      assert(got == want, s"case $i: $got vs $want (rows=$rows)")
    }
  }

  // ---- sessionize ------------------------------------------------------

  private val eventsGen: Gen[Seq[(Long, Long, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.chooseNum(0L, 3L)
      t <- Gen.chooseNum(0L, 500L)
    } yield (u, t))
  } yield rows.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }

  test("sessionize matches a brute-force reference on random streams and gaps") {
    for (((rows, gap), i) <- samples(eventsGen, 10, 7L)
        .zip(Seq(1L, 5L, 20L, 50L, 100L, 3L, 7L, 30L, 60L, 2L)).zipWithIndex) {
      val df = rows.toDF("event_id", "user_id", "ts_us")
      val got = CurateOps.sessionize(df, gap).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("t_start_us"),
            r.getAs[Long]("t_end_us"), r.getAs[Long]("duration_us"))).toMap
      // reference: per user, order by (ts, event_id), split after gap
      val want = rows.groupBy(_._2).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3, e._1))
        val sessions = sorted.tail.foldLeft(Vector(Vector(sorted.head))) {
          (acc, e) =>
            if (e._3 - acc.last.last._3 > gap) acc :+ Vector(e)
            else acc.init :+ (acc.last :+ e)
        }
        sessions.zipWithIndex.map { case (ses, k) =>
          val ts = ses.map(_._3)
          (u, (k + 1).toLong) ->
            (ses.size.toLong, ts.min, ts.max, ts.max - ts.min)
        }
      }
      assert(got == want, s"case $i gap=$gap: $got vs $want")
    }
  }

  // ---- budgetSelect ----------------------------------------------------

  private val scoredGen: Gen[Seq[(Long, String, Long, Long)]] = for {
    n <- Gen.chooseNum(1, 30)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b")
      score <- Gen.chooseNum(0L, 100L)
      w <- Gen.chooseNum(1L, 20L)
    } yield (g, score, w))
  } yield rows.zipWithIndex.map { case ((g, sc, w), i) => (i.toLong, g, sc, w) }

  test("rangePairs equals the brute-force quadratic on random streams and windows") {
    for (((rows, w), i) <- samples(eventsGen, 10, 11L)
        .zip(Seq(1L, 5L, 20L, 50L, 100L, 3L, 7L, 30L, 60L, 2L)).zipWithIndex) {
      val df = rows.toDF("event_id", "user_id", "ts_us")
      val got = CurateOps.rangePairs(df, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // reference: all ordered pairs (a earlier, ties by id) within w —
      // the naive quadratic the bucket trick must reproduce losslessly
      val want = (for {
        a <- rows; b <- rows
        if b._3 >= a._3 && b._3 - a._3 <= w &&
          (b._3 > a._3 || a._1 < b._1)
      } yield (a._1, b._1, b._3 - a._3)).toSet
      assert(got == want,
        s"case $i (w=$w): missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("streaks equals the brute-force islands reference on random streams") {
    for (((rows, b), i) <- samples(eventsGen, 8, 13L)
        .zip(Seq(10L, 25L, 50L, 100L, 5L, 75L, 40L, 15L)).zipWithIndex) {
      val df = rows.toDF("event_id", "user_id", "ts_us")
      val got = CurateOps.streaks(df, b).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val want = rows.groupBy(_._2).map { case (u, es) =>
        val days = es.map(_._3 / b).distinct.sorted
        val runs = days.tail.foldLeft(Vector(Vector(days.head))) { (acc, d) =>
          if (d == acc.last.last + 1) acc.init :+ (acc.last :+ d)
          else acc :+ Vector(d)
        }
        u -> ((days.size.toLong, runs.size.toLong, runs.map(_.size).max.toLong))
      }
      assert(got == want, s"case $i (bucket=$b): $got vs $want")
    }
  }

  test("budgetSelect equals the single-cumsum reference for any band width") {
    for ((rows, i) <- samples(scoredGen, 8, 13L).zipWithIndex;
         bandWidth <- Seq(1L, 7L, 50L, 1000L)) {
      val df = rows.toDF("doc_id", "lang", "score", "n_tokens")
      val budget = 40L
      val got = CurateOps.budgetSelect(df, budget, bandWidth).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (-r._3, r._1))
        ordered.zip(ordered.scanLeft(0L)(_ + _._4).tail)
          .takeWhile(_._2 <= budget)
          .map { case (r, cum) => r._1 -> cum }
      }
      assert(got == want, s"case $i band=$bandWidth: $got vs $want")
    }
  }

  // ---- quantizeStats ---------------------------------------------------

  private val vecGen: Gen[Seq[(Long, Seq[Float])]] = for {
    n <- Gen.chooseNum(1, 10)
    vecs <- Gen.listOfN(n, Gen.listOfN(8,
      Gen.chooseNum(-1000, 1000).map(_ / 250.0f)).suchThat(_.exists(_ != 0f)))
  } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v: Seq[Float]) }

  test("quantizeStats matches per-element reference codes on random vectors") {
    for ((vecs, i) <- samples(vecGen, 8, 17L).zipWithIndex) {
      val df = vecs.toDF("vec_id", "embedding")
      val got = CurateOps.quantizeStats(df, keep = Seq("vec_id")).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("sum_q"), r.getAs[Long]("sum_q2"), r.getAs[Long]("n_clip"))).toMap
      for ((id, v) <- vecs) {
        val d = v.map(_.toDouble)
        val amax = d.map(math.abs).max
        val qs = d.map(x => math.floor(x * 127 / amax + 0.5).toLong)
        assert(got(id) == ((qs.sum, qs.map(q => q * q).sum,
          qs.count(q => math.abs(q) == 127L).toLong)), s"case $i vec $id")
      }
    }
  }

  // ---- scrub -----------------------------------------------------------

  private val textGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.chooseNum(1, 12)
    texts <- Gen.listOfN(n, Gen.chooseNum(0, 12).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf("bad", "badge", "ok", "worse", "x", "bad-ish"))
        .map(_.mkString(" "))))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("BoundedLevenshtein == built-in 3-arg levenshtein on random pairs (incl. non-ASCII)") {
    import org.apache.spark.sql.functions.{col, levenshtein}
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('é', 'ß', '中', ' '))
    val strGen = Gen.frequency(
      9 -> Gen.chooseNum(0, 12).flatMap(n =>
        Gen.listOfN(n, charGen).map(_.mkString)),
      // supplementary-plane codepoint (surrogate pair in UTF-16): both
      // sides must count it as ONE edit unit
      1 -> Gen.oneOf("a🙂b", "🙂", "x🙂"))
    val pairGen = for {
      a <- strGen
      // bias toward near pairs: half the time mutate a, else independent
      b <- Gen.oneOf(
        strGen,
        Gen.chooseNum(0, math.max(0, a.length - 1)).map(i =>
          // never split a surrogate pair — malformed UTF-16 round-trips
          // through UTF8String as replacement chars and the engines may
          // normalize differently
          if (a.isEmpty || a.exists(_.isSurrogate)) a
          else a.substring(0, i) + "z" + a.substring(math.min(a.length, i + 1))))
      k <- Gen.chooseNum(0, 4)
    } yield (a, b, k)
    val cases = samples(pairGen, 400, 77L)
    for (k <- 0 to 4) {
      val ks = cases.filter(_._3 == k).map { case (a, b, _) => (a, b) }
      if (ks.nonEmpty) {
        val df = ks.toDF("a", "b")
        val got = df.select(
          graft.operators.TextOps.boundedLevenshtein(col("a"), col("b"), k).as("mine"),
          levenshtein(col("a"), col("b"), k).as("ref")).collect()
        for ((r, i) <- got.zipWithIndex)
          assert(r.getInt(0) == r.getInt(1),
            s"k=$k case ${ks(i)}: mine=${r.getInt(0)} ref=${r.getInt(1)}")
      }
    }
  }

  test("scrub masks exactly the word-bounded matches Java regex finds") {
    val pattern = "\\b(bad|worse)\\b"
    for ((texts, i) <- samples(textGen, 8, 19L).zipWithIndex) {
      val df = texts.toDF("doc_id", "text")
      val got = CurateOps.scrub(df, pattern, "[X]").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_redacted"), r.getAs[String]("clean_text"))).toMap
      for ((id, t) <- texts) {
        val re = pattern.r
        assert(got(id) == ((re.findAllIn(t).size.toLong,
          re.replaceAllIn(t, "[X]"))), s"case $i doc $id text='$t'")
      }
    }
  }

  test("histogram partitions the rows: counts sum to n, bounds nest, max in last bucket") {
    import org.apache.spark.sql.functions.col
    val valuesGen = Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L))
    for ((vs, i) <- samples(valuesGen, 8, 23L).zipWithIndex) {
      val buckets = 1 + (i % 7)
      val rows = CurateOps.histogram(vs.toDF("v"), col("v"), buckets)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(rows.map(_._2).sum == vs.size, s"case $i: counts must sum to n")
      assert(rows.forall { case (b, _, lo, hi) => b >= 0 && b < buckets && lo <= hi },
        s"case $i: bucket ids in range, lo<=hi")
      // observed per-bucket [lo, hi] ranges are disjoint and ordered
      for (pair <- rows.sliding(2) if pair.length == 2)
        assert(pair(0)._4 < pair(1)._3,
          s"case $i: bucket ranges overlap: ${pair(0)} vs ${pair(1)}")
      assert(rows.last._4 == vs.max && rows.head._3 == vs.min,
        s"case $i: global min/max must be the outer bounds")
    }
  }

  test("centroidDrift of identical snapshots is exactly cos 1.0 / shift 0.0") {
    import org.apache.spark.sql.functions.{col, lit}
    val vecGen = for {
      n <- Gen.chooseNum(1, 6)
      rows <- Gen.listOfN(n, for {
        lbl <- Gen.chooseNum(0, 2)
        v <- Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 64.0f))
      } yield (lbl, v))
    } yield rows
    for ((rows, i) <- samples(vecGen, 6, 31L).zipWithIndex) {
      val one = rows.toDF("label", "embedding")
      val both = one.withColumn("half", lit(0))
        .unionByName(one.withColumn("half", lit(1)))
      val got = graft.operators.VectorOps
        .centroidDrift(both, snapA = col("half") === 0)
        .collect()
      assert(got.nonEmpty, s"case $i: no labels")
      for (r <- got) {
        assert(r.getAs[Long]("n_a") == r.getAs[Long]("n_b"), s"case $i: halves differ")
        assert(r.getAs[Double]("centroid_cos") == 1.0,
          s"case $i label ${r.get(0)}: cos ${r.getAs[Double]("centroid_cos")}")
        assert(r.getAs[Double]("centroid_shift") == 0.0,
          s"case $i label ${r.get(0)}: shift ${r.getAs[Double]("centroid_shift")}")
      }
    }
  }

  test("budgetSelect: a NULL weight reads the running sum so far, whatever the band width") {
    // doc 2's weight is NULL: like a single per-group cumsum it reads 10
    // (doc 1's tokens), also when it sits alone in its band
    val df = Seq((1L, "a", 90L, Option(10L)), (2L, "a", 50L, Option.empty[Long]),
      (3L, "a", 40L, Option(5L))).toDF("doc_id", "lang", "score", "n_tokens")
    for (bandWidth <- Seq(1L, 1000L)) {
      val got = CurateOps.budgetSelect(df, 12L, bandWidth).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
      assert(got == Map(1L -> 10L, 2L -> 10L), s"band=$bandWidth: $got")
    }
  }

  // ---- bandedRank ------------------------------------------------------

  private val rankGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, Gen.chooseNum(-100L, 100L)) // heavy ties on purpose
  } yield rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  test("bandedRank == global row_number over (value, tie) for any monotone banding") {
    for ((rows, i) <- samples(rankGen, 8, 13L).zipWithIndex;
         bandWidth <- Seq(1L, 7L, 50L, 1000L)) {
      val df = rows.toDF("k", "v").repartition(5)
      val got = CurateOps
        .bandedRank(df, "v", "k",
          org.apache.spark.sql.functions.expr(s"v div $bandWidth"), "r")
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("r")).toMap
      // NB: Long div rounds toward zero, so negative values band
      // NON-monotonically across zero unless the banding is floor-based —
      // the property must hold anyway because within-band ordering fixes
      // ranks only if bands are monotone. Use floor semantics explicitly:
      val gotFloor = CurateOps
        .bandedRank(df, "v", "k",
          org.apache.spark.sql.functions.expr(
            s"CAST(floor(v / $bandWidth.0) AS BIGINT)"), "r")
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("r")).toMap
      val want = rows.sortBy { case (k, v) => (v, k) }
        .zipWithIndex.map { case ((k, _), idx) => k -> (idx + 1).toLong }.toMap
      assert(gotFloor == want, s"case $i bw=$bandWidth (floor banding)")
      // the 'div' banding is only monotone for non-negative values; check
      // it on the non-negative subset cases
      if (rows.forall(_._2 >= 0)) assert(got == want, s"case $i bw=$bandWidth (div)")
    }
  }

  // Rows (k, g1, g2, v): three groups of g1 by two of g2 with tie-heavy
  // values, plus a planted one-row group ("solo").
  private val groupedRankGen: Gen[Seq[(Long, String, Int, Long)]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0, 1),
      Gen.chooseNum(-30L, 30L)))
  } yield (rows :+ (("solo", 0, 5L))).zipWithIndex
    .map { case ((g1, g2, v), i) => (i.toLong, g1, g2, v) }

  test("bandedRank per group == row_number partitioned by the group (one and two group columns)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, row_number}
    for ((rows, i) <- samples(groupedRankGen, 6, 17L).zipWithIndex;
         groups <- Seq(Seq("g1"), Seq("g1", "g2"));
         bandWidth <- Seq(1L, 7L, 1000L)) {
      val df = rows.toDF("k", "g1", "g2", "v").repartition(5)
      def ranks(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("r")).toMap
      val got = ranks(CurateOps.bandedRank(df, "v", "k",
        expr(s"CAST(floor(v / $bandWidth.0) AS BIGINT)"), "r", groups))
      val want = ranks(df.withColumn("r", row_number().over(
        Window.partitionBy(groups.map(col): _*).orderBy(col("v"), col("k")))
        .cast("long")))
      assert(got == want, s"case $i groups=$groups bw=$bandWidth")
    }
  }

  // ---- bandedCumsum ----------------------------------------------------

  // NULLs are IN the generator domain (r13 review fix: an all-NULL prefix
  // must read NULL like the naive window, never 0; a NULL weight must
  // contribute nothing without nulling the running total).
  private val cumGen: Gen[Seq[(Long, Option[Long], Option[Long])]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.option(Gen.chooseNum(0L, 50L)), Gen.option(Gen.chooseNum(-20L, 20L))))
  } yield rows.zipWithIndex.map { case ((a, b), i) => (i.toLong * 3 - 40, a, b) }

  test("bandedCumsum == global running sums over the order for any monotone banding") {
    for ((rows, i) <- samples(cumGen, 8, 29L).zipWithIndex;
         bandWidth <- Seq(1L, 7L, 50L, 1000L)) {
      val df = rows.toDF("o", "a", "b").repartition(5)
      val got = CurateOps.bandedCumsum(df, Seq(org.apache.spark.sql.functions.col("o")),
          org.apache.spark.sql.functions.expr(
            s"CAST(floor(o / $bandWidth.0) AS BIGINT)"),
          Seq("a" -> "ca", "b" -> "cb"))
        .collect()
        .map(r => r.getAs[Long]("o") ->
          (Option(r.getAs[java.lang.Long]("ca")).map(_.toLong),
            Option(r.getAs[java.lang.Long]("cb")).map(_.toLong)))
        .toMap
      val sorted = rows.sortBy(_._1)
      def add(acc: Option[Long], v: Option[Long]): Option[Long] = (acc, v) match {
        case (None, None) => None
        case _            => Some(acc.getOrElse(0L) + v.getOrElse(0L))
      }
      val want = sorted
        .scanLeft((0L, Option.empty[Long], Option.empty[Long])) {
          case ((_, ca, cb), (o, a, b)) => (o, add(ca, a), add(cb, b))
        }.drop(1).map { case (o, ca, cb) => o -> (ca, cb) }.toMap
      assert(got == want, s"case $i bw=$bandWidth")
    }
  }

  // Rows (id, g1, g2, o, a, b): o is tie-heavy (0..5), so (o, id) is a
  // two-column order; NULL weights stay in the domain; a planted
  // one-row group ("solo").
  private val groupedCumGen
      : Gen[Seq[(Long, String, Int, Long, Option[Long], Option[Long])]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0, 1),
      Gen.chooseNum(0L, 5L), Gen.option(Gen.chooseNum(0L, 50L)),
      Gen.option(Gen.chooseNum(-20L, 20L))))
  } yield (rows :+ (("solo", 0, 3L, Option(7L), Option.empty[Long]))).zipWithIndex
    .map { case ((g1, g2, o, a, b), i) => (i.toLong, g1, g2, o, a, b) }

  test("bandedCumsum per group == the naive running sums partitioned by the group (two-column and descending orders)") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, sum}
    for ((rows, i) <- samples(groupedCumGen, 6, 23L).zipWithIndex;
         groups <- Seq(Seq("g1"), Seq("g1", "g2"));
         desc <- Seq(false, true);
         bandWidth <- Seq(1L, 2L, 1000L)) {
      val df = rows.toDF("id", "g1", "g2", "o", "a", "b").repartition(5)
      // a descending order rides a negated band
      val (order, band): (Seq[Column], Column) =
        if (desc) (Seq(col("o").desc, col("id")), -expr(s"o DIV $bandWidth"))
        else (Seq(col("o"), col("id")), expr(s"o DIV $bandWidth"))
      def sums(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => r.getAs[Long]("id") ->
          (Option(r.getAs[java.lang.Long]("ca")).map(_.toLong),
            Option(r.getAs[java.lang.Long]("cb")).map(_.toLong))).toMap
      val got = sums(CurateOps.bandedCumsum(df, order, band,
        Seq("a" -> "ca", "b" -> "cb"), groups))
      val w = Window.partitionBy(groups.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = sums(df.withColumn("ca", sum("a").over(w))
        .withColumn("cb", sum("b").over(w)))
      assert(got == want, s"case $i groups=$groups desc=$desc bw=$bandWidth")
    }
  }

  test("bandedCumsum refuses output names that collide with weight inputs") {
    val df = Seq((1L, 2L, 3L)).toDF("o", "a", "b")
    val e = intercept[IllegalArgumentException](
      CurateOps.bandedCumsum(df, Seq(org.apache.spark.sql.functions.col("o")),
        org.apache.spark.sql.functions.expr("o"), Seq("a" -> "b", "b" -> "cb")))
    assert(e.getMessage.contains("collide"))
    val e2 = intercept[IllegalArgumentException](
      CurateOps.bandedCumsum(df, Seq(org.apache.spark.sql.functions.col("o")),
        org.apache.spark.sql.functions.expr("o"), Seq("a" -> "x", "b" -> "x")))
    assert(e2.getMessage.contains("duplicate output"))
    // an output named after the ORDER column would overwrite the sort key
    // between folds — same silent corruption, same refusal
    val e3 = intercept[IllegalArgumentException](
      CurateOps.bandedCumsum(df, Seq(org.apache.spark.sql.functions.col("o")),
        org.apache.spark.sql.functions.expr("o"), Seq("a" -> "o", "b" -> "cb")))
    assert(e3.getMessage.contains("collide"))
    val e4 = intercept[IllegalArgumentException](
      CurateOps.bandedCumsum(df, Seq(org.apache.spark.sql.functions.col("o")),
        org.apache.spark.sql.functions.expr("o"), Seq("a" -> "__graft_band")))
    assert(e4.getMessage.contains("collide"))
  }

  // ---- recursion-elimination identities --------------------------------

  private val seriesGen: Gen[Seq[Long]] = for {
    n <- Gen.chooseNum(1, 40)
    xs <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L))
  } yield xs

  test("CUSUM closed form: prefix-sum minus floored running-min == Page's recursion") {
    // window_cusum's load-bearing identity: s_i = max(0, s_{i-1} + dev_i)
    // == p_i - min(0, min_{j<=i} p_j) with p the prefix sum — the min(0,·)
    // floor is the recursion's implicit p_0 = 0 (this very test caught
    // its omission in the first cut of the query). Random integer
    // deviation series, including all-negative and all-positive runs.
    for ((devs, i) <- samples(seriesGen, 12, 99L).zipWithIndex) {
      val prefix = devs.scanLeft(0L)(_ + _).tail
      val runmin = prefix.scanLeft(Long.MaxValue)(math.min).tail
      val closed = prefix.zip(runmin).map { case (p, m) => p - math.min(m, 0L) }
      val recursive = devs.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail
      assert(closed == recursive,
        s"case $i: closed=${closed.take(6)} rec=${recursive.take(6)} devs=${devs.take(6)}")
    }
  }

  test("hysteresis LOCF state == the sequential Schmitt-trigger fold") {
    val valGen: Gen[Seq[Double]] = for {
      n <- Gen.chooseNum(1, 50)
      xs <- Gen.listOfN(n, Gen.chooseNum(0, 100).map(_.toDouble))
    } yield xs
    for ((vals, i) <- samples(valGen, 10, 123L).zipWithIndex) {
      // sequential reference
      var lvl = 0
      val want = vals.map { v =>
        lvl = if (v > 90) 1 else if (v < 70) 0 else lvl
        lvl
      }
      // the LOCF formulation the batch query uses
      val crossings = vals.map(v =>
        if (v > 90) Some(1) else if (v < 70) Some(0) else None)
      var last = 0
      val locf = crossings.map { c => last = c.getOrElse(last); last }
      assert(locf == want, s"case $i: vals=${vals.take(8)}")
    }
  }

  // ---- exactQuantilesByGroup --------------------------------------------

  private val quantFrameGen: Gen[Seq[(Long, String, Double)]] = for {
    n <- Gen.chooseNum(1, 80)
    rows <- Gen.listOfN(n, for {
      grp <- Gen.oneOf("a", "b", "c")
      // small value domain forces heavy ties; negatives exercise the
      // floor-banding sign path
      v <- Gen.chooseNum(-40, 40)
    } yield (grp, v.toDouble))
  } yield rows.zipWithIndex.map { case ((grp, v), i) => (i.toLong, grp, v) }

  test("exactQuantilesByGroup is bit-equal to the percentile() builtin on random tie-heavy data") {
    import org.apache.spark.sql.functions._
    for ((rows, i) <- samples(quantFrameGen, 10, 91L).zipWithIndex;
         bandWidth <- Seq(1, 7, 1000)) {  // 1000 => single band: degenerate OK
      val df = rows.toDF("id", "grp", "v")
      val got = CurateOps.exactQuantilesByGroup(df, Seq("grp"), "v", "id",
          band = floor(col("v") / bandWidth).cast("long"),
          qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      val want = df.groupBy("grp").agg(
          percentile(col("v"), lit(0.25)).as("p25"),
          percentile(col("v"), lit(0.5)).as("p50"),
          percentile(col("v"), lit(0.9)).as("p90"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(got == want, s"case $i bw=$bandWidth: got=$got want=$want")
    }
  }

  test("exactQuantilesByGroup skips NULL values exactly like the builtin") {
    import org.apache.spark.sql.functions._
    val rows: Seq[(Long, String, Option[Double])] = Seq(
      (1L, "a", Some(1.0)), (2L, "a", None), (3L, "a", Some(3.0)),
      (4L, "a", Some(2.0)), (5L, "a", None),
      (6L, "b", Some(-7.0)), (7L, "b", Some(-7.0)), (8L, "b", None))
    val df = rows.toDF("id", "grp", "v")
    val got = CurateOps.exactQuantilesByGroup(df, Seq("grp"), "v", "id",
        band = floor(col("v") / 2).cast("long"), qs = Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("grp").agg(percentile(col("v"), lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want, s"got=$got want=$want")
    // n must count non-null values only: group a has 3 values -> p50 = 2.0
    assert(got("a") == 2.0 && got("b") == -7.0)
  }
}
