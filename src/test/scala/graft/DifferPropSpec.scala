package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import graft.operators.Differ

/** Property-based invariants of the diff (SURVEY §5.3), driven by
  * scalacheck generators with a fixed seed (deterministic CI): for
  * arbitrary key-unique tables,
  *   - statuses partition the key universe;
  *   - argument flip swaps I<->D and preserves C/N;
  *   - summary equals the full diff's groupBy.
  */
class DifferPropSpec extends SparkTestBase {
  import spark.implicits._

  private case class Tbl(rows: Seq[(Long, Option[String], Option[Double])])

  private def tblOf(values: Seq[Double],
                    strings: Seq[String] = Seq("a", "b", "c")): Gen[Tbl] = {
    val rowGen = for {
      k <- Gen.choose(0L, 30L)
      s <- Gen.option(Gen.oneOf(strings))
      v <- Gen.option(Gen.oneOf(values))
    } yield (k, s, v)
    Gen.listOf(rowGen).map(rs => Tbl(rs.distinctBy(_._1))) // key-unique
  }

  private val tblGen: Gen[Tbl] = tblOf(Seq(1.0, 2.5, Double.NaN, -0.0))

  /** [[tblGen]] plus values a rounded, overflowing or unframed hash
    * rendering would merge or reject: 1.001 vs 1.002, 0.0 vs -0.0, 1e17,
    * and the string "␀" beside NULL.
    */
  private val hashTblGen: Gen[Tbl] =
    tblOf(Seq(1.0, 2.5, Double.NaN, -0.0, 1.001, 1.002, 0.0, 1e17), Seq("a", "b", "c", "␀"))

  /** Deterministic sampler: walks the generator with a fixed seed. */
  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = rng.Seed(seed)
    (1 to n).map { _ =>
      val v = g.pureApply(Gen.Parameters.default, s)
      s = s.next
      v
    }
  }

  private def toDF(t: Tbl): DataFrame = t.rows.toDF("k", "s", "v")

  private def counts(df: DataFrame): Map[String, Long] =
    df.groupBy("diff_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)

  test("statuses partition the key universe; flip swaps I<->D; summary consistent") {
    val cases = samples(Gen.zip(tblGen, tblGen), 12, seed = 42L)
    assert(cases.nonEmpty)
    for (((ta, tb), i) <- cases.zipWithIndex) {
      val (a, b) = (toDF(ta), toDF(tb))
      val ab = counts(Differ.diff(a, b, Seq("k")))
      val ba = counts(Differ.diff(b, a, Seq("k")))
      val keyUniverse = (ta.rows.map(_._1) ++ tb.rows.map(_._1)).distinct.size.toLong
      val matched = ta.rows.map(_._1).toSet.intersect(tb.rows.map(_._1).toSet).size.toLong

      assert(ab("N") + ab("C") + ab("I") + ab("D") == keyUniverse, s"case $i: partition")
      assert(ab("N") + ab("C") == matched, s"case $i: |C|+|N| = |key-matched|")
      assert(ab("I") == ba("D") && ab("D") == ba("I"), s"case $i: flip I<->D")
      assert(ab("C") == ba("C") && ab("N") == ba("N"), s"case $i: flip preserves C/N")

      val summary = Differ.summary(a, b, Seq("k")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      assert(Seq("N", "C", "I", "D").forall(st => summary(st) == ab(st)), s"case $i: summary")

      assert(counts(Differ.diff(a, a, Seq("k"))).keySet.subsetOf(Set("N")), s"case $i: diff(a,a)")
    }
  }

  test("diffVsStatic(b, a) equals diff(a, b) minus D, keys re-sourced (generated)") {
    // The continuous diff's contract tied to the core: classifying b's
    // rows against snapshot a must agree row-for-row with the full diff
    // restricted to b-present statuses (everything except D). NaN/-0.0/
    // null values are in the generator domain so the <=> alignment is
    // exercised; subsetCheck's counters must match the same census.
    for (((ta, tb), i) <- samples(Gen.zip(tblGen, tblGen), 8, seed = 7311L).zipWithIndex) {
      val (a, b) = (toDF(ta), toDF(tb))
      val streaming = rowsOf(Differ.diffVsStatic(b, a, Seq("k")))
      val batch = rowsOf(Differ.diff(a, b, Seq("k")).filter(col("diff_status") =!= "D"))
      assert(streaming == batch, s"case $i: diffVsStatic != diff minus D")
      val sc = Differ.subsetCheck(b, a, Seq("k")).collect().head
      val census = counts(Differ.diff(a, b, Seq("k")))
      assert(sc.getAs[Long]("n_candidate_only") == census("I"), s"case $i: I count")
      assert(sc.getAs[Long]("n_changed") == census("C"), s"case $i: C count")
      assert((sc.getAs[Long]("is_subset") == 1L) ==
        (census("I") == 0L && census("C") == 0L), s"case $i: verdict bit")
    }
  }

  test("diffViaHash equals diff.filter(status != N) on generated tables") {
    // NaN / -0.0 / null and near-equal / huge values are in the generator
    // domain: the hash canonicalization must agree with <=> on all of them.
    for ((ta, tb) <- samples(Gen.zip(hashTblGen, hashTblGen), 8, seed = 99L)) {
      val (a, b) = (toDF(ta), toDF(tb))
      val viaHash = rowsOf(Differ.diffViaHash(a, b, Seq("k")))
      val direct = rowsOf(Differ.diff(a, b, Seq("k")).filter(col("diff_status") =!= "N"))
      assert(viaHash == direct)
    }
  }

  test("diffIncremental equals diff.filter(status != N) keys on generated tables") {
    // Small bucket counts force dirty and clean keys to share buckets;
    // pruning must stay content-lossless over NaN / -0.0 / null and
    // near-equal / huge values.
    for (((ta, tb), i) <- samples(Gen.zip(hashTblGen, hashTblGen), 8, seed = 1234L)
        .zipWithIndex) {
      val (a, b) = (toDF(ta), toDF(tb))
      val inc = rowsOf(Differ.diffIncremental(a, b, Seq("k"), buckets = 1 + i % 4))
      val direct = rowsOf(Differ.diff(a, b, Seq("k"))
        .filter(col("diff_status") =!= "N").select("diff_status", "k"))
      assert(inc == direct)
    }
  }

  test("applyChangeset(a, diff(a, b)) reconstructs b on generated tables") {
    for ((ta, tb) <- samples(Gen.zip(tblGen, tblGen), 8, seed = 4321L)) {
      val (a, b) = (toDF(ta), toDF(tb))
      val applied = Differ.applyChangeset(a, Differ.diff(a, b, Seq("k")), Seq("k"))
      assert(rowsOf(applied) == rowsOf(b))
    }
  }

  test("invertChangeset == reverse diff; apply(b, invert) rolls back to a (generated)") {
    for ((ta, tb) <- samples(Gen.zip(tblGen, tblGen), 8, seed = 8844L)) {
      val (a, b) = (toDF(ta), toDF(tb))
      val inv = Differ.invertChangeset(Differ.diff(a, b, Seq("k")))
      val reverse = Differ.diff(b, a, Seq("k")).filter(col("diff_status") =!= "N")
      assert(rowsOf(inv.select(reverse.columns.map(col): _*)) == rowsOf(reverse))
      assert(rowsOf(Differ.applyChangeset(b, inv, Seq("k"))) == rowsOf(a))
    }
  }

  // ---- pairwise DiffOptions interactions (r7 verdict ask #6) -------------
  // Each option is covered alone by DifferSpec; these pin the PAIRS on
  // generated tables: sparse×tolerance, mapped×ignore, tolCols×relTol,
  // nullSafeKeys×(sparse,tolerance), tolerance×flip.

  private case class Tbl5(
      rows: Seq[(Long, Option[String], Option[Double], Option[Double], Option[Int])])

  private val rowGen5: Gen[(Long, Option[String], Option[Double], Option[Double], Option[Int])] =
    for {
      k <- Gen.choose(0L, 25L)
      s <- Gen.option(Gen.oneOf("a", "b"))
      v <- Gen.option(Gen.oneOf(1.0, 1.05, 2.5, Double.NaN, -0.0,
        Double.PositiveInfinity))
      w <- Gen.option(Gen.oneOf(10.0, 10.4, 20.0))
      n <- Gen.option(Gen.oneOf(1, 2, 3, 100))
    } yield (k, s, v, w, n)

  private val tbl5Gen: Gen[Tbl5] =
    Gen.listOf(rowGen5).map(rs => Tbl5(rs.distinctBy(_._1)))

  private def toDF5(t: Tbl5): DataFrame = t.rows.toDF("k", "s", "v", "w", "n")

  /** Scala mirror of Differ.colEqual's tolerance predicate on doubles:
    * exact `<=>` (NaN == NaN, both-null) OR |l-r| within the bound.
    */
  private def tolEq(l: Option[Double], r: Option[Double],
                    absTol: Double, relTol: Double): Boolean = (l, r) match {
    case (None, None) => true
    case (Some(x), Some(y)) =>
      (x == y) || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= absTol + relTol * math.max(math.abs(x), math.abs(y))
    case _ => false
  }

  test("sparse × tolerance: C rows null exactly the columns equal UNDER the tolerance") {
    import graft.operators.DiffOptions
    val opts = DiffOptions(absTol = 0.1, sparse = true)
    for (((ta, tb), i) <- samples(Gen.zip(tbl5Gen, tbl5Gen), 8, seed = 555L).zipWithIndex) {
      val (a, b) = (toDF5(ta), toDF5(tb))
      val am = ta.rows.map(r => r._1 -> r).toMap
      val bm = tb.rows.map(r => r._1 -> r).toMap
      val out = Differ.diff(a, b, Seq("k"), opts).collect()
      for (row <- out if row.getAs[String]("diff_status") == "C") {
        val k = row.getAs[Long]("k")
        val (ra, rb) = (am(k), bm(k))
        // tolerance applies to the floating v/w columns (tolCols empty),
        // NOT to the string s or int n columns
        val eqByCol = Map(
          "s" -> (ra._2 == rb._2),
          "v" -> tolEq(ra._3, rb._3, 0.1, 0.0),
          "w" -> tolEq(ra._4, rb._4, 0.1, 0.0),
          "n" -> (ra._5 == rb._5))
        for ((c, eq) <- eqByCol) {
          val (lv, rv) = (row.getAs[Any](s"left_$c"), row.getAs[Any](s"right_$c"))
          if (eq)
            assert(lv == null && rv == null,
              s"case $i k=$k col $c equal-under-tol but not nulled: $lv/$rv")
          else {
            // the differing column keeps both sides verbatim (null only
            // where the source value itself was null)
            assert(colVal(ra, c).map(_.toString) == Option(lv).map(_.toString) &&
                   colVal(rb, c).map(_.toString) == Option(rv).map(_.toString),
              s"case $i k=$k col $c differing column must keep source values: $lv/$rv")
          }
        }
      }
    }
  }

  private def colIdx(c: String): Int =
    Map("s" -> 1, "v" -> 2, "w" -> 3, "n" -> 4)(c)

  private def colVal(r: (Long, Option[String], Option[Double], Option[Double], Option[Int]),
                     c: String): Option[Any] =
    r.productElement(colIdx(c)).asInstanceOf[Option[Any]]

  test("mapped × ignore: ignoreCols resolves post-mapping; equals plain diff with ignore") {
    import graft.operators.DiffOptions
    val opts = DiffOptions(ignoreCols = Set("w"), absTol = 0.1)
    for ((ta, tb) <- samples(Gen.zip(tbl5Gen, tbl5Gen), 6, seed = 777L)) {
      val (a, b) = (toDF5(ta), toDF5(tb))
      val bRenamed = b.withColumnRenamed("v", "vv").withColumnRenamed("w", "ww")
      val mapped = Differ.diffMapped(a, bRenamed, Seq("k"),
        Map("v" -> "vv", "w" -> "ww"), opts)
      val plain = Differ.diff(a, b, Seq("k"), opts)
      // the ignored (left-named, mapped) column is absent from the output
      assert(!mapped.columns.exists(_.endsWith("_w")) &&
             !mapped.columns.exists(_.endsWith("_ww")))
      assert(rowsOf(mapped) == rowsOf(plain))
    }
  }

  test("tolCols × relTol: tolerance lands ONLY on the named int column, floats go exact") {
    import graft.operators.DiffOptions
    val opts = DiffOptions(relTol = 0.5, tolCols = Set("n"))
    for (((ta, tb), i) <- samples(Gen.zip(tbl5Gen, tbl5Gen), 8, seed = 888L).zipWithIndex) {
      val (a, b) = (toDF5(ta), toDF5(tb))
      val am = ta.rows.map(r => r._1 -> r).toMap
      val bm = tb.rows.map(r => r._1 -> r).toMap
      val got = Differ.diff(a, b, Seq("k"), opts).collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("diff_status")).toMap
      for (k <- am.keySet ++ bm.keySet) {
        val expect = (am.get(k), bm.get(k)) match {
          case (Some(ra), Some(rb)) =>
            val eq = ra._2 == rb._2 &&
              tolEq(ra._3, rb._3, 0, 0) && tolEq(ra._4, rb._4, 0, 0) &&
              tolEq(ra._5.map(_.toDouble), rb._5.map(_.toDouble), 0, 0.5)
            if (eq) "N" else "C"
          case (Some(_), None) => "D"
          case (None, Some(_)) => "I"
          case _ => sys.error("unreachable")
        }
        assert(got(k) == expect, s"case $i k=$k: got ${got(k)}, expect $expect")
      }
    }
  }

  test("nullSafeKeys=false ≡ default on non-null-keyed tables, with sparse+tolerance on") {
    import graft.operators.DiffOptions
    for ((ta, tb) <- samples(Gen.zip(tbl5Gen, tbl5Gen), 6, seed = 9999L)) {
      val (a, b) = (toDF5(ta), toDF5(tb)) // k is Long — never null
      val base = DiffOptions(absTol = 0.1, sparse = true)
      val fast = Differ.diff(a, b, Seq("k"), base.copy(nullSafeKeys = false))
      val safe = Differ.diff(a, b, Seq("k"), base)
      assert(rowsOf(fast) == rowsOf(safe))
    }
  }

  test("tolerance × flip: symmetric bound ⇒ flip swaps I<->D, preserves C/N") {
    import graft.operators.DiffOptions
    val opts = DiffOptions(absTol = 0.05, relTol = 0.1)
    for ((ta, tb) <- samples(Gen.zip(tbl5Gen, tbl5Gen), 6, seed = 31337L)) {
      val (a, b) = (toDF5(ta), toDF5(tb))
      val ab = counts(Differ.diff(a, b, Seq("k"), opts))
      val ba = counts(Differ.diff(b, a, Seq("k"), opts))
      assert(ab("I") == ba("D") && ab("D") == ba("I"))
      assert(ab("C") == ba("C") && ab("N") == ba("N"))
    }
  }

  test("per-column reports agree with diff: changed/unchanged, changedCols, columnStats, report") {
    import graft.operators.DiffOptions
    val ks = Seq("k")
    for (opts <- Seq(DiffOptions(), DiffOptions(absTol = 0.1));
         (((ta, tb), i)) <- samples(Gen.zip(tbl5Gen, tbl5Gen), 6, seed = 2718L).zipWithIndex) {
      val (a, b) = (toDF5(ta), toDF5(tb))
      val at = s"case $i, $opts"
      val d = Differ.diff(a, b, ks, opts)
      def diffRows(st: String, like: DataFrame) =
        rowsOf(d.filter(col("diff_status") === st).select(like.columns.map(col): _*))
      val ch = Differ.changed(a, b, ks, opts)
      val un = Differ.unchanged(a, b, ks, opts)
      assert(rowsOf(ch) == diffRows("C", ch), s"$at: changed")
      assert(rowsOf(un) == diffRows("N", un), s"$at: unchanged")
      val census = counts(d)
      assert(Differ.changedCols(a, b, ks, opts).count() == census("C"), s"$at: changedCols")
      // per-column differing C rows, from the source rows (tolerance only
      // on the floating v/w columns)
      val am = ta.rows.map(r => r._1 -> r).toMap
      val bm = tb.rows.map(r => r._1 -> r).toMap
      val cKeys = d.filter(col("diff_status") === "C").select("k").as[Long].collect()
      val want = Seq("s", "v", "w", "n").map { c =>
        c -> cKeys.count { k =>
          val (ra, rb) = (am(k), bm(k))
          c match {
            case "v" => !tolEq(ra._3, rb._3, opts.absTol, opts.relTol)
            case "w" => !tolEq(ra._4, rb._4, opts.absTol, opts.relTol)
            case _   => colVal(ra, c) != colVal(rb, c)
          }
        }.toLong
      }.toMap
      val stats = Differ.columnStats(a, b, ks, opts).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(stats == want, s"$at: columnStats")
      val rep = Differ.report(a, b, ks, exampleOn = "v", opts)
      def section(name: String) = rowsOf(rep.filter(col("section") === name)
        .select(col("item"), col("n")))
      assert(section("summary") == rowsOf(Differ.summary(a, b, ks, opts)), s"$at: report summary")
      assert(section("column_stats") == rowsOf(Differ.columnStats(a, b, ks, opts)),
        s"$at: report column_stats")
    }
  }

  test("exceptAll/anti-join agreement on key-unique tables") {
    val cases = samples(Gen.zip(tblGen, tblGen), 6, seed = 7L)
    for ((ta, tb) <- cases) {
      val (a, b) = (toDF(ta), toDF(tb))
      // For key-unique tables: onlyInLeft keys == keys(a) -- keys(b).
      val gotKeys = Differ.onlyInLeft(a, b, Seq("k")).select("k").as[Long].collect().toSet
      val wantKeys = ta.rows.map(_._1).toSet -- tb.rows.map(_._1).toSet
      assert(gotKeys == wantKeys)
    }
  }

  test("diffUnkeyed == brute-force bag counts on random duplicate-heavy tables") {
    // tiny domain => heavy duplicates AND null cells; NaN/-0.0 exercise the
    // null-safe/total-order compare the whole differ family rides
    val bagGen: Gen[Seq[(Option[String], Option[Double])]] =
      Gen.listOf(Gen.zip(
        Gen.option(Gen.oneOf("x", "y")),
        Gen.option(Gen.oneOf(1.0, Double.NaN))))
    for (((la, lb), i) <- samples(Gen.zip(bagGen, bagGen), 8, seed = 13L).zipWithIndex) {
      val (a, b) = (la.toDF("s", "v"), lb.toDF("s", "v"))
      // brute: normalize NaN so Scala map keys match Spark's <=> semantics
      def key(r: (Option[String], Option[Double])) =
        (r._1, r._2.map(d => if (d.isNaN) "NaN" else d.toString))
      val cl = la.groupBy(key).view.mapValues(_.size.toLong).toMap
      val cr = lb.groupBy(key).view.mapValues(_.size.toLong).toMap
      val out = Differ.diffUnkeyed(a, b).collect().map { r =>
        val k = (Option(r.getAs[String]("s")),
          if (r.isNullAt(1)) None
          else Some(if (r.getDouble(1).isNaN) "NaN" else r.getDouble(1).toString))
        k -> (r.getAs[Long]("n_left"), r.getAs[Long]("n_right"),
          r.getAs[String]("diff_status"))
      }.toMap
      assert(out.keySet == (cl.keySet ++ cr.keySet), s"case $i: row universe")
      out.foreach { case (k, (nl, nr, st)) =>
        assert(nl == cl.getOrElse(k, 0L) && nr == cr.getOrElse(k, 0L),
          s"case $i: counts for $k")
        val want = if (nl == nr) "N" else if (nl == 0) "I" else if (nr == 0) "D" else "C"
        assert(st == want, s"case $i: status for $k")
      }
    }
  }

  test("property: map columns — entry-order permutation is always N, one-entry edit always C") {
    // Random maps (2–6 string keys, long values), right side rebuilt from a
    // seeded PERMUTATION of the entries; half the keys additionally get one
    // entry's value bumped. Order-insensitivity and value-sensitivity must
    // hold over the whole generated space, not just the fixture.
    val keyPool = Seq("a", "b", "c", "d", "e", "f")
    val mapGen: Gen[Map[String, Long]] = for {
      n  <- Gen.choose(2, 6)
      ks <- Gen.pick(n, keyPool)
      vs <- Gen.listOfN(n, Gen.choose(-100L, 100L))
    } yield ks.toSeq.sorted.zip(vs).toMap
    val cases = samples(mapGen, 40, seed = 0x59L).zipWithIndex
    val rows = cases.map { case (m, i) =>
      // deterministic per-index permutation
      val shuffled = new scala.util.Random(i * 7919L).shuffle(m.toSeq)
      val edited =
        if (i % 2 == 0) shuffled
        else shuffled.updated(0, (shuffled.head._1, shuffled.head._2 + 1L))
      (i.toLong, m, edited.toMap)
    }
    val l = rows.map { case (id, m, _) => (id, m) }.toDF("id", "m")
    val r = rows.map { case (id, _, m) => (id, m) }.toDF("id", "m")
    val st = Differ.diff(l, r, Seq("id")).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[String]("diff_status")).toMap
    rows.foreach { case (id, _, _) =>
      val want = if (id % 2 == 0) "N" else "C"
      assert(st(id) == want, s"map case $id must be $want")
    }
  }

  test("compose(diff(a,b), diff(b,c)) == diff(a,c) minus N on generated triples (r12)") {
    // The diff-algebra contract behind diff_compose: folding two
    // sequential changesets nets out exactly to the direct changeset —
    // including value round-trips (a→x→a must vanish) and I-then-D
    // (insert deleted again must vanish). The generator's 31-key universe
    // with null/NaN/-0.0 values makes overlap, re-insert and round-trip
    // cases dense; 8 triples × fixed seed keeps CI deterministic.
    val cases = samples(Gen.zip(tblGen, tblGen, tblGen), 8, seed = 0xC0117L)
    for (((ta, tb, tc), i) <- cases.zipWithIndex) {
      val (a, b, c) = (toDF(ta), toDF(tb), toDF(tc))
      val composed = rowsOf(Differ.composeChangesets(
        Differ.diff(a, b, Seq("k")), Differ.diff(b, c, Seq("k")), Seq("k")))
      val direct = rowsOf(Differ.diff(a, c, Seq("k")).filter(col("diff_status") =!= "N"))
      assert(composed == direct, s"case $i: compose != direct diff")
      // Composing a changeset with its own inverse must net to nothing.
      val d1 = Differ.diff(a, b, Seq("k"))
      assert(Differ.composeChangesets(d1, Differ.invertChangeset(d1), Seq("k")).isEmpty,
        s"case $i: compose(d, invert(d)) must be empty")
    }
  }

  test("compose holds on COMPOSITE and NULLABLE keys (r12)") {
    // The generated-triple pin runs single-key; this covers the <=>
    // key-join path: a two-column key with a NULL component must fold
    // exactly like the direct diff (null-safe keys address null-keyed
    // rows in both).
    def t(rows: Seq[(java.lang.Long, String, java.lang.Double)]) =
      rows.toDF("k1", "k2", "v")
    val keys = Seq("k1", "k2")
    val a = t(Seq((1L, "x", 1.0), (null, "y", 2.0), (2L, null, 3.0), (3L, "z", 4.0)))
    val b = t(Seq((1L, "x", 1.5), (null, "y", 2.0), (2L, null, 3.5), (4L, "w", 9.0)))
    val c = t(Seq((1L, "x", 1.0), (null, "y", 7.0), (2L, null, 3.5), (4L, "w", 9.5)))
    val composed = rowsOf(Differ.composeChangesets(
      Differ.diff(a, b, keys), Differ.diff(b, c, keys), keys))
    val direct = rowsOf(Differ.diff(a, c, keys).filter(col("diff_status") =!= "N"))
    assert(composed == direct, s"composite/null keys: $composed vs $direct")
  }

  test("property: inferDiffKey equals a brute-force election over the collected rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(29L)
    // (name, left type, right type, value pool). The pools hold values
    // Spark's grouping equality merges (NaN twice, -0.0 and 0.0), so a
    // draw of distinct pool slots can still be non-unique to Spark.
    val kinds: Seq[(String, DataType, DataType, IndexedSeq[Any])] = Seq(
      ("id", IntegerType, LongType, (0 until 12).toIndexedSeq), // int-vs-bigint drift
      ("d", DoubleType, DoubleType,
        IndexedSeq(Double.NaN, -0.0, 0.0, 1.0, 2.5, -3.0, 1e300, Double.NaN)),
      ("b", BinaryType, BinaryType,
        IndexedSeq("", "a", "b", "ab", "ba", "abc", "\u00e9", "zz").map(_.getBytes("UTF-8"))),
      ("ts", TimestampType, TimestampType, (0 until 8).map(i => java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1600000000L + i / 2, (i % 2) * 1000L)))),
      ("s", StringType, StringType, IndexedSeq("x", "y", "z", "w", "xy", "yx", "", "Z")))
    def typed(dt: DataType, v: Any): Any = (dt, v) match {
      case (LongType, i: Int) => i.toLong
      case _                  => v
    }
    /** n values of a pool: distinct slots, with replacement, or distinct with one NULL. */
    def draw(pool: IndexedSeq[Any], n: Int, mode: Int): Seq[Any] = mode match {
      case 0 => rnd.shuffle(pool.indices.toList).take(n).map(pool)
      case 1 => Seq.fill(n)(pool(rnd.nextInt(pool.size)))
      case _ => draw(pool, n, 0).zipWithIndex.map { case (v, i) => if (i == 0) null else v }
    }
    def side(cols: Seq[(String, DataType, Seq[Any])]): DataFrame = {
      val n = cols.headOption.fold(0)(_._3.size)
      spark.createDataFrame(
        (0 until n).map(i => Row.fromSeq(cols.map(c => typed(c._2, c._3(i))))).asJava,
        StructType(cols.map(c => StructField(c._1, c._2))))
    }
    def genPair(): (DataFrame, DataFrame) = {
      val (nL, nR) = (rnd.nextInt(9), rnd.nextInt(9))
      val composite = rnd.nextInt(10) < 3
      // (name, left type, right type, left values, right values)
      val cols = Seq.newBuilder[(String, DataType, DataType, Seq[Any], Seq[Any])]
      for ((name, tl, tr, pool) <- kinds if rnd.nextInt(10) < 6) {
        val mode = if (composite && rnd.nextInt(10) < 7) 1 else rnd.nextInt(3)
        cols += ((name, tl, tr, draw(pool, nL, mode), draw(pool, nR, mode)))
      }
      if (composite) { // (a, c) unique together, rarely alone
        val grid = for (a <- 0L until 3L; c <- 0L until 4L) yield (a, c)
        val (gl, gr) = (rnd.shuffle(grid).take(nL), rnd.shuffle(grid).take(nR))
        cols += (("a", LongType, LongType, gl.map(_._1), gr.map(_._1)))
        cols += (("c", LongType, LongType, gl.map(_._2), gr.map(_._2)))
      }
      if (rnd.nextInt(10) < 2) cols += (("arr", ArrayType(IntegerType), ArrayType(IntegerType),
        Seq.fill(nL)(Seq(1)), Seq.fill(nR)(Seq(1))))
      val shuffled = rnd.shuffle(cols.result())
      // a churned unique load surrogate ahead of every other column
      val all = (if (rnd.nextInt(10) < 4)
        Seq(("sid", LongType, LongType, (0L until nL).toSeq, (1000L until 1000L + nR).toSeq))
      else Nil) ++ shuffled
      val lonly = if (rnd.nextInt(10) < 3) Seq(("lonly", LongType, (0L until nL).toSeq)) else Nil
      val ronly = if (rnd.nextInt(10) < 3) Seq(("ronly", LongType, (0L until nR).toSeq)) else Nil
      (side(all.map(c => (c._1, c._2, c._4)) ++ lonly),
        side(rnd.shuffle(all.map(c => (c._1, c._3, c._5))) ++ ronly))
    }
    // the reference: Spark's grouping equality over collected values
    def norm(x: Any): Any = x match {
      case d: Double if d.isNaN  => "NaN"
      case d: Double if d == 0.0 => 0.0
      case i: Int                => i.toLong
      case b: Array[Byte]        => b.toSeq
      case o                     => o
    }
    final case class Cand(name: String, pos: Int, vl: Seq[Any], vr: Seq[Any]) {
      val nullFree: Boolean = !vl.contains(null) && !vr.contains(null)
      val (dl, dr) = (vl.filter(_ != null).distinct.size, vr.filter(_ != null).distinct.size)
      val unique: Boolean = nullFree && dl == vl.size && dr == vr.size
      val ppm: Long = if (dl == 0) 0L else vl.distinct.count(vr.toSet).toLong * 1000000L / dl
    }
    def brute(l: DataFrame, r: DataFrame): (String, Option[Seq[String]]) = {
      val atomic = (dt: DataType) => !dt.isInstanceOf[ArrayType]
      val onR = r.schema.fields.filter(f => atomic(f.dataType)).map(_.name).toSet
      val (lr, rr) = (l.collect().toSeq, r.collect().toSeq)
      val cs = l.schema.fields.toSeq.zipWithIndex.collect {
        case (f, i) if atomic(f.dataType) && onR(f.name) =>
          Cand(f.name, i, lr.map(row => norm(row.getAs[Any](f.name))),
            rr.map(row => norm(row.getAs[Any](f.name))))
      }
      cs.filter(_.unique) match {
        case Seq(one) => ("single", Some(Seq(one.name)))
        case Seq() =>
          val pool = cs.filter(_.nullFree).sortBy(c => (-math.min(c.dl, c.dr), c.pos)).take(6)
          val ok = for {
            i <- pool.indices; j <- (i + 1) until pool.size
            (a, b) = (pool(i), pool(j))
            if a.vl.zip(b.vl).distinct.size == a.vl.size &&
              a.vr.zip(b.vr).distinct.size == a.vr.size
          } yield (a, b)
          val best = ok.sortBy { case (a, b) => (a.pos + b.pos, a.pos) }.headOption
          (if (best.isEmpty) "none" else "pair", best.map { case (a, b) => Seq(a.name, b.name) })
        case many => ("tie", Some(Seq(many.minBy(c => (-c.ppm, c.pos)).name)))
      }
    }
    val tiers = (1 to 40).map { i =>
      val (l, r) = genPair()
      val (tier, want) = brute(l, r)
      assert(Differ.inferDiffKey(l, r) == want,
        s"case $i ($tier): ${l.schema.simpleString} vs ${r.schema.simpleString}\n" +
          s"${l.collect().mkString(" ")}\n${r.collect().mkString(" ")}")
      tier
    }
    // every election branch was exercised
    assert(Set("single", "tie", "pair", "none").subsetOf(tiers.toSet),
      tiers.groupBy(identity).view.mapValues(_.size).toMap)
  }
}
