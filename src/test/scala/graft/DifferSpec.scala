package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DiffOptions, Differ}

/** Adversarial-shape semantics of the diff core (SURVEY §5.2): null keys,
  * NaN / -0.0, empty sides, duplicate keys, tolerance boundaries incl. the
  * integer-column leak, schema mismatch, and diffViaHash equivalence.
  */
/** Typed-facade fixture (file-scope so an Encoder derives). */
case class DifferSpecRec(k: Long, s: String, v: Double)

class DifferSpec extends SparkTestBase {
  import spark.implicits._

  private val keys = Seq("k")

  private def statusCounts(df: DataFrame): Map[String, Long] =
    df.groupBy("diff_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("diff(a, a) is all-N") {
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    assert(statusCounts(Differ.diff(a, a, keys)) == Map("N" -> 2L))
  }

  test("diffTyped: Dataset[T] facade matches the untyped diff row-for-row") {
    val l = Seq(DifferSpecRec(1L, "x", 1.0), DifferSpecRec(2L, "y", 2.0),
      DifferSpecRec(3L, "z", 3.0)).toDS()
    val r = Seq(DifferSpecRec(1L, "x", 1.0), DifferSpecRec(2L, "y", 9.0),
      DifferSpecRec(4L, "w", 4.0)).toDS()
    val typed = Graft.diffTyped(l, r, keys)
    val untyped = Differ.diff(l.toDF(), r.toDF(), keys)
    assert(rowsOf(typed) == rowsOf(untyped))
    assert(statusCounts(typed) == Map("N" -> 1L, "C" -> 1L, "D" -> 1L, "I" -> 1L))
  }

  test("null keys match null keys via <=> (not dropped, not I+D)") {
    val l = Seq((Option.empty[Long], "x"), (Some(1L), "y")).toDF("k", "s")
    val r = Seq((Option.empty[Long], "x"), (Some(1L), "z")).toDF("k", "s")
    val d = Differ.diff(l, r, keys)
    assert(statusCounts(d) == Map("N" -> 1L, "C" -> 1L))
    val nullRow = d.filter(col("k").isNull).collect().head
    assert(nullRow.getAs[String]("diff_status") == "N")
  }

  test("null value vs value is C; null vs null is N") {
    val l = Seq((1L, Option.empty[String]), (2L, Option.empty[String])).toDF("k", "s")
    val r = Seq((1L, Some("x")), (2L, Option.empty[String])).toDF("k", "s")
    assert(statusCounts(Differ.diff(l, r, keys)) == Map("C" -> 1L, "N" -> 1L))
  }

  test("NaN equals NaN and -0.0 equals 0.0 under <=> (Spark SQL semantics)") {
    val l = Seq((1L, Double.NaN), (2L, -0.0)).toDF("k", "v")
    val r = Seq((1L, Double.NaN), (2L, 0.0)).toDF("k", "v")
    assert(statusCounts(Differ.diff(l, r, keys)) == Map("N" -> 2L))
  }

  test("empty right side yields all-D; empty left all-I") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], a.schema)
    assert(statusCounts(Differ.diff(a, empty, keys)) == Map("D" -> 2L))
    assert(statusCounts(Differ.diff(empty, a, keys)) == Map("I" -> 2L))
  }

  test("duplicate keys multiply pairwise (2x1 -> 2 rows) and are reported by dup-keys probe") {
    val l = Seq((1L, "a"), (1L, "b")).toDF("k", "s")
    val r = Seq((1L, "a")).toDF("k", "s")
    assert(Differ.diff(l, r, keys).count() == 2L)
    val dups = l.groupBy("k").count().filter(col("count") > 1)
    assert(dups.count() == 1L)
  }

  test("tolerance boundary: |l-r| == absTol is equal, just above is C") {
    val l = Seq((1L, 10.0), (2L, 10.0)).toDF("k", "v")
    val r = Seq((1L, 11.0), (2L, 11.0000001)).toDF("k", "v")
    val opts = DiffOptions(absTol = 1.0)
    assert(statusCounts(Differ.diff(l, r, keys, opts)) == Map("N" -> 1L, "C" -> 1L))
  }

  test("tolerance does NOT leak onto integer columns by default") {
    // int column perturbed by < absTol must still be C (VERDICT r1 #1).
    val l = Seq((1L, 100L, 10.0)).toDF("k", "i", "v")
    val r = Seq((1L, 150L, 10.0)).toDF("k", "i", "v")
    val opts = DiffOptions(absTol = 1000.0)
    assert(statusCounts(Differ.diff(l, r, keys, opts)) == Map("C" -> 1L))
    // ...unless explicitly opted in via tolCols.
    val optIn = DiffOptions(absTol = 1000.0, tolCols = Set("i"))
    assert(statusCounts(Differ.diff(l, r, keys, optIn)) == Map("N" -> 1L))
  }

  test("relative tolerance: |l-r| <= absTol + relTol*greatest(|l|,|r|), no int leak") {
    // relTol 0.1: 100 vs 109 is within (bound 10.9), 100 vs 112 is C.
    val l = Seq((1L, 100.0), (2L, 100.0)).toDF("k", "v")
    val r = Seq((1L, 109.0), (2L, 112.0)).toDF("k", "v")
    val opts = DiffOptions(relTol = 0.1)
    assert(statusCounts(Differ.diff(l, r, keys, opts)) == Map("N" -> 1L, "C" -> 1L))
    // combined bound: absTol 2 + relTol 0.1 → 100 vs 112 bound 13.2 → N.
    val both = DiffOptions(absTol = 2.0, relTol = 0.1)
    assert(statusCounts(Differ.diff(l, r, keys, both)) == Map("N" -> 2L))
    // integer columns stay exact unless opted in, exactly like absTol.
    val li = Seq((1L, 100L)).toDF("k", "i")
    val ri = Seq((1L, 105L)).toDF("k", "i")
    assert(statusCounts(Differ.diff(li, ri, keys, DiffOptions(relTol = 0.5))) == Map("C" -> 1L))
    assert(statusCounts(
      Differ.diff(li, ri, keys, DiffOptions(relTol = 0.5, tolCols = Set("i")))) == Map("N" -> 1L))
  }

  test("sparse mode nulls equal columns on C rows, keeps I/D sides, same statuses") {
    val l = Seq((1L, "same", 1.0), (2L, "same", 2.0)).toDF("k", "s", "v")
    val r = Seq((1L, "same", 9.0), (3L, "new", 3.0)).toDF("k", "s", "v")
    val d = Differ.diff(l, r, keys, DiffOptions(sparse = true)).collect()
      .map(row => row.getAs[Long]("k") -> row).toMap
    // C row: unchanged s nulled on both sides, changed v kept.
    assert(d(1L).getAs[String]("diff_status") == "C")
    assert(d(1L).isNullAt(d(1L).fieldIndex("left_s")) && d(1L).isNullAt(d(1L).fieldIndex("right_s")))
    assert(d(1L).getAs[Double]("left_v") == 1.0 && d(1L).getAs[Double]("right_v") == 9.0)
    // D row keeps its full left side; I row its full right side.
    assert(d(2L).getAs[String]("diff_status") == "D" && d(2L).getAs[String]("left_s") == "same")
    assert(d(3L).getAs[String]("diff_status") == "I" && d(3L).getAs[String]("right_s") == "new")
    // Row set and statuses identical to the dense diff.
    val dense = statusCounts(Differ.diff(l, r, keys))
    assert(statusCounts(Differ.diff(l, r, keys, DiffOptions(sparse = true))) == dense)
  }

  test("tolerance: null vs value is C even on a tolerated column") {
    val l = Seq((1L, Option(10.0))).toDF("k", "v")
    val r = Seq((1L, Option.empty[Double])).toDF("k", "v")
    assert(statusCounts(Differ.diff(l, r, keys, DiffOptions(absTol = 5.0))) == Map("C" -> 1L))
  }

  test("schema mismatch: only shared non-key columns are compared") {
    val l = Seq((1L, "x", "only-left")).toDF("k", "s", "lo")
    val r = Seq((1L, "x", 42)).toDF("k", "s", "ro")
    val d = Differ.diff(l, r, keys)
    assert(d.columns.toSeq == Seq("diff_status", "k", "left_s", "right_s"))
    assert(statusCounts(d) == Map("N" -> 1L))
  }

  test("schemaDiff reports added/removed/type_changed/same") {
    val l = Seq((1L, "x", 1.0)).toDF("k", "s", "v")
    val r = Seq((1L, 2, "y")).toDF("k", "v", "n")
    val got = Differ.schemaDiff(spark, l, r).collect()
      .map(row => row.getString(0) -> row.getString(3)).toMap
    assert(got == Map("k" -> "same", "s" -> "removed", "v" -> "type_changed", "n" -> "added"))
  }

  test("diffViaHash == diff.filter(status != N), including null keys and I/D/C") {
    val l = Seq(
      (Some(1L), Some("a"), Some(1.5)), (Some(2L), Some("b"), Some(2.5)),
      (Some(3L), Some("c"), None), (None, Some("n"), Some(0.0)),
      (Some(5L), Some("e"), Some(5.5))).toDF("k", "s", "v")
    val r = Seq(
      (Some(1L), Some("a"), Some(1.5)),            // N
      (Some(2L), Some("B"), Some(2.5)),            // C
      (Some(3L), Some("c"), Some(3.5)),            // C (null -> value)
      (None, Some("n2"), Some(0.0)),               // C on null key
      (Some(6L), Some("f"), Some(6.5))).toDF("k", "s", "v") // I; 5 is D
    val viaHash = Differ.diffViaHash(l, r, keys)
    val direct = Differ.diff(l, r, keys).filter(col("diff_status") =!= "N")
    assert(viaHash.columns.toSeq == direct.columns.toSeq)
    assert(rowsOf(viaHash) == rowsOf(direct))
    assert(statusCounts(viaHash) == Map("C" -> 3L, "D" -> 1L, "I" -> 1L))
  }

  test("diffIncremental == diff.filter(status != N) projected to (status, keys)") {
    val l = Seq(
      (Some(1L), Some("a"), Some(1.5)), (Some(2L), Some("b"), Some(2.5)),
      (Some(3L), Some("c"), None), (None, Some("n"), Some(0.0)),
      (Some(5L), Some("e"), Some(5.5))).toDF("k", "s", "v")
    val r = Seq(
      (Some(1L), Some("a"), Some(1.5)),            // N
      (Some(2L), Some("B"), Some(2.5)),            // C
      (Some(3L), Some("c"), Some(3.5)),            // C (null -> value)
      (None, Some("n2"), Some(0.0)),               // C on null key
      (Some(6L), Some("f"), Some(6.5))).toDF("k", "s", "v") // I; 5 is D
    // buckets = 2 forces differing keys to SHARE buckets with clean keys:
    // pruning must still classify every non-N key and only those.
    val inc = Differ.diffIncremental(l, r, keys, buckets = 2)
    val direct = Differ.diff(l, r, keys)
      .filter(col("diff_status") =!= "N").select("diff_status", "k")
    assert(inc.columns.toSeq == direct.columns.toSeq)
    assert(rowsOf(inc) == rowsOf(direct))
    assert(statusCounts(inc) == Map("C" -> 3L, "D" -> 1L, "I" -> 1L))
  }

  test("hash paths classify floating values exactly: 1.001 vs 1.002, -0.0, NaN, 1e17") {
    val l = Seq((1L, 1.001), (2L, -0.0), (3L, Double.NaN), (4L, 1e17), (5L, 2e17))
      .toDF("k", "v")
    val r = Seq((1L, 1.002), (2L, 0.0), (3L, Double.NaN), (4L, 1e17), (5L, 3e17))
      .toDF("k", "v")
    val direct = Differ.diff(l, r, keys).filter(col("diff_status") =!= "N")
    assert(rowsOf(direct.select("diff_status", "k")) == Seq("C|1", "C|5"))
    assert(rowsOf(Differ.diffViaHash(l, r, keys)) == rowsOf(direct))
    for (b <- Seq(1, 4))
      assert(rowsOf(Differ.diffIncremental(l, r, keys, buckets = b)) ==
        rowsOf(direct.select("diff_status", "k")), s"buckets = $b")
  }

  test("hash paths fingerprint injectively: NULL vs '␀', U+001F in strings, nested values") {
    import java.sql.Timestamp
    val (t1, t2) = (Timestamp.valueOf("2026-01-05 12:00:00.000001"),
      Timestamp.valueOf("2026-01-05 12:00:00.000002"))
    def row(k: Long, s: String = "s", a: String = "x", b: String = "y",
            arr: Seq[String] = Seq("p"), st: (String, String) = ("u", "w"),
            ts: Seq[Timestamp] = Seq(t1)) = (k, s, a, b, arr, st, ts)
    val cols = Seq("k", "s", "a", "b", "arr", "st", "ts")
    // keys 1-4 differ in one column each in a way an unframed string
    // rendering cannot see; 6 differs by a microsecond inside an array,
    // which a millisecond JSON rendering cannot see; 5 and 7 are unchanged
    val l = Seq(row(1, s = null), row(2, a = "a\u001f", b = "b"),
      row(3, arr = Seq("a, b")), row(4, st = ("a, b", "c")), row(5, s = "1:x"),
      row(6), row(7)).toDF(cols: _*)
    val r = Seq(row(1, s = "␀"), row(2, a = "a", b = "\u001fb"),
      row(3, arr = Seq("a", "b")), row(4, st = ("a", "b, c")), row(5, s = "1:x"),
      row(6, ts = Seq(t2)), row(7)).toDF(cols: _*)
    val direct = Differ.diff(l, r, keys).filter(col("diff_status") =!= "N")
    assert(rowsOf(direct.select("diff_status", "k")) ==
      Seq("C|1", "C|2", "C|3", "C|4", "C|6"))
    assert(rowsOf(Graft.diffLarge(l, r, keys)) == rowsOf(direct))
    for (b <- Seq(1, 4))
      assert(rowsOf(Graft.diffIncremental(l, r, keys, buckets = b)) ==
        rowsOf(direct.select("diff_status", "k")), s"buckets = $b")
  }

  test("applyChangeset(left, diff(left, right)) reconstructs right exactly (null keys included)") {
    val l = Seq(
      (Some(1L), Some("a"), Some(1.5)), (Some(2L), Some("b"), Some(2.5)),
      (Some(3L), Some("c"), None), (None, Some("n"), Some(0.0)),
      (Some(5L), Some("e"), Some(5.5))).toDF("k", "s", "v")
    val r = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), Some("B"), Some(2.5)),
      (Some(3L), Some("c"), Some(3.5)),
      (None, Some("n2"), Some(0.0)),
      (Some(6L), Some("f"), Some(6.5))).toDF("k", "s", "v")
    val applied = Differ.applyChangeset(l, Differ.diff(l, r, keys), keys)
    assert(applied.columns.toSeq == r.columns.toSeq)
    assert(rowsOf(applied) == rowsOf(r))
  }

  test("applyChangeset above the broadcast threshold still round-trips (shuffle anti-join path)") {
    // autoBroadcastJoinThreshold = -1 disables the size gate, so the
    // removed-key side must NOT be broadcast()-forced; the un-hinted
    // anti-join has to produce the identical merge.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = Seq(
        (Some(1L), Some("a"), Some(1.5)), (Some(2L), Some("b"), Some(2.5)),
        (None, Some("n"), Some(0.0)), (Some(5L), Some("e"), Some(5.5))).toDF("k", "s", "v")
      val r = Seq(
        (Some(1L), Some("A"), Some(1.5)), (Some(2L), Some("b"), Some(2.5)),
        (None, Some("n2"), Some(0.0)), (Some(6L), Some("f"), Some(6.5))).toDF("k", "s", "v")
      val applied = Differ.applyChangeset(l, Differ.diff(l, r, keys), keys)
      val plan = applied.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"size gate should have skipped the forced broadcast:\n$plan")
      assert(rowsOf(applied) == rowsOf(r))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("diffIncremental classifies a table whose own columns are named 'bucket'") {
    // The temp bucket id must live in a reserved column (__graft_bucket):
    // user columns named "bucket" survive bucketing untouched.
    val l = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("k", "s", "bucket")
    val r = Seq((1L, "x", 10L), (2L, "y", 21L)).toDF("k", "s", "bucket")
    val inc = Differ.diffIncremental(l, r, keys, buckets = 2)
    assert(statusCounts(inc) == Map("C" -> 1L))
  }

  test("invertChangeset rolls back: applyChangeset(right, invert(diff(l, r))) == left") {
    val l = Seq(
      (Some(1L), Some("a"), Some(1.5)), (Some(2L), Some("b"), Some(2.5)),
      (Some(3L), Some("c"), None), (None, Some("n"), Some(0.0)),
      (Some(5L), Some("e"), Some(5.5))).toDF("k", "s", "v")
    val r = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), Some("B"), Some(2.5)),
      (Some(3L), Some("c"), Some(3.5)),
      (None, Some("n2"), Some(0.0)),
      (Some(6L), Some("f"), Some(6.5))).toDF("k", "s", "v")
    val inv = Differ.invertChangeset(Differ.diff(l, r, keys))
    // inversion == the reverse diff, row for row (non-N subset)
    val reverse = Differ.diff(r, l, keys).filter(col("diff_status") =!= "N")
    assert(inv.columns.sorted.toSeq == reverse.columns.sorted.toSeq)
    assert(rowsOf(inv.select(reverse.columns.map(col): _*)) == rowsOf(reverse))
    assert(statusCounts(inv) == Map("C" -> 3L, "D" -> 1L, "I" -> 1L))
    // and applying it to the right snapshot rolls back to the left one
    val rolled = Differ.applyChangeset(r, inv, keys)
    assert(rowsOf(rolled) == rowsOf(l))
  }

  test("invertChangeset fails fast on a frame without paired value columns") {
    val notADiff = Seq((1L, "x")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      Differ.invertChangeset(notADiff)
    }
    assert(e.getMessage.contains("not a diff output"))
  }

  test("applyChangeset fails fast with a precise message on a non-diff frame") {
    val base = Seq((1L, "a")).toDF("k", "s")
    val notADiff = Seq((1L, "x")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      Differ.applyChangeset(base, notADiff, keys)
    }
    assert(e.getMessage.contains("diff_status") && e.getMessage.contains("right_s"))
  }

  test("diffIncremental on identical sides prunes every bucket (empty result)") {
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    assert(Differ.diffIncremental(a, a, keys, buckets = 4).count() == 0L)
  }

  test("changed/unchanged agree with diff statuses") {
    val l = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    val r = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "s")
    assert(Differ.changed(l, r, keys).select("k").as[Long].collect().toSeq == Seq(2L))
    assert(Differ.unchanged(l, r, keys).select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("ignoreCols excludes a column from comparison and from the output") {
    val l = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "audit")
    val r = Seq((1L, "a", 99.0), (2L, "B", 20.0)).toDF("k", "s", "audit")
    val d = Differ.diff(l, r, keys, DiffOptions(ignoreCols = Set("audit")))
    assert(statusCounts(d) == Map("N" -> 1L, "C" -> 1L)) // audit diff invisible
    assert(!d.columns.exists(_.contains("audit")))
  }

  test("changedCols names exactly the differing columns per row") {
    val l = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "s", "v")
    val r = Seq((1L, "A", 9.0), (2L, "b", 2.5), (3L, "c", 3.0)).toDF("k", "s", "v")
    val got = Differ.changedCols(l, r, keys).collect()
      .map(row => row.getAs[Long]("k") ->
        ((row.getAs[String]("changed_cols"), row.getAs[Long]("n_changed")))).toMap
    assert(got == Map(1L -> (("s,v", 2L)), 2L -> (("v", 1L))))
  }

  test("numericStats reports exact counts and deltas for numeric columns only") {
    val l = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    val r = Seq((1L, "a", 13.0), (2L, "x", 20.0)).toDF("k", "s", "v")
    val got = Differ.numericStats(l, r, keys).collect()
      .map(row => (row.getString(0), row.getLong(1), row.getDouble(2), row.getDouble(3)))
    assert(got.toSeq == Seq(("v", 1L, 3.0, 3.0))) // string col excluded
  }

  test("empty or absent key columns fail fast with a precise message") {
    val a = Seq((1L, "x")).toDF("k", "s")
    val e1 = intercept[IllegalArgumentException](Differ.diff(a, a, Seq.empty))
    assert(e1.getMessage.contains("at least one key"))
    val e2 = intercept[IllegalArgumentException](Differ.diff(a, a, Seq("nope")))
    assert(e2.getMessage.contains("nope"))
  }

  test("summary equals groupBy of full diff") {
    val l = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val r = Seq((2L, "x"), (3L, "c")).toDF("k", "s")
    val fromFull = statusCounts(Differ.diff(l, r, keys))
    val fromSummary = Differ.summary(l, r, keys).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(fromFull == fromSummary)
  }

  test("diffMapped diffs across renamed key/value columns; fails fast on a bad map") {
    val l = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val r = Seq((1L, "a"), (2L, "X"), (3L, "c")).toDF("key_v2", "s_v2")
    val d = Differ.diffMapped(l, r, keys, Map("k" -> "key_v2", "s" -> "s_v2"))
    assert(statusCounts(d) == Map("N" -> 1L, "C" -> 1L, "I" -> 1L))
    // output speaks LEFT vocabulary
    assert(d.columns.contains("k") && d.columns.contains("left_s"))
    val e = intercept[IllegalArgumentException](
      Differ.diffMapped(l, r, keys, Map("k" -> "nope")))
    assert(e.getMessage.contains("nope"))
  }

  test("merge3 classifies every verdict class and resolves the winner") {
    // base keys 1-8; 9-11 are branch-only inserts.
    val base = (1L to 8L).map(k => (k, s"b$k")).toDF("k", "s")
    val l = Seq(
      1L -> "b1",             // untouched
      2L -> "L2",             // left-only change          -> L
      3L -> "b3",             // untouched (right changes) -> R
      4L -> "same",           // both change identically   -> A
      // 5 deleted on both                                 -> A + tombstone
      6L -> "L6",             // both change, differently  -> X
      7L -> "L7",             // left C, right D           -> X
      // 8 deleted on left only                            -> L + tombstone
      9L -> "L9",             // left-only insert          -> L
      10L -> "same10",        // both insert identically   -> A
      11L -> "L11"            // both insert, differently  -> X
    ).toDF("k", "s")
    val r = Seq(
      1L -> "b1", 2L -> "b2", 3L -> "R3", 4L -> "same",
      6L -> "R6",             // conflicts with L6
      // 7 deleted on right
      8L -> "b8",
      10L -> "same10", 11L -> "R11"
    ).toDF("k", "s")
    val m = Differ.merge3(base, l, r, keys).collect()
      .map(row => row.getAs[Long]("k") -> ((row.getAs[String]("merge_status"),
        row.getAs[Boolean]("merged_deleted"), row.getAs[String]("merged_s")))).toMap
    assert(m == Map(
      1L -> (("N", false, "b1")), 2L -> (("L", false, "L2")),
      3L -> (("R", false, "R3")), 4L -> (("A", false, "same")),
      5L -> (("A", true, null)), 6L -> (("X", false, null)),
      7L -> (("X", false, null)), 8L -> (("L", true, null)),
      9L -> (("L", false, "L9")), 10L -> (("A", false, "same10")),
      11L -> (("X", false, null))))
  }

  test("merge3 branch statuses match pairwise diff vs base") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    val l = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "s")
    val r = Seq((1L, "a"), (3L, "c")).toDF("k", "s")
    val m = Differ.merge3(base, l, r, keys).collect()
      .map(row => row.getAs[Long]("k") ->
        ((row.getAs[String]("left_status"), row.getAs[String]("right_status")))).toMap
    def vsBase(branch: DataFrame): Map[Long, String] =
      Differ.diff(base, branch, keys).collect()
        .map(row => row.getAs[Long]("k") -> row.getAs[String]("diff_status")).toMap
    val dl = vsBase(l); val dr = vsBase(r)
    m.foreach { case (k, (ls, rs)) =>
      assert(ls == dl.getOrElse(k, "N"), s"left k=$k")
      assert(rs == dr.getOrElse(k, "N"), s"right k=$k")
    }
  }

  test("nested-null trichotomy: NULL array, empty array, and [NULL] are three distinct values") {
    // The classic complex-type diff bug class: a compare that flattens or
    // coalesces conflates these. `<=>` must hold them distinct AND equal
    // to themselves (so all-same rows stay N).
    val vals: Seq[Seq[java.lang.Long]] =
      Seq(null, Seq.empty[java.lang.Long], Seq[java.lang.Long](null))
    def frame(perturb: Boolean) =
      vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, if (perturb && i == 0) Seq[java.lang.Long](7L) else v)
      }.toDF("k", "arr")
    // identical frames: every row N
    val same = Differ.diff(frame(false), frame(false), Seq("k")).collect()
    assert(same.forall(_.getAs[String]("diff_status") == "N"),
      same.map(_.toString).mkString("; "))
    // cross-pair the three values: every off-diagonal pair is C
    val l3 = vals.zipWithIndex.flatMap { case (v, i) =>
      vals.indices.map(j => ((i * 3 + j).toLong, v))
    }.toDF("k", "arr")
    val r3 = vals.zipWithIndex.flatMap { case (_, i) =>
      vals.zipWithIndex.map { case (w, j) => ((i * 3 + j).toLong, w) }
    }.toDF("k", "arr")
    val statuses = Differ.diff(l3, r3, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("diff_status")).toMap
    for (i <- 0 until 3; j <- 0 until 3) {
      val want = if (i == j) "N" else "C"
      assert(statuses((i * 3 + j).toLong) == want,
        s"value #$i vs #$j must be $want (NULL / [] / [NULL] trichotomy)")
    }
  }

  test("diffUnkeyed: multiset semantics — duplicates counted, nulls null-safe, schemas enforced") {
    val l = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("c", 3),
      (null.asInstanceOf[String], 9)).toDF("s", "v")
    val r = Seq(("a", 1), ("a", 1), ("b", 2), ("d", 4),
      (null.asInstanceOf[String], 9)).toDF("s", "v")
    val out = Differ.diffUnkeyed(l, r).collect()
      .map(x => (x.getAs[String]("s"), x.getAs[Int]("v")) ->
        (x.getAs[Long]("n_left"), x.getAs[Long]("n_right"),
          x.getAs[String]("diff_status"))).toMap
    assert(out(("a", 1)) == ((3L, 2L, "C")), "duplicate multiplicity must diff")
    assert(out(("b", 2)) == ((1L, 1L, "N")))
    assert(out(("c", 3)) == ((1L, 0L, "D")))
    assert(out(("d", 4)) == ((0L, 1L, "I")))
    // a NULL-bearing row matches itself (null-safe join), never I+D
    assert(out((null, 9)) == ((1L, 1L, "N")), "null rows must pair null-safely")
    // bag identity: Σ per-row |n_left - n_right| is the edit volume; here 1C(1)+1D+1I
    assert(out.valuesIterator.map { case (a, b, _) => math.abs(a - b) }.sum == 3)
    // mismatched schemas fail fast with a precise message
    val err = intercept[IllegalArgumentException] {
      Differ.diffUnkeyed(l, r.withColumnRenamed("v", "w"))
    }
    assert(err.getMessage.contains("identical schemas"))
  }

  test("diffUnkeyed: shared plan lineage (df vs df.filter) resolves, no trivial-true join") {
    // The natural "what did my filter drop" call: both sides derive from
    // ONE frame, so grouping attributes carry identical exprIds — the
    // r8-advice ambiguous-self-join hazard. With qualified alias refs the
    // join must classify the filtered-out rows as D, everything else N.
    val df = Seq(("a", 1), ("a", 1), ("b", 2), ("c", 3)).toDF("s", "v")
    val out = Differ.diffUnkeyed(df, df.filter($"v" =!= 2)).collect()
      .map(x => (x.getAs[String]("s"), x.getAs[Int]("v")) ->
        (x.getAs[Long]("n_left"), x.getAs[Long]("n_right"),
          x.getAs[String]("diff_status"))).toMap
    assert(out(("a", 1)) == ((2L, 2L, "N")))
    assert(out(("b", 2)) == ((1L, 0L, "D")), "filtered row must be D, not matched")
    assert(out(("c", 3)) == ((1L, 1L, "N")))
  }

  test("report: sections cross-check (counts == summary arithmetic; empty inputs read 0)") {
    val l = Seq((1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")).toDF("k", "p", "s")
    val r = Seq((1, 10.0, "a"), (2, 25.0, "b"), (4, 40.0, "d")).toDF("k", "p", "s")
    val rep = Differ.report(l, r, Seq("k"), exampleOn = "p").collect()
    def n(section: String, item: String): Long =
      rep.find(x => x.getString(0) == section && x.getString(1) == item)
        .map(_.getLong(2)).getOrElse(0L)
    assert(n("counts", "left_rows") == 3 && n("counts", "right_rows") == 3)
    assert(n("summary", "N") == 1 && n("summary", "C") == 1 &&
      n("summary", "D") == 1 && n("summary", "I") == 1)
    assert(n("column_stats", "p") == 1 && n("column_stats", "s") == 0)
    // example rows carry the value pair for changed keys
    val ex = rep.filter(_.getString(0) == "examples:C")
    assert(ex.length == 1 && ex.head.getString(1) == "2" &&
      ex.head.getDouble(3) == 20.0 && ex.head.getDouble(4) == 25.0)

    // empty×empty: the report still reads zeros, never nulls
    val empty = l.filter($"k" < 0)
    val rep0 = Differ.report(empty, empty, Seq("k"), exampleOn = "p").collect()
    val cnt0 = rep0.filter(_.getString(0) == "counts")
    assert(cnt0.length == 2 && cnt0.forall(x => !x.isNullAt(2) && x.getLong(2) == 0L))

    // non-numeric exampleOn must not crash under ANSI: values degrade to
    // NULL (try_cast), sections stay intact
    val repS = Differ.report(l, r, Seq("k"), exampleOn = "s").collect()
    val exS = repS.filter(_.getString(0) == "examples:C")
    assert(exS.length == 1 && exS.head.isNullAt(3) && exS.head.isNullAt(4))
  }

  test("report examples: the first k keys per non-N status in key order (composite, null keys)") {
    // 40 keys over (a, b) with a NULL `a`; every status well above k rows.
    val l = (0 until 40).filter(_ % 10 != 3).map { i =>
      (Option.when(i % 7 != 0)(i % 5), i, i.toDouble) }.toDF("a", "b", "p")
    val r = (0 until 40).filter(_ % 10 != 7).map { i =>
      (Option.when(i % 7 != 0)(i % 5), i, if (i % 3 == 0) i + 0.5 else i.toDouble)
    }.toDF("a", "b", "p")
    val ks = Seq("a", "b")
    val d = Differ.diff(l, r, ks).filter(col("diff_status") =!= "N").collect()
    for (k <- Seq(0, 2, 5, 50)) {
      val rep = Differ.report(l, r, ks, exampleOn = "p", k = k)
      assert(rep.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
        ("section", "string", false), ("item", "string", true), ("n", "bigint", true),
        ("left_val", "double", true), ("right_val", "double", true)))
      val got = rep.filter(col("section").startsWith("examples:")).collect()
        .map(x => (x.getString(0), x.getString(1), x.getLong(2))).sortBy(x => (x._1, x._3)).toSeq
      val want = d.groupBy(_.getAs[String]("diff_status")).toSeq.flatMap { case (s, rows) =>
        rows.map(x => (Option(x.getAs[Integer]("a")).map(_.toInt), x.getAs[Int]("b")))
          .sorted.take(k).zipWithIndex.map { case ((a, b), i) =>
            // concat_ws skips a NULL key part
            (s"examples:$s", (a.toSeq :+ b).mkString("|"), i + 1L) }
      }.sortBy(x => (x._1, x._3))
      assert(got == want, s"k = $k")
    }
  }

  test("subsetCheck: true subset verdicts 1; each violation arm trips it independently") {
    val ref = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    def row(c: org.apache.spark.sql.DataFrame) =
      Differ.subsetCheck(c, ref, Seq("k")).collect().head
    val ok = row(Seq((1, "a"), (3, "c")).toDF("k", "v"))
    assert(ok.getAs[Long]("is_subset") == 1L &&
      ok.getAs[Long]("n_candidate_only") == 0L && ok.getAs[Long]("n_changed") == 0L)
    val extra = row(Seq((1, "a"), (9, "z")).toDF("k", "v"))
    assert(extra.getAs[Long]("is_subset") == 0L &&
      extra.getAs[Long]("n_candidate_only") == 1L && extra.getAs[Long]("n_changed") == 0L)
    val changed = row(Seq((1, "a"), (2, "X")).toDF("k", "v"))
    assert(changed.getAs[Long]("is_subset") == 0L &&
      changed.getAs[Long]("n_candidate_only") == 0L && changed.getAs[Long]("n_changed") == 1L)
    // empty candidate is vacuously a subset, counters read 0 (not null)
    val empty = row(ref.filter($"k" < 0))
    assert(empty.getAs[Long]("is_subset") == 1L && empty.getAs[Long]("n_candidate") == 0L)
  }

  test("diffUnkeyed: dotted and backticked column names resolve (r10 fix)") {
    // Regression for the r10 hardening: col(\"gl.a.b\") splits on the dot
    // and fails to resolve a literal \"a.b\" column — the qualified refs
    // must backtick-quote (and escape embedded backticks in) the name.
    val l = Seq((1, "x"), (2, "y"), (2, "y")).toDF("a.b", "c`d")
    val r = Seq((1, "x"), (2, "z")).toDF("a.b", "c`d")
    val out = Differ.diffUnkeyed(l, r).collect()
      .map(x => (x.getAs[Int]("a.b"), x.getAs[String]("c`d")) ->
        (x.getAs[Long]("n_left"), x.getAs[Long]("n_right"),
          x.getAs[String]("diff_status"))).toMap
    assert(out((1, "x")) == ((1L, 1L, "N")))
    assert(out((2, "y")) == ((2L, 0L, "D")))
    assert(out((2, "z")) == ((0L, 1L, "I")))
  }

  test("map values: entry order is irrelevant, value changes are C, null/empty distinct") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val l = spark.range(5).select($"id",
      sexpr("CASE WHEN id = 3 THEN CAST(NULL AS MAP<STRING,BIGINT>) " +
        "WHEN id = 4 THEN map() " +
        "ELSE map('a', id, 'b', id * 10) END").as("m"))
    // same pairs, REVERSED entry order; id=1 changes b's value; id=3/4 swap
    // null and empty (must be C — a missing bag and an empty bag differ)
    val r = spark.range(5).select($"id",
      sexpr("CASE WHEN id = 3 THEN map() " +
        "WHEN id = 4 THEN CAST(NULL AS MAP<STRING,BIGINT>) " +
        "WHEN id = 1 THEN map('b', 99L, 'a', id) " +
        "ELSE map('b', id * 10, 'a', id) END").as("m"))
    val st = Differ.diff(l, r, Seq("id")).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[String]("diff_status")).toMap
    assert(st(0L) == "N" && st(2L) == "N", "reversed entry order must compare equal")
    assert(st(1L) == "C", "changed map value must be C")
    assert(st(3L) == "C" && st(4L) == "C", "null map vs empty map must be C")
  }

  test("map values: nested map inside a struct and inside an array compares order-insensitively") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val l = spark.range(3).select($"id",
      sexpr("named_struct('tag', 'x', 'feats', map('p', id, 'q', id + 1))").as("st"),
      sexpr("array(map('k1', id), map('k2', id * 2))").as("arr"))
    val r = spark.range(3).select($"id",
      sexpr("named_struct('tag', 'x', 'feats', map('q', id + 1, 'p', " +
        "CASE WHEN id = 2 THEN id + 7 ELSE id END))").as("st"),
      sexpr("CASE WHEN id = 1 THEN array(map('k1', id), map('k2', 99L)) " +
        "ELSE array(map('k1', id), map('k2', id * 2)) END").as("arr"))
    val st = Differ.diff(l, r, Seq("id")).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[String]("diff_status")).toMap
    assert(st(0L) == "N", "reordered nested map must be N")
    assert(st(1L) == "C", "changed map element inside array must be C")
    assert(st(2L) == "C", "changed nested map value inside struct must be C")
  }

  test("bagCols: reordered array is N under bag semantics, C positionally; edits stay C") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val l = spark.range(3).select($"id", sexpr("array('a', 'b', 'c')").as("tags"))
    val r = spark.range(3).select($"id",
      sexpr("CASE WHEN id = 1 THEN array('c', 'b', 'a') " + // permutation
        "WHEN id = 2 THEN array('c', 'b', 'x') " + // permutation + edit
        "ELSE array('a', 'b', 'c') END").as("tags"))
    def statuses(o: DiffOptions) = Differ.diff(l, r, Seq("id"), o).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[String]("diff_status")).toMap
    val bag = statuses(DiffOptions(bagCols = Set("tags")))
    assert(bag(0L) == "N" && bag(1L) == "N" && bag(2L) == "C",
      s"bag semantics: permutation N, edit C — got $bag")
    val positional = statuses(DiffOptions())
    assert(positional(1L) == "C", "default positional compare must flag the permutation")
    // map-bearing elements are not orderable — fail fast, not mid-job
    val lm = spark.range(2).select($"id", sexpr("array(map('k', id))").as("tags"))
    val err = intercept[IllegalArgumentException] {
      Differ.diff(lm, lm, Seq("id"), DiffOptions(bagCols = Set("tags"))).collect()
    }
    assert(err.getMessage.contains("orderable"))
  }

  test("map values: diffViaHash agrees with diff on map columns (canonical fingerprint)") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val l = spark.range(6).select($"id",
      sexpr("map('a', id, 'b', id * 10)").as("m"))
    val r = spark.range(6).select($"id",
      sexpr("CASE WHEN id % 3 = 0 THEN map('b', id * 10 + 1, 'a', id) " +
        "ELSE map('b', id * 10, 'a', id) END").as("m"))
    val full = Differ.diff(l, r, Seq("id")).filter($"diff_status" =!= "N")
      .select($"diff_status", $"id").collect().map(x => (x.getString(0), x.getLong(1))).toSet
    val hashed = Differ.diffViaHash(l, r, Seq("id"))
      .select($"diff_status", $"id").collect().map(x => (x.getString(0), x.getLong(1))).toSet
    assert(full == hashed, s"hash path must agree on maps: $full vs $hashed")
    assert(full == Set(("C", 0L), ("C", 3L)), "only %3 rows changed")
  }

  test("diffDupKeyRank agrees with diff on dup-free keys (rank 1 everywhere)") {
    val l = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    val r = Seq((1L, "x", 1.0), (2L, "y", 9.0), (4L, "w", 4.0)).toDF("k", "s", "v")
    val ranked = Differ.diffDupKeyRank(l, r, keys)
    assert(ranked.select("dup_rank").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    val plain = rowsOf(Differ.diff(l, r, keys))
    assert(rowsOf(ranked.drop("dup_rank")) == plain,
      "on unique keys the rank-matched diff must reduce to the plain diff")
  }

  test("diffDupKeyRank tie rule: rank order is the canonical value fingerprint") {
    // Two left rows under one key, one right row matching one of them: the
    // pairing is decided by rank, and rank by the value-hash order — the
    // documented contract. Compute the expected order from Differ.rowHash
    // (the same canonicalization) instead of hardcoding hash luck.
    val l = Seq((1L, "a", 10.0), (1L, "b", 20.0)).toDF("k", "s", "v")
    val hashes = Differ.rowHash(l, Seq("s", "v")).collect().map(_.getString(0))
    val firstIsA = hashes(0) < hashes(1) // row order in a 2-row local frame
    val keep = if (firstIsA) ("a", 10.0) else ("b", 20.0)
    val dropped = if (firstIsA) ("b", 20.0) else ("a", 10.0)
    val r = Seq((1L, keep._1, keep._2)).toDF("k", "s", "v")
    val out = Differ.diffDupKeyRank(l, r, keys)
      .select("diff_status", "dup_rank", "left_s").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getString(2))).toSet
    // rank 1 pairs (hash-min left row, the only right row) => N; rank 2 is
    // the left surplus => D carrying the hash-max row.
    assert(out == Set(("N", 1L, keep._1), ("D", 2L, dropped._1)), out.toString)
  }

  test("diffDupKeyRank: unequal group sizes decompose into surplus D/I exactly") {
    val l = Seq((1L, "a", 1.0), (1L, "b", 2.0), (1L, "c", 3.0), (2L, "x", 1.0))
      .toDF("k", "s", "v")
    val r = Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "x", 1.0), (2L, "y", 2.0))
      .toDF("k", "s", "v")
    val counts = statusCounts(Differ.diffDupKeyRank(l, r, keys))
    // key 1: 3 vs 2 -> one D surplus; key 2: 1 vs 2 -> one I surplus.
    assert(counts("D") == 1L && counts("I") == 1L, counts.toString)
    assert(counts.values.sum == 5L, s"group-size max per key: $counts")
  }

  test("type coercion: retyped int column diffs as values; schema_diff reports the retype") {
    val l = Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "n", "s")
    val r = l.withColumn("n", col("n").cast("int"))
    // schema-level: the retype is simultaneously reported …
    val sd = Differ.schemaDiff(spark, l, r).collect()
      .map(x => x.getString(0) -> x.getString(3)).toMap
    assert(sd("n") == "type_changed", sd.toString)
    // … and data-level: values compare across the retype, widened output.
    val d = Differ.diff(l, r, keys)
    assert(d.schema("left_n").dataType == org.apache.spark.sql.types.LongType)
    assert(d.schema("right_n").dataType == org.apache.spark.sql.types.LongType)
    assert(statusCounts(d) == Map("N" -> 2L))
  }

  test("type coercion: double vs decimal widens to double; changed values still flag") {
    val l = Seq((1L, 1.5), (2L, 2.5)).toDF("k", "v")
    val r = Seq((1L, BigDecimal("1.50")), (2L, BigDecimal("9.00"))).toDF("k", "v")
    val d = Differ.diff(l, r, keys)
    assert(d.schema("right_v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(statusCounts(d) == Map("N" -> 1L, "C" -> 1L))
  }

  test("type coercion: a non-coercible retype fails loudly with both types named") {
    val l = Seq((1L, 10L)).toDF("k", "v")
    val r = Seq((1L, "10")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](Differ.diff(l, r, keys))
    assert(e.getMessage.contains("'v'") && e.getMessage.contains("BIGINT") &&
      e.getMessage.contains("STRING"), e.getMessage)
  }

  test("normalized compare: case/padding-only churn is N; real changes stay C; output original") {
    val l = Seq((1L, "high"), (2L, "low"), (3L, "mid")).toDF("k", "s")
    val r = Seq((1L, "  HIGH "), (2L, "low"), (3L, "different")).toDF("k", "s")
    val opts = DiffOptions(ignoreCase = true, trimWs = true)
    val d = Differ.diff(l, r, keys, opts)
    assert(statusCounts(d) == Map("N" -> 2L, "C" -> 1L))
    // classification only — the emitted value is the ORIGINAL right form
    val row1 = d.filter($"k" === 1L).select("right_s").head().getString(0)
    assert(row1 == "  HIGH ", s"output must not be normalized: '$row1'")
    // flags independently: trim alone keeps case differences as C
    assert(statusCounts(Differ.diff(l, r, keys, DiffOptions(trimWs = true))) ==
      Map("N" -> 1L, "C" -> 2L))
    // null-safety survives normalization (null vs padded null-ish string)
    val ln = Seq((1L, Option.empty[String])).toDF("k", "s")
    val rn = Seq((1L, Some("  "))).toDF("k", "s")
    assert(statusCounts(Differ.diff(ln, rn, keys, opts)) == Map("C" -> 1L),
      "null and whitespace-only must stay distinct under trim")
  }

  test("diffDupKeyRank refuses a clobbered rank column loudly") {
    val l = Seq((1L, 1L)).toDF("k", "dup_rank")
    val e = intercept[IllegalArgumentException](
      Differ.diffDupKeyRank(l, l, keys))
    assert(e.getMessage.contains("dup_rank"))
  }

  test("hash paths honor the discrete options: normalize/widen/digest match diff() (r12 review)") {
    // diffViaHash and diffIncremental previously hashed RAW values, so a
    // case-only edit classified C on the hash path while diff() said N.
    val l = Seq((1L, "Alpha ", 10), (2L, "beta", 20), (3L, "gamma", 30))
      .toDF("k", "s", "v")
    val r = Seq((1L, "alpha", 10), (2L, "beta", 25), (4L, "delta", 40))
      .toDF("k", "s", "v")
    val o = DiffOptions(ignoreCase = true, trimWs = true)
    val full = rowsOf(Differ.diff(l, r, keys, o).filter(col("diff_status") =!= "N"))
    assert(rowsOf(Differ.diffViaHash(l, r, keys, o)) == full,
      "viaHash diverged from diff under ignoreCase/trimWs")
    val incKeys = rowsOf(Differ.diffIncremental(l, r, keys, buckets = 8, o))
    assert(incKeys == rowsOf(Differ.diff(l, r, keys, o)
      .filter(col("diff_status") =!= "N").select("diff_status", "k")),
      "incremental diverged from diff under ignoreCase/trimWs")

    // Retyped column: the hash path must widen before hashing — an int/long
    // retype is N when values agree, exactly like diff().
    val li = Seq((1L, 5), (2L, 7)).toDF("k", "v") // v: int
    val ri = Seq((1L, 5L), (2L, 8L)).toDF("k", "v") // v: long
    assert(rowsOf(Differ.diffViaHash(li, ri, keys)) ==
      rowsOf(Differ.diff(li, ri, keys).filter(col("diff_status") =!= "N")))

    // digestCols across a STRING<->BINARY retype: digesting first makes
    // the retype a non-event (both sides hash the same utf-8 bytes).
    val lb = Seq((1L, "blob-a"), (2L, "blob-b")).toDF("k", "payload")
    val rb = Seq((1L, "blob-a"), (2L, "blob-c")).toDF("k", "payload")
      .select(col("k"), col("payload").cast("binary").as("payload"))
    val dg = Differ.diff(lb, rb, keys, DiffOptions(digestCols = Set("payload")))
      .collect().map(x => x.getAs[Long]("k") -> x.getAs[String]("diff_status")).toMap
    assert(dg == Map(1L -> "N", 2L -> "C"), s"digest across retype: $dg")
    // and viaHash agrees, reporting digests too
    assert(rowsOf(Differ.diffViaHash(lb, rb, keys, DiffOptions(digestCols = Set("payload")))) ==
      rowsOf(Differ.diff(lb, rb, keys, DiffOptions(digestCols = Set("payload")))
        .filter(col("diff_status") =!= "N")))

    // A widening that cannot stay lossless refuses at analysis time.
    val hugeL = Seq((1L, 1000000000L)).toDF("k", "v")
    val hugeR = spark.sql("SELECT 1L AS k, CAST(1.5 AS DECIMAL(38,30)) AS v")
    val e = intercept[IllegalArgumentException](Differ.diff(hugeL, hugeR, keys))
    assert(e.getMessage.contains("38"), e.getMessage)
  }

  test("dotted/backticked names survive the hash and scd2 paths (r12 review)") {
    val l = Seq((1L, 1.0, "x"), (2L, 2.0, "y")).toDF("k", "a.b", "c`d")
    val r = Seq((1L, 1.0, "x"), (2L, 2.5, "y")).toDF("k", "a.b", "c`d")
    assert(rowsOf(Differ.diffViaHash(l, r, keys)) ==
      rowsOf(Differ.diff(l, r, keys).filter(col("diff_status") =!= "N")))
    assert(Differ.diffDupKeyRank(l, r, keys).count() >= 2)
    val snaps = l.select(col("k"), lit(0L).as("version"), col("`a.b`"))
      .unionByName(r.select(col("k"), lit(1L).as("version"), col("`a.b`")))
    assert(Differ.scd2(snaps, keys, "version", Seq("a.b"), maxVersion = 1).count() >= 2)
    val inv = Differ.invertChangeset(Differ.diff(l, r, keys))
    assert(inv.columns.contains("left_a.b"))
    // Dotted KEY through apply/compose: the df(name) refs must not
    // dot-split either (same class, applyChangeset/applyScd2 keyCond).
    val lk = Seq((1L, 10.0), (2L, 20.0)).toDF("k.x", "v")
    val rk = Seq((1L, 11.0), (3L, 30.0)).toDF("k.x", "v")
    val applied = Differ.applyChangeset(lk,
      Differ.diff(lk, rk, Seq("k.x")), Seq("k.x"))
    assert(rowsOf(applied) == rowsOf(rk), "dotted-key apply round-trip")
  }

  test("r12 preconditions fail loudly: compose vocabulary mismatch, scd2Sink version gap") {
    val a = Seq((1L, 1.0)).toDF("k", "v")
    val b = Seq((1L, 2.0)).toDF("k", "v")
    val other = Seq((1L, 1.0)).toDF("k", "w")
    // Changesets that disagree on value columns must not silently fold.
    val e1 = intercept[IllegalArgumentException](
      Differ.composeChangesets(Differ.diff(a, b, Seq("k")),
        Differ.diff(other, other, Seq("k")), Seq("k")))
    assert(e1.getMessage.contains("disagree"))
    // A non-diff frame must name what is missing.
    val e2 = intercept[IllegalArgumentException](
      Differ.composeChangesets(a, a, Seq("k")))
    assert(e2.getMessage.contains("not a diff output"))
    // A skipped micro-batch id would mis-stamp every later interval.
    val table = java.nio.file.Files
      .createTempDirectory("graft_scd2gap").resolve("dim").toString
    val sink = graft.streaming.StreamOps.scd2Sink(table, Seq("k"))
    sink(a, 0L)
    val e3 = intercept[IllegalArgumentException](sink(b, 2L))
    assert(e3.getMessage.contains("version gap"))
    // applyScd2 refuses a frame without the interval columns.
    val e4 = intercept[IllegalArgumentException](
      Differ.applyScd2(a, Differ.diff(a, b, Seq("k")), Seq("k"), 1L))
    assert(e4.getMessage.contains("valid_from"))
  }

  test("Graft facade delegates the r12 operators (compose/applyScd2/rankDrift/dupKeyRank)") {
    // The facade is what a reference-class user calls; each new operator
    // must be reachable there and agree with the Differ form.
    val a = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val b = Seq((1L, 1.5), (3L, 3.0)).toDF("k", "v")
    val c = Seq((1L, 1.0), (3L, 3.5)).toDF("k", "v")
    val ks = Seq("k")
    assert(rowsOf(Graft.composeChangesets(Differ.diff(a, b, ks), Differ.diff(b, c, ks), ks)) ==
      rowsOf(Differ.composeChangesets(Differ.diff(a, b, ks), Differ.diff(b, c, ks), ks)))
    assert(rowsOf(Graft.rankDrift(a, b, ks, "v", 2)) ==
      rowsOf(Differ.rankDrift(a, b, ks, "v", 2)))
    assert(rowsOf(Graft.diffDupKeyRank(a, b, ks)) ==
      rowsOf(Differ.diffDupKeyRank(a, b, ks)))
    val snaps = a.select(col("k"), lit(0L).as("version"), col("v"))
      .unionByName(b.select(col("k"), lit(1L).as("version"), col("v")))
    val dim = Differ.scd2(snaps, ks, "version", Seq("v"), maxVersion = 1)
    assert(rowsOf(Graft.applyScd2(dim, Differ.diff(b, c, ks), ks, 2)) ==
      rowsOf(Differ.applyScd2(dim, Differ.diff(b, c, ks), ks, 2)))
  }

  test("rankDrift: full vocabulary, key tie-break, and delta signs on a hand fixture (r12)") {
    // left top-3 by score: a(30)=1, b(20)=2, c(10)=3 (d=5 outside k).
    // right: c jumps to 40 (rank 1), a drops to 25 (rank 2), d enters at
    // 15 (rank 3), b falls out of the top 3 entirely.
    val l = Seq(("a", 30.0), ("b", 20.0), ("c", 10.0), ("d", 5.0)).toDF("k", "score")
    val r = Seq(("a", 25.0), ("b", 1.0), ("c", 40.0), ("d", 15.0)).toDF("k", "score")
    val out = Differ.rankDrift(l, r, Seq("k"), "score", k = 3)
      .collect().map(x => x.getString(0) ->
        (Option(x.get(1)), Option(x.get(2)), x.getString(3), Option(x.get(4)))).toMap
    assert(out("a") == (Some(1L), Some(2L), "down", Some(-1L)))
    assert(out("b") == (Some(2L), None, "exited", None))
    assert(out("c") == (Some(3L), Some(1L), "up", Some(2L)))
    assert(out("d") == (None, Some(3L), "entered", None))

    // Equal scores rank by key ascending on BOTH sides — a tied pair must
    // read 'held', never a run-to-run flap.
    val t = Seq(("x", 7.0), ("y", 7.0)).toDF("k", "score")
    val tied = Differ.rankDrift(t, t, Seq("k"), "score", k = 2)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getString(3))).toMap
    assert(tied("x") == (1L, "held") && tied("y") == (2L, "held"))

    // Unreviewable k fails loudly.
    val e = intercept[IllegalArgumentException](
      Differ.rankDrift(l, r, Seq("k"), "score", k = 0))
    assert(e.getMessage.contains("k must be"))
  }

  test("rankDrift: duplicate keys inside a top-k trip the in-plan guard (r13)") {
    val l = Seq(("a", 30.0), ("a", 20.0), ("b", 10.0)).toDF("k", "score")
    val r = Seq(("a", 30.0), ("b", 10.0)).toDF("k", "score")
    val e = intercept[Throwable](
      Differ.rankDrift(l, r, Seq("k"), "score", k = 3).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("duplicate keys")),
      s"expected the dup-key tripwire, got: ${chain(e).mkString(" | ")}")
    // unique keys still pass untouched
    val ok = Seq(("a", 30.0), ("b", 10.0)).toDF("k", "score")
    assert(Differ.rankDrift(ok, ok, Seq("k"), "score", k = 2).count() == 2L)
  }

  test("dupPairing=ByValue re-pairs one changed value minimally; ByHash cascades (r13)") {
    import graft.operators.DupPairing
    val rows = (1 to 12).map(i => (1L, i.toLong, s"payload$i"))
    val l = rows.toDF("k", "a", "s")
    val r = rows.map { case (k, a, s) =>
      if (a == 6L) (k, a, "CHANGED") else (k, a, s)
    }.toDF("k", "a", "s")
    def cOf(p: DupPairing): Long =
      statusCounts(Differ.diffDupKeyRank(l, r, keys,
        DiffOptions(dupPairing = p))).getOrElse("C", 0L)
    val byValue = cOf(DupPairing.ByValue)
    val byHash = cOf(DupPairing.ByHash)
    // ByValue sorts by (a, s): 'a' alone is already a unique prefix, so the
    // single changed payload pairs against its own former row — exactly 1 C.
    assert(byValue == 1L, s"ByValue must re-pair minimally, got $byValue C rows")
    // ByHash scatters the changed row to a hash-ordered rank, shifting every
    // row between the old and new positions — strictly more C rows.
    assert(byHash > byValue,
      s"fixture must cascade under hash pairing (hash=$byHash, value=$byValue)")
  }

  test("ByValue pairing orders by the NORMALIZED value under ignoreCase/trimWs (r13 review fix)") {
    import graft.operators.DupPairing
    // Raw byte order: left "B"(66) < "a"(97) but right "A"(65) < "B"(66) —
    // raw ordering would cross-pair (B,A)/(a,B) into 2 C rows where the
    // normalized compare says both pair N. The sort key must be the same
    // canon colEqual compares.
    val l = Seq((1L, "B"), (1L, "a")).toDF("k", "s")
    val r = Seq((1L, "B"), (1L, "A")).toDF("k", "s")
    val opts = DiffOptions(ignoreCase = true, dupPairing = DupPairing.ByValue)
    assert(statusCounts(Differ.diffDupKeyRank(l, r, keys, opts)) == Map("N" -> 2L))
    val lw = Seq((1L, "x "), (1L, " b")).toDF("k", "s")
    val rw = Seq((1L, "x"), (1L, "b ")).toDF("k", "s")
    val optsW = DiffOptions(trimWs = true, dupPairing = DupPairing.ByValue)
    assert(statusCounts(Differ.diffDupKeyRank(lw, rw, keys, optsW)) == Map("N" -> 2L))
  }

  test("digesting a floating column under a DEFAULT tolerance refuses (r13 review fix)") {
    val l = Seq((1L, 1.0, "x")).toDF("k", "v", "s")
    // tolCols empty + absTol>0 means tolerance applies to ALL floating
    // columns — digesting one of them is the same contradiction the
    // construction guard refuses for explicit tolCols.
    val e = intercept[IllegalArgumentException](
      Differ.diff(l, l, keys, DiffOptions(absTol = 0.5, digestCols = Set("v"))))
    assert(e.getMessage.contains("default tolerance"), e.getMessage)
    // explicit tolCols scoped to the other column: digesting the string is fine
    assert(statusCounts(Differ.diff(l, l, keys,
      DiffOptions(absTol = 0.5, tolCols = Set("v"), digestCols = Set("s")))) ==
      Map("N" -> 1L))
    // The EXACT-hash paths document that tolerance does not apply, so the
    // default-tolerance clash guard must NOT fire there (r13 review second
    // pass). Digesting a DOUBLE independently fails at ANALYSIS time
    // (Spark refuses CAST(double AS BINARY)) on every path — the guard's
    // job on diff() is to say WHY before that cryptic cast error — so the
    // hash path's error is the cast refusal, never our tolerance message.
    val sameOpts = DiffOptions(absTol = 0.5, digestCols = Set("v"))
    val eh = intercept[Exception](Differ.diffViaHash(l, l, keys, sameOpts).count())
    assert(!eh.getMessage.contains("default tolerance"), eh.getMessage.take(200))
    // and the hash path stays fully legal for the REAL digest use — a
    // string/binary payload column — under the same default tolerance
    assert(Differ.diffViaHash(l, l, keys,
      DiffOptions(absTol = 0.5, digestCols = Set("s"))).count() == 0L)
    // every other TOLERANT compare refuses with the same message, before
    // Spark's cast refusal and never silently
    for ((what, f) <- Seq[(String, () => Any)](
        "report" -> (() => Differ.report(l, l, keys, exampleOn = "v", sameOpts)),
        "diffVsStatic" -> (() => Differ.diffVsStatic(l, l, keys, sameOpts)),
        "subsetCheck" -> (() => Differ.subsetCheck(l, l, keys, sameOpts)))) {
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("default tolerance"), s"$what: ${e.getMessage}")
    }
    val ei = intercept[Exception](Differ.diffIncremental(l, l, keys, opts = sameOpts).count())
    assert(!ei.getMessage.contains("default tolerance"), ei.getMessage.take(200))
  }

  test("diffVsStatic and subsetCheck digest and widen like diff") {
    // p is digested, n is retyped int -> bigint between the snapshots
    val a = Seq((1L, "x", 1), (2L, "y", 2), (3L, "z", 3)).toDF("k", "p", "n")
    val b = Seq((1L, "x", 1L), (2L, "Y", 2L), (4L, "w", 4L)).toDF("k", "p", "n")
    val o = DiffOptions(digestCols = Set("p"))
    val batch = Differ.diff(a, b, keys, o).filter(col("diff_status") =!= "D")
    val streamed = Differ.diffVsStatic(b, a, keys, o)
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(shape(streamed) == shape(batch), streamed.schema.treeString)
    assert(rowsOf(streamed) == rowsOf(batch))
    val sc = Differ.subsetCheck(b, a, keys, o).collect().head
    assert(sc.getAs[Long]("n_candidate_only") == 1L && sc.getAs[Long]("n_changed") == 1L)
  }

  test("digestCols overlapping tolCols/bagCols refuses at construction (r13)") {
    val e = intercept[IllegalArgumentException](
      DiffOptions(absTol = 1.0, tolCols = Set("v"), digestCols = Set("v")))
    assert(e.getMessage.contains("digestCols overlap") && e.getMessage.contains("v"))
    val e2 = intercept[IllegalArgumentException](
      DiffOptions(bagCols = Set("tags"), digestCols = Set("tags")))
    assert(e2.getMessage.contains("digestCols overlap") && e2.getMessage.contains("tags"))
  }

  test("decimal-vs-integral widening sizes to the actual integral type (r13)") {
    import org.apache.spark.sql.types.DecimalType
    // int vs DECIMAL(38,28): max(10, 10) + 28 = 38 — representable now
    // (the old blanket-long assumption demanded 48 digits and refused).
    val li = Seq((1L, 7)).toDF("k", "v")
    val rd = Seq((1L, 7)).toDF("k", "v")
      .withColumn("v", col("v").cast(DecimalType(38, 28)))
    assert(statusCounts(Differ.diff(li, rd, keys)) == Map("N" -> 1L))
    // long vs scale-28 decimal genuinely needs 48 digits — still refuses at
    // analysis time with both types named.
    val ll = Seq((1L, 7L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](Differ.diff(ll, rd, keys))
    assert(e.getMessage.contains("cannot losslessly widen"))
  }

  test("diffAutoMapped == diffMapped with the hand map; ambiguous/partial throw naming candidates (r13)") {
    val l = Seq((1L, "F", "HIGH"), (2L, "O", "LOW"), (3L, "P", "MED"))
      .toDF("k", "status", "prio")
    val r = l.withColumnRenamed("status", "st").withColumnRenamed("prio", "pr")
      .withColumn("decoy", lit("zz-no-overlap"))
    assert(rowsOf(Differ.diffAutoMapped(l, r, keys)) ==
      rowsOf(Differ.diffMapped(l, r, keys, Map("status" -> "st", "prio" -> "pr"))))
    // two right columns with identical value sets → AMBIGUOUS, both named
    val amb = r.withColumn("st2", col("st"))
    val e = intercept[IllegalArgumentException](Differ.diffAutoMapped(l, amb, keys))
    assert(e.getMessage.contains("AMBIGUOUS") && e.getMessage.contains("status") &&
      e.getMessage.contains("st2"))
    // 2/3 distinct-value overlap (666666 ppm) sits in the partial band —
    // a silent guess would diff the wrong column, so it throws
    val lp = Seq((1L, "F"), (2L, "O"), (3L, "P")).toDF("k", "status")
    val rp = Seq((1L, "F"), (2L, "O"), (3L, "Q")).toDF("k", "stx")
    val e2 = intercept[IllegalArgumentException](Differ.diffAutoMapped(lp, rp, keys))
    assert(e2.getMessage.contains("PARTIAL") && e2.getMessage.contains("stx"))
  }

  test("catalogDiff: fixed 4-row census per table, drift rows, per-table verdict (r13)") {
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    val aChanged = Seq((1L, "x", 9.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    val drifted = a.drop("v").withColumn("w", lit(1L))
    val out = Differ.catalogDiff(Seq(
      ("t_changed", a, aChanged, Seq("k")),
      ("t_drift", a, drifted, Seq("k")),
      ("t_same", a, a, Seq("k")))).collect()
    val byTable = out.groupBy(_.getAs[String]("table_name"))
    // census always exactly 4 rows, zero-filled
    assert(byTable.forall { case (_, rows) =>
      rows.count(_.getAs[String]("kind") == "census") == 4 })
    def verdict(t: String) = byTable(t).map(_.getAs[String]("verdict")).distinct.toSeq
    assert(verdict("t_changed") == Seq("fail"))
    assert(verdict("t_drift") == Seq("fail"))
    assert(verdict("t_same") == Seq("pass"))
    val driftRows = byTable("t_drift").filter(_.getAs[String]("kind") == "schema")
      .map(r => r.getAs[String]("item") -> r.getAs[String]("detail")).toSet
    assert(driftRows == Set("v" -> "removed", "w" -> "added"))
    // t_same and t_changed carry no schema rows
    assert(byTable("t_same").forall(_.getAs[String]("kind") == "census"))
    val cen = byTable("t_changed")
      .filter(_.getAs[String]("kind") == "census")
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("n")).toMap
    assert(cen == Map("N" -> 0L, "C" -> 1L, "I" -> 1L, "D" -> 1L))
  }

  test("catalogDiff refuses duplicate table names loudly (r13 ADVICE)") {
    val a = Seq((1L, "x")).toDF("k", "s")
    val e = intercept[IllegalArgumentException](Differ.catalogDiff(Seq(
      ("t", a, a, Seq("k")), ("t", a, a, Seq("k")), ("u", a, a, Seq("k")))))
    assert(e.getMessage.contains("duplicate") && e.getMessage.contains("t") &&
      !e.getMessage.contains("u,"), e.getMessage)
  }

  test("autoMapReport verdicts agree with diffAutoMapped's decisions (r14)") {
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), Option(r.getString(1)).getOrElse("-"),
        r.getString(4))).toSet
    // mapped + drop: two exact renames map; the zero-overlap decoy on the
    // RIGHT is an unclaimed add (no row), a zero-overlap LEFT column drops
    val l = Seq((1L, "F", "HIGH", "z1"), (2L, "O", "LOW", "z2"))
      .toDF("k", "status", "prio", "ltag")
    val r = Seq((1L, "F", "HIGH"), (2L, "O", "LOW")).toDF("k", "st", "pr")
      .withColumn("decoy", lit("zz-no-overlap"))
    assert(verdicts(Differ.autoMapReport(l, r, keys)) == Set(
      ("status", "st", "mapped"), ("prio", "pr", "mapped"), ("ltag", "-", "drop")))
    // ambiguous: both full candidates flagged, none mapped — and the
    // throwing surface agrees (one discovery body, two surfaces)
    val amb = r.withColumn("st2", col("st"))
    val ambRep = verdicts(Differ.autoMapReport(l, amb, keys))
    assert(ambRep.contains(("status", "st", "ambiguous")) &&
      ambRep.contains(("status", "st2", "ambiguous")), ambRep)
    intercept[IllegalArgumentException](Differ.diffAutoMapped(l, amb, keys))
    // partial: 1/2 overlap (500000 ppm), no full candidate
    val lp = Seq((1L, "F"), (2L, "O")).toDF("k", "status")
    val rp = Seq((1L, "F"), (2L, "Q")).toDF("k", "stx")
    assert(verdicts(Differ.autoMapReport(lp, rp, keys)) ==
      Set(("status", "stx", "partial")))
    intercept[IllegalArgumentException](Differ.diffAutoMapped(lp, rp, keys))
    // conflict: two left columns with identical value sets both fully
    // match one right column → injectivity breach, flagged on both rows
    val lc = Seq((1L, "F", "F"), (2L, "O", "O")).toDF("k", "s1", "s2")
    val rc = Seq((1L, "F"), (2L, "O")).toDF("k", "st")
    assert(verdicts(Differ.autoMapReport(lc, rc, keys)) ==
      Set(("s1", "st", "conflict"), ("s2", "st", "conflict")))
    val e = intercept[IllegalArgumentException](Differ.diffAutoMapped(lc, rc, keys))
    assert(e.getMessage.contains("injective") && e.getMessage.contains("s1") &&
      e.getMessage.contains("s2"), e.getMessage)
  }

  test("catalogDiffTables: catalog enumeration, key inference, error rows survive (r14)") {
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    val aChanged = Seq((1L, "x", 9.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    val dup = Seq((1L, "x"), (1L, "x")).toDF("k", "s") // no unique column
    a.createOrReplaceTempView("cdt_good_l")
    aChanged.createOrReplaceTempView("cdt_good_r")
    dup.createOrReplaceTempView("cdt_nokey_l")
    dup.createOrReplaceTempView("cdt_nokey_r")
    a.createOrReplaceTempView("cdt_lost_l") // no _r twin
    val out = Differ.catalogDiffTables(spark, "cdt_.*_l",
      n => n.stripSuffix("_l") + "_r").collect()
    val byTable = out.groupBy(_.getAs[String]("table_name"))
    // the healthy pair diffed on the inferred key k: C=1, I=1, D=1
    val cen = byTable("cdt_good_l").filter(_.getAs[String]("kind") == "census")
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("n")).toMap
    assert(cen == Map("N" -> 0L, "C" -> 1L, "I" -> 1L, "D" -> 1L))
    // failure classes are single report rows, not exceptions
    def err(t: String) = {
      val rows = byTable(t)
      assert(rows.length == 1 && rows.head.getAs[String]("kind") == "error" &&
        rows.head.getAs[String]("verdict") == "fail", rows.mkString)
      rows.head.getAs[String]("item")
    }
    assert(err("cdt_nokey_l") == "no_unique_key")
    assert(err("cdt_lost_l") == "missing_right")
    // an unmatched pattern fails loudly (an empty sweep is a typo)
    val e = intercept[IllegalArgumentException](
      Differ.catalogDiffTables(spark, "cdt_nothing_.*", identity))
    assert(e.getMessage.contains("cdt_nothing_"), e.getMessage)
  }

  test("sweep key inference checks BOTH sides; plan refusals become rows (r14 review)") {
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    // right side double-loaded: k is unique on the left only — a
    // left-only check would fan out the full-outer and corrupt the census
    val doubled = a.unionByName(a)
    a.createOrReplaceTempView("cdt2_dup_l")
    doubled.createOrReplaceTempView("cdt2_dup_r")
    // right side renamed the left's key column away: with no column
    // unique on BOTH sides this is an error row, never a plan-time throw
    // that kills the sweep
    val renamed = Seq((1L, 9.0), (2L, 9.5)).toDF("k2", "v")
    // v deliberately non-unique on the left so it can't stand in as the key
    Seq((1L, 1.0), (2L, 1.0)).toDF("k", "v").createOrReplaceTempView("cdt2_ren_l")
    renamed.createOrReplaceTempView("cdt2_ren_r")
    // non-coercible retype: diff() refuses this pair at plan time — the
    // sweep must demote the refusal to a pair_invalid row
    Seq((1L, 1.0)).toDF("k", "v").createOrReplaceTempView("cdt2_retype_l")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "v").createOrReplaceTempView("cdt2_retype_r")
    // and one healthy pair that must SURVIVE all of the above
    a.createOrReplaceTempView("cdt2_good_l")
    a.createOrReplaceTempView("cdt2_good_r")
    val out = Differ.catalogDiffTables(spark, "cdt2_.*_l",
      n => n.stripSuffix("_l") + "_r").collect()
    val byTable = out.groupBy(_.getAs[String]("table_name"))
    def one(t: String) = {
      val rows = byTable(t)
      assert(rows.length == 1 && rows.head.getAs[String]("verdict") == "fail",
        rows.mkString)
      (rows.head.getAs[String]("item"), rows.head.getAs[String]("detail"))
    }
    assert(one("cdt2_dup_l")._1 == "no_unique_key")
    assert(one("cdt2_ren_l")._1 == "no_unique_key")
    val (item, detail) = one("cdt2_retype_l")
    assert(item == "pair_invalid" && detail.contains("DOUBLE"), (item, detail))
    assert(byTable("cdt2_good_l").map(_.getAs[String]("verdict")).distinct.toSeq
      == Seq("pass"))
  }

  test("catalogDiffTxnLog: version-resolved sweep; empty roots refuse loudly (r14)") {
    import graft.sources.TxnLog
    val root = java.nio.file.Files.createTempDirectory("graft_txnsweep").toString
    // a non-directory and a table-free directory are both typos, not sweeps
    intercept[IllegalArgumentException](
      Differ.catalogDiffTxnLog(spark, s"$root/nope"))
    intercept[IllegalArgumentException](Differ.catalogDiffTxnLog(spark, root))
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    val a2 = Seq((1L, "x", 9.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    TxnLog.init(a, s"$root/t_changed")
    TxnLog.overwrite(a2, s"$root/t_changed")
    TxnLog.init(a, s"$root/t_young") // one version — cannot diff
    val out = Differ.catalogDiffTxnLog(spark, root).collect()
    val byTable = out.groupBy(_.getAs[String]("table_name"))
    val cen = byTable("t_changed").filter(_.getAs[String]("kind") == "census")
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("n")).toMap
    assert(cen == Map("N" -> 0L, "C" -> 1L, "I" -> 1L, "D" -> 1L))
    val young = byTable("t_young")
    assert(young.length == 1 && young.head.getAs[String]("item") == "no_previous_version"
      && young.head.getAs[String]("verdict") == "fail", young.mkString)
  }

  test("catalog report schema and a version swept against itself") {
    import graft.sources.TxnLog
    val schema = "table_name:string:false,kind:string:false,item:string:true," +
      "detail:string:true,n:bigint:true,verdict:string:false"
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(",")
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    val a2 = Seq((1L, "x", 9.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    assert(shape(Differ.catalogDiff(Seq(("t", a, a2, Seq("k"))))) == schema)
    val root = java.nio.file.Files.createTempDirectory("graft_selfsweep").toString
    TxnLog.init(a, s"$root/t")
    TxnLog.overwrite(a2, s"$root/t")
    assert(shape(Differ.catalogDiffTxnLog(spark, root)) == schema)
    // v1 against v1: two reads of one snapshot; however the election sees
    // them, the census is every row unchanged
    val same = Differ.catalogDiffTxnLog(spark, root, fromVer = Some(1L), toVer = Some(1L))
    assert(rowsOf(same.select("item", "n", "verdict")) ==
      Seq("C|0|pass", "D|0|pass", "I|0|pass", "N|2|pass"), rowsOf(same))
  }

  test("inferDiffKey: overlap tie-break beats a churned decoy ahead of the real key (r15)") {
    // The r14 verdict's "what's wrong" #1: a unique, null-free load
    // timestamp EARLIER in schema order than the real key must lose the
    // election when its values churn between snapshots (zero cross-side
    // overlap), because electing it would turn every changed row into a
    // D+I pair. The real key's values persist -> highest overlap wins.
    val l = (1L to 200L).map(k => (2 * k + 1, k, k % 7)).toDF("load_ts", "k", "v")
    val r = (1L to 200L).filter(_ % 23 != 0)
      .map(k => (2 * k, k, if (k % 5 == 0) k % 7 + 1 else k % 7))
      .toDF("load_ts", "k", "v")
    assert(Differ.inferDiffKey(l, r).contains(Seq("k")))
    // single candidate: no overlap job needed, schema order still decides
    val l1 = (1L to 50L).map(k => (k, k % 3)).toDF("k", "v")
    assert(Differ.inferDiffKey(l1, l1).contains(Seq("k")))
    // ALL-candidates-churned: the election still returns the best-overlap
    // (here zero-overlap) column deterministically by schema position —
    // the sweep's census then reports the drift loudly rather than
    // guessing silently
    val l2 = (1L to 50L).map(k => (2 * k + 1, k % 3)).toDF("load_ts", "v")
    val r2 = (1L to 50L).map(k => (2 * k, k % 3)).toDF("load_ts", "v")
    assert(Differ.inferDiffKey(l2, r2).contains(Seq("load_ts")))
    // no unique column AND no unique pair anywhere -> None
    val dup = Seq((1L, "a"), (1L, "a"), (2L, "a")).toDF("k", "s")
    assert(Differ.inferDiffKey(dup, dup).isEmpty)
    // PAIR tier (r15): no single column unique, but the (k, part) pair is
    // -> the election returns the composite instead of dead-ending
    val cl = (1L to 40L).flatMap(k => Seq(1L, 2L).map(p => (k, p, k + p)))
      .toDF("k", "part", "v")
    assert(Differ.inferDiffKey(cl, cl).contains(Seq("k", "part")))
  }

  test("sweep keysFor: composite override unlocks a no-unique-key table; bad override survives as pair_invalid (r15)") {
    import spark.implicits._
    // composite identity: k repeats, part repeats — no single unique col
    val l = (1L to 60L).flatMap(k => Seq(1L, 2L).map(p => (k, p, k * 10 + p)))
      .toDF("k", "part", "v")
    val r = l.withColumn("v",
      when(col("k") % 7 === 0 && col("part") === 1L, col("v") + 1)
        .otherwise(col("v")))
    l.createOrReplaceTempView("gko_t_l"); r.createOrReplaceTempView("gko_t_r")
    // without the override the pair TIER (r15) elects (k, part) itself
    // -- same census as the explicit override below
    val bare = Differ.catalogDiffTables(spark, "gko_t_l", _ => "gko_t_r")
    assert(bare.filter(col("item") === "no_unique_key").count() == 0)
    // with it: the real census (8 C rows = the %7 k values, part=1)
    val swept = Differ.catalogDiffTables(spark, "gko_t_l", _ => "gko_t_r",
      keysFor = Map("gko_t_l" -> Seq("k", "part")))
    def n(df: org.apache.spark.sql.DataFrame, item: String) =
      df.filter(col("item") === item).select("n").collect().head.getLong(0)
    assert(n(swept, "C") == 8L && n(swept, "N") == 112L &&
      n(swept, "I") == 0L && n(swept, "D") == 0L, rowsOf(swept).mkString(";"))
    assert(rowsOf(bare) == rowsOf(swept)) // pair election == explicit override
    // an override naming an absent column: that pair's error row, not an
    // exception (the sweep survival contract covers caller mistakes too)
    val bad = Differ.catalogDiffTables(spark, "gko_t_l", _ => "gko_t_r",
      keysFor = Map("gko_t_l" -> Seq("nope")))
    val row = bad.filter(col("kind") === "error").collect()
    assert(row.length == 1 && row.head.getString(2) == "pair_invalid",
      row.mkString(";"))
    // the TxnLog sweep takes the same override
    import graft.sources.TxnLog
    val root = java.nio.file.Files.createTempDirectory("graft_gko").toString
    TxnLog.init(l, s"$root/lines")
    TxnLog.overwrite(r, s"$root/lines")
    val txn = Differ.catalogDiffTxnLog(spark, root,
      keysFor = Map("lines" -> Seq("k", "part")))
    assert(n(txn, "C") == 8L && n(txn, "N") == 112L, rowsOf(txn).mkString(";"))
    // an override naming a table the sweep never visits is a config typo
    // — refuse LOUDLY, don't let the pair silently fall back to election
    val e2 = intercept[IllegalArgumentException] {
      Differ.catalogDiffTables(spark, "gko_t_l", _ => "gko_t_r",
        keysFor = Map("gko_t" -> Seq("k", "part")))
    }
    assert(e2.getMessage.contains("gko_t") &&
      e2.getMessage.contains("no swept table"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Differ.catalogDiffTxnLog(spark, root,
        keysFor = Map("lines_typo" -> Seq("k")))
    }
    assert(e3.getMessage.contains("lines_typo"), e3.getMessage)
  }

  test("inner-diff family routes through diff()'s coercion: retypes widen-or-refuse, never implicit-cast (r15 review)") {
    import spark.implicits._
    val l = Seq((1L, 10), (2L, 20)).toDF("k", "v") // v: INT
    val rWide = Seq((1L, 10.4), (2L, 20.0)).toDF("k", "v") // v: DOUBLE
    // tolerance must apply on the WIDENED (floating) type — before the
    // fix, colEqual routed on the left INT type, tolerance never applied,
    // and the column census disagreed with diff()'s row census
    val opts = DiffOptions(absTol = 0.5)
    assert(Differ.changed(l, rWide, Seq("k"), opts).count() == 0L)
    assert(Differ.unchanged(l, rWide, Seq("k"), opts).count() == 2L)
    val cs = Differ.columnStats(l, rWide, Seq("k"), opts).collect()
    assert(cs.length == 1 && cs.head.getLong(1) == 0L, cs.mkString(";"))
    val cc = Differ.catalogDiffCols(Seq(("t", l, rWide, Seq("k"))), opts)
      .collect()
    assert(cc.length == 1 && cc.head.getLong(2) == 0L, cc.mkString(";"))
    // ...and diff() agrees (the alignment IS the point)
    assert(Differ.diff(l, rWide, Seq("k"), opts)
      .filter(col("diff_status") === "C").count() == 0L)
    // a non-coercible retype refuses loudly naming the column — it cannot
    // silently compare '7' with 7 through an implicit cast
    val rStr = Seq((1L, "10"), (2L, "20")).toDF("k", "v")
    for (f <- Seq(
      () => Differ.changed(l, rStr, Seq("k")),
      () => Differ.changedCols(l, rStr, Seq("k")),
      () => Differ.columnStats(l, rStr, Seq("k")),
      () => Differ.numericStats(l, rStr, Seq("k")))) {
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("'v'") &&
        e.getMessage.contains("not numeric-coercible"), e.getMessage)
    }
    // widened output types: changed() carries the common type like diff()
    val rLong = Seq((1L, 11), (2L, 20)).toDF("k", "v")
      .select(col("k"), col("v").cast("long").as("v"))
    val ch = Differ.changed(l, rLong, Seq("k"))
    assert(ch.schema("left_v").dataType ==
      org.apache.spark.sql.types.LongType, ch.schema.treeString)
    assert(ch.count() == 1L)
  }

  test("catalogDiffCols: zero-match pairs report n_matched=0, keys-only pairs no rows, tolerance respected (r15)") {
    import spark.implicits._
    val l = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "s")
    val r = Seq((1L, 10.4, "a"), (2L, 20.0, "c")).toDF("k", "v", "s")
    val out = Differ.catalogDiffCols(Seq(("t", l, r, Seq("k")))).collect()
      .map(x => (x.getString(1), x.getLong(2), x.getLong(3))).toSet
    assert(out == Set(("v", 1L, 2L), ("s", 1L, 2L)), out.toString)
    // tolerance flows through DiffOptions exactly as in diff()
    val tol = Differ.catalogDiffCols(Seq(("t", l, r, Seq("k"))),
      DiffOptions(absTol = 0.5)).collect()
      .map(x => (x.getString(1), x.getLong(2))).toSet
    assert(tol == Set(("v", 0L), ("s", 1L)), tol.toString)
    // disjoint keys: the agg over zero joined rows must land n_matched=0
    // (count) and n_diff=0 (coalesced sums), not NULLs
    val rx = Seq((9L, 1.0, "z")).toDF("k", "v", "s")
    val zero = Differ.catalogDiffCols(Seq(("t", l, rx, Seq("k")))).collect()
      .map(x => (x.getString(1), x.getLong(2), x.getLong(3))).toSet
    assert(zero == Set(("v", 0L, 0L), ("s", 0L, 0L)), zero.toString)
    // keys-only pair: nothing to census, zero rows — alongside a real pair
    val ko = Seq(Tuple1(1L)).toDF("k")
    val mixed = Differ.catalogDiffCols(Seq(
      ("keysonly", ko, ko, Seq("k")), ("t", l, r, Seq("k"))))
    assert(mixed.filter(col("table_name") === "keysonly").count() == 0 &&
      mixed.filter(col("table_name") === "t").count() == 2)
  }

  test("unionAllByName: balanced tree == left fold at every arity; same flat optimized Union (r15)") {
    // The sweep-assembly fix for the superlinear factor PLANS.md's
    // "Scale-up probe part 6" measured.
    // The win is CONSTRUCTION cost, not final shape: every Dataset is
    // eagerly analyzed at creation, so a left fold re-analyzes the
    // cumulative k-child union at each of N steps (O(N²) analyzer node
    // visits) while pairwise halving analyzes O(N log N); the OPTIMIZED
    // plan must be the identical single flat Union either way
    // (CombineUnions), so execution cannot differ. Pin the multiset at
    // arity 1 / 2 / odd / pow2 and the flat-Union equivalence.
    def frames(n: Int) = (1 to n).map(i =>
      Seq((i.toLong, s"t$i")).toDF("k", "s"))
    for (n <- Seq(1, 2, 3, 7, 8)) {
      val fs = frames(n)
      val bal = Differ.unionAllByName(fs)
      val fold = fs.reduce(_ unionByName _)
      assert(rowsOf(bal) == rowsOf(fold), s"arity $n")
    }
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val balOpt = Differ.unionAllByName(frames(33)).queryExecution.optimizedPlan
    val foldOpt = frames(33).reduce(_ unionByName _).queryExecution.optimizedPlan
    def unionArity(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case u: Union => u.children.length }
    assert(unionArity(balOpt) == Seq(33), s"balanced: ${unionArity(balOpt)}")
    assert(unionArity(foldOpt) == Seq(33), s"fold: ${unionArity(foldOpt)}")
  }

  test("sweep of a table against itself == catalogDiff, both grains; refusals demote") {
    import spark.implicits._
    val t = (1L to 50L).map(k => (k, s"s$k", k * 1.5)).toDF("k", "s", "v")
    // both views resolve to the SAME analyzed plan: a table swept against
    // itself, which elects its key and diffs like any other pair
    t.createOrReplaceTempView("gsp_t_l"); t.createOrReplaceTempView("gsp_t_r")
    val out = Differ.catalogDiffTables(spark, "gsp_t_l", _ => "gsp_t_r")
    // the reference is catalogDiff on caller pairs: the sweep's report
    // must match it row for row
    val ref = Differ.catalogDiff(Seq(("gsp_t_l",
      spark.table("gsp_t_l"), spark.table("gsp_t_r"), Seq("k"))))
    assert(rowsOf(out) == rowsOf(ref), s"out=${rowsOf(out)} ref=${rowsOf(ref)}")
    // column grain: n_diff 0 on every shared value column, n_matched = n
    val outC = Differ.catalogDiffTablesCols(spark, "gsp_t_l", _ => "gsp_t_r")
      .select("table_name", "column_name", "n_diff", "n_matched")
    val refC = Differ.catalogDiffCols(Seq(("gsp_t_l",
      spark.table("gsp_t_l"), spark.table("gsp_t_r"), Seq("k"))))
    assert(rowsOf(outC) == rowsOf(refC),
      s"cols out=${rowsOf(outC)} ref=${rowsOf(refC)}")
    // a plan-time refusal demotes to the pair's pair_invalid row
    val bad = Differ.catalogDiffTables(spark, "gsp_t_l", _ => "gsp_t_r",
      opts = DiffOptions(digestCols = Set("nope")))
    val err = bad.filter(col("kind") === "error").collect()
    assert(err.length == 1 && err.head.getString(2) == "pair_invalid",
      err.mkString(";"))
    // distinct-but-equal plans: the same census as the self-pair
    t.withColumn("v", col("v") * 1.0).createOrReplaceTempView("gsp_u_r")
    t.createOrReplaceTempView("gsp_u_l")
    val ex = Differ.catalogDiffTables(spark, "gsp_u_l", _ => "gsp_u_r")
    def n(df: org.apache.spark.sql.DataFrame, item: String) =
      df.filter(col("item") === item).select("n").collect().head.getLong(0)
    assert(n(ex, "N") == 50L && n(ex, "C") == 0L)
  }

  test("inferDiffKey(t, t) == inferDiffKey(t, copy): tie-break and pair tier") {
    import spark.implicits._
    // an equal frame whose plan is not the same plan, so no shortcut
    // could tell the two calls apart
    def copyOf(df: DataFrame) = df.filter(lit(true))
    def same(a: DataFrame, b: DataFrame) =
      a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    // decoy shape: two unique null-free columns, load_ts ahead of k; both
    // overlap fully against themselves, so position breaks the tie
    val decoy = (1L to 40L).map(k => (k * 2 + 1, k, k % 3)).toDF("load_ts", "k", "v")
    // composite shape: no single column is unique, the (a, b) pair is
    val composite = (for (a <- 1 to 6; b <- 1 to 5) yield (a, b, s"v${a % 2}"))
      .toDF("a", "b", "v")
    for ((df, want) <- Seq(decoy -> Seq("load_ts"), composite -> Seq("a", "b"))) {
      val copy = copyOf(df)
      assert(same(df, df) && !same(df, copy) && rowsOf(df) == rowsOf(copy))
      val self = Differ.inferDiffKey(df, df)
      assert(self == Differ.inferDiffKey(df, copy), s"self=$self")
      assert(self.contains(want), s"self=$self")
    }
  }
}
