package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import graft.sources.TxnLog

/** Model-based property test of the transactional table: random op
  * sequences (append / overwrite / merge / compact / delete / restore) run
  * against both the real log and an in-memory model (the full version
  * history as plain maps). After every op, EVERY historical version must
  * still read back exactly the model's snapshot — i.e. commits are
  * append-only facts and no later operation can corrupt an earlier
  * snapshot. For every version pair, the change scope
  * (`TxnLog.changedFiles`, each side read at its own version) must differ
  * by exactly the rows the two snapshots differ by.
  */
class TxnLogPropSpec extends SparkTestBase {
  import spark.implicits._

  private sealed trait Op
  private case class Append(rows: Map[Long, String]) extends Op
  private case class Overwrite(rows: Map[Long, String]) extends Op
  private case class Merge(rows: Map[Long, String]) extends Op
  private case object Compact extends Op
  private case class Delete(keys: Set[Long]) extends Op
  private case class Restore(back: Int) extends Op

  private val rowsGen: Gen[Map[Long, String]] = for {
    n <- Gen.choose(1, 6)
    ks <- Gen.listOfN(n, Gen.choose(0L, 30L))
    vs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
  } yield ks.zip(vs).toMap

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> rowsGen.map(Append),
    2 -> rowsGen.map(Merge),
    1 -> rowsGen.map(Overwrite),
    1 -> Gen.const(Compact),
    2 -> Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 30L)).map(ks => Delete(ks.toSet))),
    1 -> Gen.choose(1, 3).map(Restore))

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = rng.Seed(seed)
    (1 to n).map { _ =>
      val v = g.pureApply(Gen.Parameters.default, s)
      s = s.next
      v
    }
  }

  private def toDF(rows: Map[Long, String]): DataFrame =
    rows.toSeq.toDF("id", "v")

  /** Model snapshot semantics per op (multiset-of-rows; ids unique within
    * an append batch here, so a Map models it exactly for merge/overwrite;
    * append can duplicate ids ACROSS commits — model with a Seq).
    */
  private def snapshotRows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("id").cast("long"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("random op sequences: every historical version still reads the model's snapshot") {
    for ((ops, caseIdx) <- samples(Gen.listOfN(7, opGen), 4, seed = 2024L).zipWithIndex) {
      val t = Files.createTempDirectory("graft-txnprop-").resolve("t").toString
      val base = Map(1L -> "z", 2L -> "z")
      TxnLog.initKeyed(toDF(base), t, "id")
      // model: version -> row seq (append may duplicate keys across commits)
      var history = Vector[Seq[(Long, String)]](base.toSeq.sorted)
      for (op <- ops) {
        val cur = history.last
        val next: Seq[(Long, String)] = op match {
          case Append(rows) =>
            TxnLog.appendKeyed(toDF(rows), t, "id")
            (cur ++ rows.toSeq).sorted
          case Overwrite(rows) =>
            TxnLog.overwrite(toDF(rows), t)
            rows.toSeq.sorted
          case Merge(rows) =>
            // copy-on-write merge requires materialized dvs (documented
            // contract): compact first when tombstones are live — the
            // compact is its own audited version, so model it too
            if (TxnLog.liveDeleteVectors(t).nonEmpty) {
              TxnLog.compact(spark, t, numFiles = 2)
              history :+= cur
            }
            TxnLog.merge(spark, t, toDF(rows), "id")
            // upsert: ALL rows with an updated key are replaced (duplicate
            // appended rows of that key collapse to the one update row)
            (history.last.filterNot { case (k, _) => rows.contains(k) }
              ++ rows.toSeq).sorted
          case Compact =>
            TxnLog.compact(spark, t, numFiles = 2)
            cur
          case Delete(keys) =>
            TxnLog.deleteWhere(spark, t, keys.toSeq.toDF("id"), "id")
            cur.filterNot { case (k, _) => keys(k) }
          case Restore(back) =>
            val to = math.max(0, history.size - 1 - back)
            TxnLog.restore(t, to.toLong)
            history(to)
        }
        history :+= next
      }
      // EVERY version — not just the latest — must read back the model
      for ((expect, v) <- history.zipWithIndex) {
        val got = snapshotRows(TxnLog.read(spark, t, Some(v.toLong)))
        assert(got == expect,
          s"case $caseIdx version $v: got ${got.take(8)}... want ${expect.take(8)}...")
      }
      // the change scope of every version pair, each side read at its own
      // version, differs by exactly the rows the full snapshots differ by
      for (v0 <- history.indices; v1 <- history.indices if v0 < v1) {
        val (a, b) = TxnLog.changedFiles(t, v0.toLong, v1.toLong)
        def side(files: Seq[String], v: Int) =
          if (files.isEmpty) Nil else snapshotRows(TxnLog.readFiles(spark, t, files, Some(v.toLong)))
        val (scope0, scope1) = (side(a, v0), side(b, v1))
        assert(changes(scope0, scope1) == changes(history(v0), history(v1)),
          s"case $caseIdx versions $v0 -> $v1: scope ${a.size}/${b.size} files")
      }
    }
  }

  /** The rows two multisets differ by: (left minus right, right minus
    * left), each sorted.
    */
  private def changes(l: Seq[(Long, String)], r: Seq[(Long, String)])
      : (Seq[(Long, String)], Seq[(Long, String)]) = {
    def minus(x: Seq[(Long, String)], y: Seq[(Long, String)]) = {
      val inY = y.groupBy(identity).view.mapValues(_.size).toMap
      x.groupBy(identity).toSeq
        .flatMap { case (row, rs) => Seq.fill(rs.size - inY.getOrElse(row, 0))(row) }.sorted
    }
    (minus(l, r), minus(r, l))
  }
}
