package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators.Differ
import graft.sources.TxnLog

/** Transactional commit-log table format: snapshot isolation, time
  * travel, copy-on-write overwrite, compaction as a metadata swap,
  * concurrent-commit losers, torn-log fail-fast.
  */
class TxnLogSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-txnlog-spec-").resolve("t").toString

  test("init/append/time-travel: each version is the exact row multiset") {
    val t = freshTable()
    val v0 = TxnLog.init(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    assert(v0 == 0 && TxnLog.latestVersion(t) == 0)
    val v1 = TxnLog.append(Seq((3L, "c")).toDF("id", "v"), t)
    assert(v1 == 1)
    assert(rowsOf(TxnLog.read(spark, t, Some(0))) == Seq("1|a", "2|b"))
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("1|a", "2|b", "3|c"))
    // append added files, never rewrote: v0's files are a subset of v1's
    assert(TxnLog.liveFiles(t, Some(0)).toSet.subsetOf(TxnLog.liveFiles(t).toSet))
  }

  test("overwrite is copy-on-write: one commit swaps the whole live set") {
    val t = freshTable()
    TxnLog.init(Seq((1L, "a")).toDF("id", "v"), t)
    TxnLog.overwrite(Seq((9L, "z"), (8L, "y")).toDF("id", "v"), t)
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("8|y", "9|z"))
    assert(rowsOf(TxnLog.read(spark, t, Some(0))) == Seq("1|a"))
    // old and new live sets are disjoint — the swap happened in commit 1
    assert(TxnLog.liveFiles(t, Some(0)).toSet
      .intersect(TxnLog.liveFiles(t, Some(1)).toSet).isEmpty)
  }

  test("compact rewrites the snapshot into fewer files; old versions still resolve") {
    val t = freshTable()
    TxnLog.init(spark.range(100).toDF("id").repartition(8), t)
    assert(TxnLog.liveFiles(t).size == 8)
    TxnLog.compact(spark, t, numFiles = 2)
    assert(TxnLog.liveFiles(t).size == 2)
    assert(TxnLog.read(spark, t).count() == 100)
    // time travel to the pre-compaction snapshot still reads all rows
    assert(TxnLog.read(spark, t, Some(0)).count() == 100)
    assert(TxnLog.liveFiles(t, Some(0)).size == 8)
  }

  test("a racing commit to the same version loses precisely; winner's commit intact") {
    val t = freshTable()
    TxnLog.init(Seq((1L, "a")).toDF("id", "v"), t)
    // two writers both observed latest=0 and race to publish version 1:
    // the winner lands, the loser gets IllegalStateException and the
    // winner's commit file is NOT overwritten (the POSIX-rename trap —
    // rename silently replaces; the hard-link gate does not)
    TxnLog.commitAt(t, 1, Nil, Nil)
    val e = intercept[IllegalStateException](TxnLog.commitAt(t, 1, Nil, Nil))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(TxnLog.latestVersion(t) == 1)
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("1|a"))
  }

  test("torn log fails fast: a missing intermediate commit is an error, not silence") {
    val t = freshTable()
    TxnLog.init(Seq((1L, "a")).toDF("id", "v"), t)
    TxnLog.append(Seq((2L, "b")).toDF("id", "v"), t)
    Files.delete(Paths.get(t, "_graft_log", "00000000.json"))
    val e = intercept[IllegalArgumentException](TxnLog.read(spark, t))
    assert(e.getMessage.contains("missing commit"), e.getMessage)
  }

  test("merge upserts file-granularly: stat-pruned files are neither read nor moved") {
    val t = freshTable()
    // 4 range-disjoint files via repartitionByRange on the key
    val base = spark.range(0, 400).toDF("id")
      .withColumn("v", concat(lit("old-"), col("id")))
      .repartitionByRange(4, col("id"))
    TxnLog.initKeyed(base, t, "id")
    val before = TxnLog.liveFileStats(t)
    assert(before.size == 4 && before.forall(_.keyRange.isDefined))
    // updates touch keys 0..49 (one file's range) + brand-new keys 1000..1009
    val updates = spark.range(0, 50).toDF("id")
      .withColumn("v", concat(lit("new-"), col("id")))
      .unionByName(spark.range(1000, 1010).toDF("id")
        .withColumn("v", concat(lit("ins-"), col("id"))))
    TxnLog.merge(spark, t, updates, "id")
    // exactly 3 of the 4 original files survived untouched
    val after = TxnLog.liveFiles(t).toSet
    val surviving = before.map(_.file).filter(after.contains)
    assert(surviving.size == 3, s"pruning failed: ${surviving.size} survived")
    assert(TxnLog.lastMergeSkipped.get() == 3)
    // data: updated keys replaced, others intact, inserts present
    val out = TxnLog.read(spark, t)
    assert(out.count() == 410)
    assert(out.filter(col("id") < 50 && !col("v").startsWith("new-")).count() == 0)
    assert(out.filter(col("id") >= 50 && col("id") < 400 &&
      !col("v").startsWith("old-")).count() == 0)
    assert(out.filter(col("id") >= 1000).count() == 10)
    // time travel still sees the pre-merge table
    assert(TxnLog.read(spark, t, Some(0)).filter(col("v").startsWith("old-")).count() == 400)
  }

  test("readRange skips non-overlapping files from the log stats alone") {
    val t = freshTable()
    val base = spark.range(0, 400).toDF("id")
      .withColumn("v", concat(lit("r-"), col("id")))
      .repartitionByRange(4, col("id"))
    TxnLog.initKeyed(base, t, "id")
    val (df, skipped) = TxnLog.readRange(spark, t, "id", 10, 40)
    assert(skipped == 3, s"expected 3 of 4 files skipped, got $skipped")
    assert(df.count() == 31) // residual filter still applies inside the file
    // range spanning two files skips two
    val (df2, skipped2) = TxnLog.readRange(spark, t, "id", 90, 110)
    assert(skipped2 == 2 && df2.count() == 21)
    // stats-less tables degrade to scan-everything, never wrong results
    val t2 = freshTable()
    TxnLog.init(base, t2)
    val (df3, skipped3) = TxnLog.readRange(spark, t2, "id", 10, 40)
    assert(skipped3 == 0 && df3.count() == 31)
  }

  test("mergeBatch: replayed batch is a no-op; a version gap fails fast") {
    val t = freshTable()
    TxnLog.initKeyed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, "id")
    val up = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    assert(TxnLog.mergeBatch(spark, t, up, "id", 1))
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("1|a", "2|B", "3|c"))
    // crash-replay of the same batch id: no-op, state unchanged
    assert(!TxnLog.mergeBatch(spark, t, up, "id", 1))
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("1|a", "2|B", "3|c"))
    assert(TxnLog.latestVersion(t) == 1)
    // a skipped batch id would corrupt replay idempotence — fail fast
    val e = intercept[IllegalArgumentException](
      TxnLog.mergeBatch(spark, t, up, "id", 3))
    assert(e.getMessage.contains("version gap"), e.getMessage)
  }

  test("vacuum deletes only pre-floor bytes; retained snapshots and the log survive") {
    val t = freshTable()
    TxnLog.init(spark.range(100).toDF("id").repartition(4), t)      // v0: 4 files
    TxnLog.overwrite(spark.range(100, 150).toDF("id"), t)           // v1: swap
    TxnLog.append(Seq(999L).toDF("id"), t)                          // v2
    val v0Files = TxnLog.liveFiles(t, Some(0))
    val deleted = TxnLog.vacuum(t, retainVersions = 1)               // floor = v1
    // exactly v0's swapped-out files died; v1/v2's files are intact
    assert(deleted.toSet == v0Files.toSet, s"deleted $deleted")
    assert(TxnLog.read(spark, t, Some(1)).count() == 50)
    assert(TxnLog.read(spark, t).count() == 51)
    // time travel below the floor fails precisely, never a missing-file crash
    val e = intercept[IllegalArgumentException](TxnLog.read(spark, t, Some(0)))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // commit history itself is never deleted (auditable log)
    assert(Files.exists(Paths.get(t, "_graft_log", "00000000.json")))
    // idempotent: a second vacuum with the same retention deletes nothing
    assert(TxnLog.vacuum(t, retainVersions = 1).isEmpty)
  }

  test("vacuum crash window: floor published, deletes not yet run — rerun converges") {
    val t = freshTable()
    TxnLog.init(spark.range(50).toDF("id").repartition(2), t)
    TxnLog.overwrite(spark.range(10).toDF("id"), t)
    val v0Files = TxnLog.liveFiles(t, Some(0))
    // simulate a crash right after the floor landed but before any delete:
    // the floor-first ordering guarantees this window holds only ORPHAN
    // bytes — sub-floor reads already fail fast, never with missing files
    Files.write(Paths.get(t, "_graft_log", "_vacuum"),
      "1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException](TxnLog.read(spark, t, Some(0)))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(Files.exists(Paths.get(t, v0Files.head)), "orphan bytes linger")
    // rerun removes exactly the orphans and keeps the floor
    assert(TxnLog.vacuum(t, retainVersions = 0).toSet == v0Files.toSet)
    assert(TxnLog.minVersion(t) == 1)
    assert(TxnLog.read(spark, t).count() == 10)
  }

  test("history audits every commit: op tags, add/remove counts, live-file count") {
    val t = freshTable()
    TxnLog.init(spark.range(10).toDF("id").repartition(2), t)
    TxnLog.append(Seq(99L).toDF("id").repartition(1), t)
    TxnLog.overwrite(spark.range(5).toDF("id").repartition(1), t)
    TxnLog.compact(spark, t, 1)
    TxnLog.commit(t, Nil, Nil) // untagged low-level commit → default op
    val h = TxnLog.history(t)
    assert(h.map(c => (c.version, c.op, c.nAdd, c.nRemove, c.nLiveAfter)) == Seq(
      (0L, "init", 2, 0, 2),
      (1L, "append", 1, 0, 3),
      (2L, "overwrite", 1, 3, 1),
      (3L, "compact", 1, 1, 1),
      (4L, "commit", 0, 0, 1)))
    // header-only: vacuum never erases the audit trail
    TxnLog.vacuum(t, retainVersions = 0)
    assert(TxnLog.history(t).size == 5)
  }

  test("clone is zero-copy yet independent; changedFiles prunes untouched files") {
    val src = freshTable()
    val dst = freshTable()
    TxnLog.initKeyed(
      spark.range(100).toDF("id").repartitionByRange(4, $"id"), src, "id")
    TxnLog.clone(src, dst)
    // zero-copy: every clone file is a hard link to the source's inode
    TxnLog.liveFiles(dst).foreach { f =>
      assert(java.nio.file.Files.isSameFile(
        java.nio.file.Paths.get(src, f), java.nio.file.Paths.get(dst, f)))
    }
    // stats carried: a clone-side merge still prunes by the source's stats
    TxnLog.merge(spark, dst, Seq(3L).toDF("id"), "id")
    assert(TxnLog.lastMergeSkipped.get == 3, "3 of 4 files stat-pruned on the clone")
    // independence: the clone-side merge never touched the source
    assert(TxnLog.read(spark, src).count() == 100)
    assert(TxnLog.latestVersion(src) == 0)
    // changedFiles: only the rewritten file pair differs between versions
    val (onlyOld, onlyNew) = TxnLog.changedFiles(dst, 0, 1)
    assert(onlyOld.size == 1, s"one touched file, got $onlyOld")
    assert(onlyNew.nonEmpty)
    assert((TxnLog.liveFiles(dst, Some(0)).toSet -- onlyOld.toSet).size == 3)
    // vacuum on the clone unlinks only its own names; source bytes survive
    TxnLog.vacuum(dst, retainVersions = 0)
    assert(TxnLog.read(spark, src).count() == 100)
  }

  test("merge-on-read delete: anti-joined reads, range-scan guard, vacuum reclaims tombstones") {
    val t = freshTable()
    TxnLog.init((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), t)
    TxnLog.deleteWhere(spark, t, Seq(3L, 7L, 11L).toDF("id"), "id")
    // read subtracts; time travel doesn't
    assert(TxnLog.read(spark, t).count() == 17)
    assert(TxnLog.read(spark, t, Some(0L)).count() == 20)
    assert(TxnLog.liveDeleteVectors(t).map(_.key) == Seq("id"))
    // a second delete stacks; mixed key columns are refused
    TxnLog.deleteWhere(spark, t, Seq(4L).toDF("id"), "id")
    assert(TxnLog.read(spark, t).count() == 16)
    intercept[IllegalArgumentException](
      TxnLog.deleteWhere(spark, t, Seq(1L).toDF("other"), "other"))
    // stats-pruned range reads refuse to run over live dvs
    val e = intercept[IllegalArgumentException](
      TxnLog.readRange(spark, t, "id", 1, 5))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    // compaction materializes: dvs gone, rows identical, history audited
    TxnLog.compact(spark, t, 1)
    assert(TxnLog.liveDeleteVectors(t).isEmpty)
    assert(TxnLog.read(spark, t).count() == 16)
    assert(TxnLog.history(t).map(_.op) == Seq("init", "delete", "delete", "compact"))
    // vacuum reclaims the off-floor tombstone bytes along with old data
    val deleted = TxnLog.vacuum(t, retainVersions = 0)
    assert(deleted.nonEmpty)
    assert(TxnLog.read(spark, t).count() == 16, "post-vacuum snapshot intact")
  }

  test("dv scoping: append after delete re-inserts the key (DELETE-then-INSERT)") {
    val t = freshTable()
    TxnLog.init((1L to 5L).map(i => (i, "old")).toDF("id", "v"), t)
    TxnLog.deleteWhere(spark, t, Seq(3L).toDF("id"), "id")
    assert(TxnLog.read(spark, t).count() == 4)
    // re-insert key 3: the new file is OUTSIDE the dv's scope → visible
    TxnLog.append(Seq((3L, "new")).toDF("id", "v"), t)
    val rows = rowsOf(TxnLog.read(spark, t))
    assert(rows.contains("3|new"), s"re-inserted key must be visible: $rows")
    assert(!rows.contains("3|old"), s"the deleted original must stay hidden: $rows")
    assert(rows.size == 5)
    // copy-on-write merge refuses to run over live dvs (resurrection hazard)
    val e = intercept[IllegalArgumentException](
      TxnLog.merge(spark, t, Seq((1L, "x")).toDF("id", "v"), "id"))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    // compaction materializes; merge works again afterwards
    TxnLog.compact(spark, t, 1)
    TxnLog.merge(spark, t, Seq((1L, "x")).toDF("id", "v"), "id")
    assert(rowsOf(TxnLog.read(spark, t)) ==
      Seq("1|x", "2|old", "3|new", "4|old", "5|old"))
  }

  test("restore is metadata-only, keeps both timelines, and carries dvs") {
    val t = freshTable()
    TxnLog.init((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), t)
    TxnLog.deleteWhere(spark, t, Seq(2L).toDF("id"), "id") // v1: 9 rows visible
    TxnLog.overwrite(Seq((99L, "bad")).toDF("id", "v"), t) // v2: clobbered
    val dataFilesBefore = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    TxnLog.restore(t, 1L)                                  // v3 == v1's snapshot
    val dataFilesAfter = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .toArray.map(_.toString).count(_.endsWith(".parquet"))
    assert(dataFilesAfter == dataFilesBefore, "restore must not write data files")
    assert(TxnLog.read(spark, t).count() == 9, "restored snapshot == v1 (dv applied)")
    assert(TxnLog.liveDeleteVectors(t).nonEmpty, "the dv must be restored with v1")
    assert(TxnLog.read(spark, t, Some(2L)).count() == 1, "bad version stays readable")
    assert(TxnLog.history(t).map(_.op) ==
      Seq("init", "delete", "overwrite", "restore"))
    intercept[IllegalArgumentException](TxnLog.restore(t, 99L))
  }

  test("init refuses an existing log; empty snapshot reads fail with a message") {
    val t = freshTable()
    TxnLog.init(Seq((1L, "a")).toDF("id", "v"), t)
    intercept[IllegalArgumentException](TxnLog.init(Seq((2L, "b")).toDF("id", "v"), t))
    // remove everything via overwrite-to-empty is not expressible (df with
    // rows only); removing all files via commit leaves an empty snapshot
    TxnLog.commit(t, Nil, TxnLog.liveFiles(t))
    val e = intercept[RuntimeException](TxnLog.read(spark, t))
    assert(e.getMessage.contains("empty snapshot"), e.getMessage)
  }

  test("keyed writes of all-NULL key files commit a plain add and read back") {
    val t = freshTable()
    TxnLog.initKeyed(Seq[(Option[Long], String)]((None, "a"), (None, "b"))
      .toDF("id", "v").coalesce(1), t, "id")
    TxnLog.appendKeyed(Seq((Option(5L), "c")).toDF("id", "v"), t, "id")
    TxnLog.appendKeyed(Seq[(Option[Long], String)]((None, "d")).toDF("id", "v"), t, "id")
    assert(TxnLog.liveFileStats(t).map(_.keyRange) == Seq(None, Some((5L, 5L)), None))
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("5|c", "␀|a", "␀|b", "␀|d"))
  }

  test("merge with a NULL update key appends that row and upserts the rest") {
    val t = freshTable()
    TxnLog.initKeyed(Seq((Option(1L), "a"), (Option(2L), "b")).toDF("id", "v"), t, "id")
    TxnLog.merge(spark, t,
      Seq[(Option[Long], String)]((None, "n"), (Some(2L), "B")).toDF("id", "v"), "id")
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("1|a", "2|B", "␀|n"))
    // an all-NULL batch is not empty: its rows append
    TxnLog.merge(spark, t, Seq[(Option[Long], String)]((None, "m")).toDF("id", "v"), "id")
    assert(rowsOf(TxnLog.read(spark, t)) == Seq("1|a", "2|B", "␀|m", "␀|n"))
  }

  test("default read schema is the first live file's; mergeSchema unions every footer") {
    // part names carry random UUIDs, so a name-ordered pick would vary by table
    (1 to 8).foreach { i =>
      val t = freshTable()
      TxnLog.init(Seq((1L, "a")).toDF("id", "v"), t)
      TxnLog.append(Seq((2L, "b", 7)).toDF("id", "v", "extra"), t)
      assert(TxnLog.read(spark, t).columns.toSeq == Seq("id", "v"), s"table $i")
      assert(TxnLog.read(spark, t, mergeSchema = true).columns.toSeq ==
        Seq("id", "v", "extra"), s"table $i")
    }
  }

  test("snapshot metadata costs no job: reads build job-free, initKeyed pays no stats job") {
    val df = spark.range(0, 40).toDF("id").withColumn("v", col("id") * 2).repartition(4)
    val (initJobs, _) = fired(TxnLog.init(df, freshTable()))
    val t = freshTable()
    val (keyedJobs, _) = fired(TxnLog.initKeyed(df, t, "id"))
    assert(keyedJobs <= initJobs, s"initKeyed $keyedJobs jobs vs init $initJobs")
    val files = TxnLog.liveFiles(t)
    val dv = freshTable()
    TxnLog.init(df, dv)
    TxnLog.deleteWhere(spark, dv, Seq(3L).toDF("id"), "id")
    val (readJobs, _) = fired {
      TxnLog.read(spark, t)
      TxnLog.read(spark, t, Some(0L))
      TxnLog.read(spark, dv)
      TxnLog.readRange(spark, t, "id", 5L, 9L)
      TxnLog.readFiles(spark, t, files.take(2))
    }
    assert(readJobs == 0, s"building reads ran $readJobs jobs")
  }

  test("building a 3-table TxnLog sweep with a multi-candidate table runs one SQL execution") {
    val root = Files.createTempDirectory("graft-txnlog-sweep-")
    def table(name: String) = root.resolve(name).toString
    TxnLog.init(Seq((1L, "x")).toDF("id", "v"), table("a"))
    TxnLog.append(Seq((2L, "y")).toDF("id", "v"), table("a"))
    TxnLog.init(Seq((1L, 10L)).toDF("k", "w"), table("b"))
    TxnLog.append(Seq((2L, 10L)).toDF("k", "w"), table("b"))
    // a churned load surrogate `sid` ahead of the real key `id`
    TxnLog.init(Seq((100L, 1L, "p"), (101L, 2L, "q")).toDF("sid", "id", "v"), table("c"))
    TxnLog.overwrite(Seq((300L, 1L, "p"), (301L, 2L, "Q"), (302L, 3L, "r"))
      .toDF("sid", "id", "v"), table("c"))
    var report: org.apache.spark.sql.DataFrame = null
    val (_, sqls) = fired { report = Differ.catalogDiffTxnLog(spark, root.toString) }
    assert(sqls == 1, s"building the sweep ran $sqls SQL executions")
    val census = report.filter(col("kind") === "census")
      .select("table_name", "item", "n").collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}=${r.getLong(2)}").sorted.toSeq
    // `id` won the tie on overlap: `sid`'s churn reads as C, not as D+I
    assert(census == Seq("a.C=0", "a.D=0", "a.I=1", "a.N=1", "b.C=0", "b.D=0", "b.I=1",
      "b.N=1", "c.C=2", "c.D=0", "c.I=1", "c.N=0"), census)
  }
}
