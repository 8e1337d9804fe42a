package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A minimal transactional table format over parquet — the lakehouse
  * mechanics (Delta/Iceberg-style) with zero connector dependencies:
  *
  *   table/
  *     part-....parquet            data files (immutable once committed)
  *     _graft_log/00000000.json    commit 0: one JSON action per line
  *     _graft_log/00000001.json    commit 1 ...
  *
  * Each commit file is the ATOMIC unit: a list of `add` / `remove` file
  * actions plus one `commit` header line. A snapshot at version v replays
  * commits 0..v — live files = adds minus removes — and reads exactly
  * those parquet files. This gives:
  *
  *   - **snapshot isolation**: readers list the log, pin a version, and
  *     never see half a writer's files (data files land BEFORE the commit
  *     file; an uncommitted crash leaves invisible orphans, not torn
  *     reads);
  *   - **time travel**: `read(spark, path, asOf = Some(v))`;
  *   - **O(1)-file appends and copy-on-write overwrites** without
  *     rewriting the table;
  *   - **compaction as a metadata swap**: rewrite live files into fewer,
  *     one commit removes the old and adds the new — readers at older
  *     versions still resolve (removed files are never deleted, cf.
  *     VACUUM).
  *
  * Single-writer optimistic concurrency: the commit file is created with
  * an atomic create-new (fails if the version already exists) — a losing
  * concurrent writer gets a precise error and retries against the new
  * snapshot, it never corrupts the log.
  *
  * At 100 TB this is exactly the shape that matters: the log is
  * KB-per-commit JSON on the driver, data files never move on append, a
  * snapshot's file list prunes the scan to live files only, and the
  * parquet reader underneath keeps its pushdown/pruning behavior.
  */
object TxnLog {

  private val LogDir = "_graft_log"

  private def logPath(table: String): Path = Paths.get(table, LogDir)

  private def commitFile(table: String, version: Long): Path =
    logPath(table).resolve(f"$version%08d.json")

  /** One tiny hand-rolled JSON action line (no JSON lib in the sandbox;
    * filenames are spark-generated `part-*.parquet` — no escaping needed,
    * enforced on write).
    */
  private def actionLine(op: String, file: String): String = {
    require(!file.exists(c => c == '"' || c == '\\' || c.isControl),
      s"TxnLog: data file name needs JSON escaping, refusing: $file")
    s"""{"op":"$op","file":"$file"}"""
  }

  /** Add action with per-file key min/max stats — Delta-style data
    * skipping: MERGE prunes untouched files by stat overlap without
    * opening them.
    */
  private def statsActionLine(file: String, kmin: Long, kmax: Long): String = {
    require(!file.exists(c => c == '"' || c == '\\' || c.isControl),
      s"TxnLog: data file name needs JSON escaping, refusing: $file")
    s"""{"op":"add","file":"$file","kmin":$kmin,"kmax":$kmax}"""
  }

  /** Add action with stats when the key range is known, plain otherwise. */
  private def addLine(file: String, keyRange: Option[(Long, Long)]): String =
    keyRange.fold(actionLine("add", file)) { case (lo, hi) => statsActionLine(file, lo, hi) }

  private val ActionRe = """\{"op":"(add|remove)","file":"([^"]+)"\}""".r
  private val StatsRe =
    """\{"op":"add","file":"([^"]+)","kmin":(-?\d+),"kmax":(-?\d+)\}""".r

  /** Deletion-vector action: a tombstone parquet of deleted keys (one
    * column named `key`), SCOPED to the data files live at delete time —
    * so a later append of the same key is visible (SQL DELETE-then-INSERT
    * semantics), exactly like positional deletion vectors scope to the
    * file they annotate. `scope` is semicolon-joined (spark part file
    * names never contain ';').
    */
  private def dvActionLine(file: String, key: String, scope: Seq[String]): String = {
    require(!file.exists(c => c == '"' || c == '\\' || c.isControl),
      s"TxnLog: dv file name needs JSON escaping, refusing: $file")
    require(key.nonEmpty && key.forall(c => c == '_' || c.isLetterOrDigit),
      s"TxnLog: dv key column must be a plain identifier, got '$key'")
    require(scope.forall(f => !f.exists(c => c == '"' || c == '\\' || c == ';' || c.isControl)),
      s"TxnLog: dv scope file names need escaping, refusing")
    s"""{"op":"dv","file":"$file","key":"$key","scope":"${scope.mkString(";")}"}"""
  }
  private val DvRe =
    """\{"op":"dv","file":"([^"]+)","key":"([^"]+)","scope":"([^"]*)"\}""".r

  /** One live deletion vector: tombstone file, key column, scoped files. */
  final case class DvStat(file: String, key: String, scope: Set[String])
  // op tag is optional so logs written before it existed still replay
  private val HeaderRe =
    """\{"commit":(\d+)(?:,"op":"([a-z]+)")?,"n_add":(\d+),"n_remove":(\d+)\}""".r

  /** One live data file with its optional key-range stats. */
  final case class FileStat(file: String, keyRange: Option[(Long, Long)])

  /** `Files.list` holds an open directory handle until the stream is
    * CLOSED (the JDK contract) — a long-lived driver sweeping hundreds of
    * tables nightly would otherwise accumulate unclosed dir fds until GC.
    * Every directory listing in this object routes through this bracket.
    */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Latest committed version, or -1 for an empty/absent log. */
  def latestVersion(table: String): Long = {
    val dir = logPath(table)
    if (!Files.isDirectory(dir)) -1L
    else listDir(dir)(_
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max))
  }

  /** Commit history as (version, commitTimeMillis), ascending by version —
    * Delta-style TIMESTAMP time travel: a commit's timestamp IS its log
    * file's filesystem modification time (Delta resolves `timestampAsOf`
    * exactly this way — no clock rides inside the commit JSON, so the log
    * format is unchanged and pre-existing tables resolve retroactively).
    * Metadata-only: one directory listing + one mtime stat per commit
    * file, never a data read.
    */
  def commitTimes(table: String): Seq[(Long, Long)] = {
    val dir = logPath(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir)(_
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => (p.getFileName.toString.stripSuffix(".json").toLong,
        Files.getLastModifiedTime(p).toMillis))
      .toSeq.sortBy(_._1))
  }

  /** Latest version whose commit time ≤ `tsMillis`, or None when the
    * whole log postdates the instant (the caller's out-of-range class —
    * a sweep demotes it to an error row). Ties at the exact instant
    * resolve to that version (≤, not <); when wall clocks make commit
    * times non-monotonic, the LATEST qualifying version wins — "the
    * table as a reader at that instant would have seen it".
    */
  def versionAsOf(table: String, tsMillis: Long): Option[Long] = {
    val qualifying = commitTimes(table).filter(_._2 <= tsMillis)
    if (qualifying.isEmpty) None else Some(qualifying.map(_._1).max)
  }

  /** Pin a commit's timestamp (sets the log file's mtime) — the fixture /
    * backfill tool for deterministic [[versionAsOf]] resolution.
    */
  def setCommitTime(table: String, version: Long, tsMillis: Long): Unit = {
    val f = commitFile(table, version)
    require(Files.exists(f), s"TxnLog.setCommitTime: no commit $version at $table")
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(tsMillis))
  }

  /** Live data files with stats at `asOf` (default: latest), by replay. */
  def liveFileStats(table: String, asOf: Option[Long] = None): Seq[FileStat] =
    replayAt(table, asOf)._1.iterator.map { case (f, st) => FileStat(f, st) }.toSeq

  /** [[replayLive]] at `asOf` (default: latest), which must be a readable
    * version: committed and not vacuumed away.
    */
  private def replayAt(table: String, asOf: Option[Long]) = {
    val last = latestVersion(table)
    require(last >= 0, s"TxnLog: no log at $table/$LogDir")
    val v = asOf.getOrElse(last)
    require(v >= 0 && v <= last,
      s"TxnLog: version $v out of range [0, $last] at $table")
    val floor = minVersion(table)
    require(v >= floor,
      s"TxnLog: version $v was vacuumed away (time-travel floor is $floor) at $table")
    replayLive(table, v)
  }

  /** Replay commits 0..v → (live data files with stats, live deletion
    * vectors as (file, keyCol)). A "remove" may target either kind —
    * compaction removes the tombstones it materializes.
    */
  private def replayLive(table: String, v: Long)
      : (scala.collection.mutable.LinkedHashMap[String, Option[(Long, Long)]],
         scala.collection.mutable.LinkedHashMap[String, (String, Set[String])]) = {
    val live = scala.collection.mutable.LinkedHashMap[String, Option[(Long, Long)]]()
    val dvs = scala.collection.mutable.LinkedHashMap[String, (String, Set[String])]()
    (0L to v).foreach { c =>
      val f = commitFile(table, c)
      require(Files.exists(f), s"TxnLog: missing commit $c at $table (log is torn)")
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.foreach {
        case StatsRe(file, kmin, kmax) => live(file) = Some((kmin.toLong, kmax.toLong))
        case DvRe(file, key, scope)    =>
          dvs(file) = (key, scope.split(';').filter(_.nonEmpty).toSet)
        case ActionRe("add", file)     => live(file) = None
        case ActionRe("remove", file)  =>
          require(live.remove(file).isDefined || dvs.remove(file).isDefined,
            s"TxnLog: commit $c removes unknown file $file")
        case HeaderRe(_, _, _, _) => ()
        case other => sys.error(s"TxnLog: unparseable action in commit $c: $other")
      }
    }
    (live, dvs)
  }

  /** Live deletion vectors at `asOf` (default: latest). */
  def liveDeleteVectors(table: String, asOf: Option[Long] = None): Seq[DvStat] =
    replayAt(table, asOf)._2.toSeq.map { case (f, (key, scope)) => DvStat(f, key, scope) }

  /** Live data files at `asOf` (default: latest), by commit replay. */
  def liveFiles(table: String, asOf: Option[Long] = None): Seq[String] =
    liveFileStats(table, asOf).map(_.file)

  /** Atomically publish one commit of adds/removes. Data files MUST
    * already be on disk. Returns the committed version. A concurrent
    * writer racing to the same version loses with a precise error (its
    * data files stay invisible orphans) and can retry.
    */
  def commit(table: String, adds: Seq[String], removes: Seq[String],
             op: String = "commit"): Long = {
    val version = latestVersion(table) + 1
    commitAt(table, version, adds, removes, op)
    version
  }

  /** Publish one specific version (the optimistic-concurrency gate
    * commit() rides). The commit file is written to a temp name, then
    * published with an atomic HARD LINK — createLink fails if the target
    * exists, on every POSIX filesystem. (A rename/ATOMIC_MOVE is the
    * WRONG gate here: POSIX rename silently REPLACES an existing target,
    * so a racing writer would overwrite the winner's commit — caught by
    * TxnLogSpec's race test.)
    */
  private[graft] def commitAt(table: String, version: Long,
                              adds: Seq[String], removes: Seq[String],
                              op: String = "commit"): Unit =
    commitLines(table, version, adds.map(actionLine("add", _)), removes, op)

  private def commitLines(table: String, version: Long,
                          addLines: Seq[String], removes: Seq[String],
                          op: String): Unit = {
    require(op.nonEmpty && op.forall(c => c >= 'a' && c <= 'z'),
      s"TxnLog: op tag must be lowercase ascii, got '$op'")
    Files.createDirectories(logPath(table))
    val body = (Seq(s"""{"commit":$version,"op":"$op","n_add":${addLines.size},"n_remove":${removes.size}}""") ++
      removes.map(actionLine("remove", _)) ++ addLines)
      .mkString("", "\n", "\n")
    val tmp = Files.createTempFile(logPath(table), s".commit-$version-", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(commitFile(table, version), tmp)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"TxnLog: concurrent commit $version at $table — retry on the new snapshot", e)
    } finally Files.deleteIfExists(tmp)
  }

  /** Write df's rows as new parquet files under `table` (NOT yet visible)
    * and return their file names relative to the table root.
    */
  private def writeDataFiles(df: DataFrame, table: String): Seq[String] = {
    val parent = Paths.get(table).toAbsolutePath.getParent
    Files.createDirectories(parent)
    val staging = Files.createTempDirectory(parent, ".txn-staging-")
    df.write.mode("overwrite").parquet(staging.toString)
    val files = listDir(staging)(_
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString))
    Files.createDirectories(Paths.get(table))
    val names = files.map { f =>
      val name = f.getFileName.toString
      Files.move(f, Paths.get(table, name), StandardCopyOption.ATOMIC_MOVE)
      name
    }
    locally {
      val w = Files.walk(staging)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }
    names
  }

  /** One data file's parquet footer, read on the driver (no Spark job). */
  private def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf))
    try r.getFooter finally r.close()
  }

  /** [[writeDataFiles]] plus each new file's key range [kmin, kmax] — the
    * Delta-style stats MERGE prunes by — from the key column's row-group
    * statistics in the file's parquet footer: metadata the writer already
    * produced, so no data is re-read and no Spark job runs. Zero-row files
    * are left out (they hold no data to see). A file whose range is
    * unknown — every key NULL, a row group without statistics, or a key
    * that is not a signed INT32/INT64 parquet integer — comes back with
    * None and is committed as a plain add, which [[merge]] and
    * [[readRange]] treat conservatively.
    */
  private def writeDataFilesKeyed(df: DataFrame, table: String, keyCol: String)
      : Seq[(String, Option[(Long, Long)])] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    writeDataFiles(df, table).flatMap { f =>
      val groups = footer(conf, Paths.get(table, f)).getBlocks.asScala.toSeq
        .filter(_.getRowCount > 0)
      if (groups.isEmpty) None else Some(f -> keyRange(groups, keyCol))
    }
  }

  /** Min/max of `keyCol` over row groups, None when any group's range is
    * unknown or no group holds a non-NULL key.
    */
  private def keyRange(groups: Seq[BlockMetaData], keyCol: String): Option[(Long, Long)] = {
    val ranges = groups.map { g =>
      g.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(keyCol))) match {
        case Some(c) if integral(c.getPrimitiveType) =>
          c.getStatistics match {
            case null                       => None
            case st if st.isEmpty           => None
            case st if !st.hasNonNullValue  => Some(None) // all-NULL group
            case st: IntStatistics  => Some(Some((st.getMin.toLong, st.getMax.toLong)))
            case st: LongStatistics => Some(Some((st.getMin, st.getMax)))
            case _                          => None
          }
        case _ => None
      }
    }
    if (ranges.contains(None)) None
    else ranges.flatten.flatten.reduceOption((a, b) =>
      (math.min(a._1, b._1), math.max(a._2, b._2)))
  }

  private def integral(t: org.apache.parquet.schema.PrimitiveType): Boolean =
    (t.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
      t.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
      (t.getLogicalTypeAnnotation match {
        case null                        => true
        case i: IntLogicalTypeAnnotation => i.isSigned
        case _                           => false
      })

  /** Publish keyed adds: stats where the range is known, plain otherwise. */
  private def commitKeyed(table: String, adds: Seq[(String, Option[(Long, Long)])],
                          removes: Seq[String], op: String): Long = {
    val version = latestVersion(table) + 1
    commitLines(table, version, adds.map { case (f, kr) => addLine(f, kr) }, removes, op)
    version
  }

  /** Create the table at version 0 (fails if a log already exists). */
  def init(df: DataFrame, table: String): Long = {
    require(latestVersion(table) < 0, s"TxnLog: $table already initialized")
    commit(table, writeDataFiles(df, table), Nil, "init")
  }

  /** [[init]] recording per-file min/max stats of `keyCol` — required for
    * [[merge]]'s file pruning to skip anything.
    */
  def initKeyed(df: DataFrame, table: String, keyCol: String): Long = {
    require(latestVersion(table) < 0, s"TxnLog: $table already initialized")
    commitKeyed(table, writeDataFilesKeyed(df, table, keyCol), Nil, "init")
  }

  /** [[append]] recording per-file key stats (keeps [[merge]] prunable). */
  def appendKeyed(df: DataFrame, table: String, keyCol: String): Long =
    commitKeyed(table, writeDataFilesKeyed(df, table, keyCol), Nil, "append")

  /** MERGE (upsert) `updates` into the table by `keyCol`, Delta-style:
    * rows whose key matches an existing row replace it; new keys append.
    * A NULL key matches no row (SQL equality), so its update row is
    * appended and existing NULL-key rows stay. File-granular copy-on-write
    * with data skipping: only live files whose [kmin, kmax] stat range
    * CONTAINS an update key are read and rewritten — every other file is
    * untouched (not read, not moved), which is what makes a small daily
    * upsert into a 100 TB table cost O(touched files), not O(table).
    * Files without stats (plain init/append, all-NULL keys) are
    * conservatively rewritten. The rewritten files get footer key stats
    * like [[appendKeyed]]'s.
    *
    * The distinct update keys are collected to the driver (sorted array +
    * binary search per file range) — batch-sized by contract, same bound
    * as a broadcast join's build side. A huge backfill batch should use
    * [[overwrite]] instead.
    */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            keyCol: String): Long = {
    import org.apache.spark.sql.functions._
    // copy-on-write rewrite reads raw file rows, which would resurrect
    // dv-deleted rows it copies — require materialization first
    require(liveDeleteVectors(table).isEmpty,
      s"TxnLog.merge: $table has live deletion vectors — compact first")
    // the distinct keys in their own type, as a local relation: the
    // anti-join below reads it instead of evaluating the batch again, and
    // the generated code does not depend on the key values
    val keySide = updates.select(col(keyCol))
    val distinctKeys = keySide.distinct().collect()
    require(distinctKeys.nonEmpty, "TxnLog.merge: empty update batch")
    val keys = spark.createDataFrame(distinctKeys.toSeq.asJava, keySide.schema)
    // NULL keys match nothing, so they prune nothing; the cast runs on the
    // driver over the local relation (no job)
    val upKeys = keys.select(col(keyCol).cast("long")).collect()
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted
    def overlaps(lo: Long, hi: Long): Boolean = {
      // any update key in [lo, hi]? — binary search for the first >= lo
      val i = java.util.Arrays.binarySearch(upKeys, lo)
      val first = if (i >= 0) i else -(i + 1)
      first < upKeys.length && upKeys(first) <= hi
    }
    val (touched, skipped) = liveFileStats(table).partition {
      case FileStat(_, Some((lo, hi))) => overlaps(lo, hi)
      case FileStat(_, None)           => true // no stats: rewrite conservatively
    }
    val survivors =
      if (touched.isEmpty) updates
      else scan(spark, table, touched.map(_.file))
        .join(broadcast(keys), Seq(keyCol), "left_anti")
        .unionByName(updates)
    val adds = writeDataFilesKeyed(survivors, table, keyCol)
    val v = commitKeyed(table, adds, touched.map(_.file), "merge")
    // merge cost transparency: callers/tests can assert the skip worked
    lastMergeSkipped.set(skipped.size)
    v
  }

  /** Files the most recent [[merge]] on this JVM left untouched —
    * observability hook for specs/ops (not part of the data contract).
    */
  val lastMergeSkipped = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Exactly-once micro-batch append: commit `df` as exactly `version`,
    * or do NOTHING if that version (or a later one) is already committed
    * — the idempotence a Structured Streaming foreachBatch sink needs,
    * since Spark replays a micro-batch id after a crash between "sink ran"
    * and "offsets committed". Version = batchId works because batch ids
    * are dense from 0 per checkpointed query, exactly like commit ids. A
    * replayed batch's staged files (if the crash was mid-write) stay
    * invisible orphans; the winning commit is never touched. Returns
    * whether this call committed.
    */
  def commitBatch(df: DataFrame, table: String, version: Long): Boolean =
    if (latestVersion(table) >= version) false
    else {
      try { commitAt(table, version, writeDataFiles(df, table), Nil, "append"); true }
      catch { case _: IllegalStateException => false } // lost the replay race
    }

  /** Exactly-once micro-batch MERGE: upsert `updates` as exactly version
    * `version` (batchId + 1 — version 0 is the initKeyed base), or do
    * NOTHING if that version is already committed. The streaming CDC
    * apply into a lakehouse table: each micro-batch of changes lands
    * file-granularly ([[merge]]'s stat pruning), a crash-replayed batch
    * is a structural no-op, and readers time-travel to the table as of
    * any batch. Requires dense versions, which checkpointed batch ids
    * guarantee.
    */
  def mergeBatch(spark: SparkSession, table: String, updates: DataFrame,
                 keyCol: String, version: Long): Boolean = {
    val latest = latestVersion(table)
    if (latest >= version) false
    else {
      require(latest == version - 1,
        s"TxnLog.mergeBatch: version gap — latest $latest, merging $version " +
          s"(a skipped micro-batch would corrupt replay idempotence)")
      merge(spark, table, updates, keyCol)
      true
    }
  }

  /** Append rows — new files only, existing data never rewritten. */
  def append(df: DataFrame, table: String): Long =
    commit(table, writeDataFiles(df, table), Nil, "append")

  /** Copy-on-write overwrite: replace the whole live set with df in ONE
    * commit (readers see the old or the new snapshot, never a mix).
    */
  def overwrite(df: DataFrame, table: String): Long =
    commit(table, writeDataFiles(df, table), liveFiles(table), "overwrite")

  /** Compaction as a metadata swap: rewrite the current snapshot into
    * `numFiles` files; one commit adds them and removes the old set. Old
    * versions still time-travel (removed files stay on disk).
    */
  def compact(spark: SparkSession, table: String, numFiles: Int): Long = {
    val old = liveFiles(table)
    val dvs = liveDeleteVectors(table).map(_.file)
    // read() applies live deletion vectors, so the rewrite MATERIALIZES
    // the deletes: the compacted snapshot carries no tombstones, and the
    // swap removes data files AND dvs in the same atomic commit
    val adds = writeDataFiles(read(spark, table).repartition(numFiles), table)
    commit(table, adds, old ++ dvs, "compact")
  }

  /** RESTORE to a prior version as a NEW commit — metadata only: the
    * commit re-adds the target snapshot's file set and removes the
    * current one, so no data bytes move (the files still exist unless
    * vacuumed — restore below the vacuum floor fails fast in replay).
    * History keeps both timelines: the bad versions stay auditable, and
    * the restore itself is one more audited commit — Delta's RESTORE
    * contract, not a log rewind. Live deletion vectors of the target
    * version are restored with it.
    */
  def restore(table: String, toVersion: Long): Long = {
    val (targetData, targetDvs) = replayLive(table, {
      val last = latestVersion(table)
      require(toVersion >= minVersion(table) && toVersion <= last,
        s"TxnLog: cannot restore to $toVersion (floor ${minVersion(table)}, latest $last)")
      toVersion
    })
    val (curData, curDvs) = replayLive(table, latestVersion(table))
    val target = targetData.keySet ++ targetDvs.keySet
    val cur = curData.keySet ++ curDvs.keySet
    val addLines =
      targetData.filterNot { case (f, _) => cur(f) }
        .map { case (f, kr) => addLine(f, kr) }.toSeq ++
      targetDvs.filterNot { case (f, _) => cur(f) }.map {
        case (f, (key, scope)) => dvActionLine(f, key, scope.toSeq.sorted)
      }
    val removes = cur.toSet.diff(target.toSet).toSeq
    val version = latestVersion(table) + 1
    commitLines(table, version, addLines, removes, "restore")
    version
  }

  /** Merge-on-read DELETE (the Iceberg/Hudi deletion-vector pattern):
    * instead of rewriting every file that contains a matching row
    * (copy-on-write — [[merge]]'s shape), commit a KB-sized tombstone
    * parquet of deleted keys; [[read]] subtracts it with an anti-join and
    * [[compact]] materializes it away. At 100 TB this is the difference
    * between "delete 0.1% of rows → rewrite 100 TB" and "delete 0.1% of
    * rows → write KBs now, fold the rewrite into the next scheduled
    * compaction". GDPR-erasure and retention jobs are this op.
    * `keys` must be a one-column frame of the deleted key values.
    */
  def deleteWhere(spark: SparkSession, table: String, keys: DataFrame,
                  keyCol: String): Long = {
    require(keys.columns.length == 1,
      s"TxnLog: keys frame must have exactly one column, got ${keys.columns.mkString(",")}")
    val existingKeys = liveDeleteVectors(table).map(_.key).distinct
    require(existingKeys.isEmpty || existingKeys == Seq(keyCol),
      s"TxnLog: mixed dv key columns (${existingKeys.mkString(",")} vs $keyCol)")
    // scope = data files live NOW: a later append of a deleted key is a
    // new file outside the scope, so it is visible (DELETE-then-INSERT)
    val scope = liveFiles(table)
    val files = writeDataFiles(
      keys.toDF(keyCol).distinct().coalesce(1), table)
    val version = latestVersion(table) + 1
    commitLines(table, version,
      files.map(dvActionLine(_, keyCol, scope)), Nil, "delete")
    version
  }

  /** One audited commit, as [[history]] reports it. `nLiveAfter` is the
    * size of the live file set the moment this commit landed.
    */
  final case class CommitInfo(version: Long, op: String,
                              nAdd: Int, nRemove: Int, nLiveAfter: Int)

  /** DESCRIBE HISTORY: the full audit trail, one row per commit, from the
    * headers alone — no data file is opened, so this is KB-of-JSON cheap
    * regardless of table size, and it survives [[vacuum]] (commit files
    * are never deleted, only pre-floor data bytes). Headers written before
    * the op tag existed report op = "commit".
    */
  def history(table: String): Seq[CommitInfo] = {
    val last = latestVersion(table)
    require(last >= 0, s"TxnLog: no log at $table/$LogDir")
    var nLive = 0
    (0L to last).map { c =>
      val f = commitFile(table, c)
      require(Files.exists(f), s"TxnLog: missing commit $c at $table (log is torn)")
      val header = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.head
      header match {
        case HeaderRe(v, op, nAdd, nRemove) =>
          require(v.toLong == c, s"TxnLog: commit file $c has header version $v")
          nLive += nAdd.toInt - nRemove.toInt
          CommitInfo(c, Option(op).getOrElse("commit"),
            nAdd.toInt, nRemove.toInt, nLive)
        case other => sys.error(s"TxnLog: unparseable header in commit $c: $other")
      }
    }
  }

  /** Data-skipping snapshot read: scan ONLY live files whose key stats
    * overlap [lo, hi], then apply the residual filter (a surviving file
    * may still hold out-of-range keys). The log-level skip happens before
    * Spark ever lists the file, on KB-sized driver metadata — at 100 TB
    * this is the difference between "open 3 files" and "footer-check a
    * million": parquet row-group stats only prune AFTER every footer is
    * read. Files without stats are conservatively scanned. Returns the
    * number of files skipped alongside the frame (spec observability).
    */
  def readRange(spark: SparkSession, table: String, keyCol: String,
                lo: Long, hi: Long, asOf: Option[Long] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.col
    require(lo <= hi, s"TxnLog.readRange: empty range [$lo, $hi]")
    require(liveDeleteVectors(table, asOf).isEmpty,
      s"TxnLog.readRange: $table has live deletion vectors — compact first " +
        "(stats-pruned scans cannot apply merge-on-read deletes)")
    val all = liveFileStats(table, asOf)
    val (hit, skip) = all.partition {
      case FileStat(_, Some((fLo, fHi))) => fLo <= hi && lo <= fHi
      case FileStat(_, None)             => true
    }
    require(hit.nonEmpty || all.isEmpty,
      s"TxnLog.readRange: no file overlaps [$lo, $hi]; empty result has no schema " +
        s"— widen the range or use read()")
    val df = scan(spark, table, hit.map(_.file))
      .filter(col(keyCol).cast("long").between(lo, hi))
    (df, skip.size)
  }

  private def vacuumMarker(table: String): Path =
    logPath(table).resolve("_vacuum")

  /** Oldest version still time-travelable (0 unless [[vacuum]] ran). */
  def minVersion(table: String): Long = {
    val m = vacuumMarker(table)
    if (Files.exists(m))
      new String(Files.readAllBytes(m), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** VACUUM: physically delete data files referenced ONLY by versions
    * older than `latest − retainVersions`, and record the new time-travel
    * floor. Reads at or above the floor are untouched; a read below it
    * fails fast with a precise error instead of a missing-file crash
    * mid-scan. Commit files are never deleted (the log stays an auditable
    * history of WHAT changed — only the bytes are gone), and files still
    * live in ANY retained version are never touched — so unlike a naive
    * mtime-based cleanup this cannot break a concurrent reader pinned to
    * a retained snapshot. Returns the file names deleted.
    */
  def vacuum(table: String, retainVersions: Int): Seq[String] = {
    require(retainVersions >= 0, "retainVersions must be >= 0")
    val last = latestVersion(table)
    require(last >= 0, s"TxnLog: no log at $table/$LogDir")
    val cutoff = math.max(minVersion(table), last - retainVersions)
    val retainedLive: Set[String] =
      (cutoff to last).flatMap(v =>
        liveFiles(table, Some(v)) ++ liveDeleteVectors(table, Some(v)).map(_.file)).toSet
    // every file ever added (replay all commits, adds only — dv
    // tombstones are files too and must be reclaimed once off-floor)
    val everAdded = scala.collection.mutable.LinkedHashSet[String]()
    (0L to last).foreach { c =>
      Files.readAllLines(commitFile(table, c), StandardCharsets.UTF_8)
        .asScala.foreach {
          case StatsRe(file, _, _)   => everAdded += file
          case DvRe(file, _, _)      => everAdded += file
          case ActionRe("add", file) => everAdded += file
          case _                     => ()
        }
    }
    // publish the floor BEFORE the deletes: from this instant sub-floor
    // reads fail fast with the precise "vacuumed away" error, so a crash
    // mid-delete can only leave ORPHAN BYTES (a rerun removes them and
    // reports them) — never a readable-looking version with missing
    // files. The reverse order would open exactly that window.
    Files.write(vacuumMarker(table),
      (cutoff.toString + "\n").getBytes(StandardCharsets.UTF_8))
    // report only files this call actually removed — a re-run over an
    // already-vacuumed log is an honest no-op
    everAdded.toSet.diff(retainedLive.toSet).toSeq
      .filter(f => Files.deleteIfExists(Paths.get(table, f)))
  }

  /** Snapshot read at `asOf` (default: latest) — scans live files only.
    * The default schema is the FIRST live file's (in log order), read
    * from its parquet footer on the driver, so building the read runs no
    * Spark job and the schema does not depend on file names.
    * `mergeSchema = true` is the schema-evolution read: the snapshot's
    * schema is the UNION of every live file's footer schema (Spark's
    * merged inference, one job), and files written before a column
    * existed surface NULL for it — Delta's additive column evolution,
    * paid for only when asked.
    */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val files = liveFiles(table, asOf)
    if (files.isEmpty)
      // empty snapshot: preserve "no rows" without a schema source
      sys.error(s"TxnLog: empty snapshot at $table (asOf=$asOf) has no schema")
    withDeletes(spark, table, files, liveDeleteVectors(table, asOf), mergeSchema)
  }

  /** `files` of `table` with the deletion vectors `dvs` applied. */
  private def withDeletes(spark: SparkSession, table: String, files: Seq[String],
                          dvs: Seq[DvStat], mergeSchema: Boolean): DataFrame = {
    def readFiles(fs: Seq[String]) = scan(spark, table, fs, mergeSchema)
    if (dvs.isEmpty) readFiles(files)
    else {
      val keyCols = dvs.map(_.key).distinct
      require(keyCols.size == 1,
        s"TxnLog: mixed dv key columns at $table: ${keyCols.mkString(",")}")
      val key = keyCols.head
      import org.apache.spark.sql.functions.{broadcast, col}
      // Scoped subtraction: a dv applies only to the data files that were
      // live when the delete committed, so post-delete appends of the
      // same key stay visible. Files sharing a dv-membership signature
      // read together; tombstones are KB-sized by contract → broadcast
      // anti-join, a map-side filter, no shuffle.
      val inScope = files.filter(f => dvs.exists(_.scope(f)))
      val free = files.filterNot(f => dvs.exists(_.scope(f)))
      val bySignature = inScope.groupBy(f => dvs.filter(_.scope(f)).map(_.file))
      val subtracted = bySignature.toSeq.map { case (dvFiles, dataFiles) =>
        val dead = scan(spark, table, dvFiles)
          .select(col(key).as("__graft_dv_key")).distinct()
        val base = readFiles(dataFiles)
        base.join(broadcast(dead), base(key) === col("__graft_dv_key"), "left_anti")
      }
      val parts = subtracted ++ (if (free.nonEmpty) Seq(readFiles(free)) else Nil)
      // scope groups may expose different column sets under mergeSchema —
      // union by name with NULL padding, the same additive-evolution
      // semantics the single-group read has
      parts.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Zero-copy CLONE: create `dst` as a new TxnLog table whose version 0
    * is `src`'s snapshot at `asOf`, by HARD-LINKING the live data files —
    * no bytes are copied, yet the tables are fully independent afterwards
    * (a commit to either never touches the other; deleting a link leaves
    * the other table's link intact — which also means [[vacuum]] on one
    * side only unlinks its own name). Per-file key stats carry over, so
    * [[merge]] prunes on the clone exactly as on the source. The
    * dev/staging-copy and experiment-fork story: forking a 100 TB table
    * costs one KB commit + one directory of hard links.
    */
  def clone(src: String, dst: String, asOf: Option[Long] = None): Long = {
    require(latestVersion(dst) < 0, s"TxnLog: $dst already initialized")
    val stats = liveFileStats(src, asOf)
    require(stats.nonEmpty, s"TxnLog: refusing to clone an empty snapshot of $src")
    Files.createDirectories(Paths.get(dst))
    stats.foreach(f =>
      Files.createLink(Paths.get(dst, f.file), Paths.get(src, f.file)))
    // one commit carrying every link; stats ride along where the source had them
    commitLines(dst, 0, stats.map(f => addLine(f.file, f.keyRange)), Nil, "clone")
    0L
  }

  /** File-level change scope between two versions, from the log alone:
    * (the data files of `v0` whose visible rows may differ at `v1`, and
    * the data files of `v1` whose visible rows may differ at `v0`). A file
    * live at one version only is on that side. A file live at both whose
    * set of scoping deletion vectors differs (a delete, a compaction that
    * retires a tombstone, a restore) is on BOTH sides: its bytes are the
    * same, its visible rows are not. Every other file shows the same rows
    * at both versions and need never be read. Read each side with
    * [[readFiles]] at its own version, which applies that version's
    * deletion vectors; every row that differs between the snapshots is
    * then in one of the two reads. This is the input to the incremental
    * version diff: cost O(changed files), not O(table).
    */
  def changedFiles(table: String, v0: Long, v1: Long): (Seq[String], Seq[String]) = {
    val (s0, s1) = (scopedFiles(table, v0), scopedFiles(table, v1))
    val (m0, m1) = (s0.toMap, s1.toMap)
    (s0.collect { case (f, dvs) if !m1.get(f).contains(dvs) => f },
      s1.collect { case (f, dvs) if !m0.get(f).contains(dvs) => f })
  }

  /** The data files live at `v`, each with the live deletion vectors whose
    * scope holds it.
    */
  private def scopedFiles(table: String, v: Long): Seq[(String, Set[String])] = {
    val (live, dvs) = replayAt(table, Some(v))
    live.keys.toSeq.map(f => f -> dvs.collect { case (dv, (_, scope)) if scope(f) => dv }.toSet)
  }

  /** Read a subset of `table`'s data files live at `asOf` (default: the
    * latest version) as that version shows them: the deletion vectors live
    * at `asOf` apply to the files they scope. The schema is the first
    * listed file's footer schema. Reads a side of [[changedFiles]].
    */
  def readFiles(spark: SparkSession, table: String, files: Seq[String],
                asOf: Option[Long] = None): DataFrame = {
    require(files.nonEmpty, "TxnLog.readFiles: empty file list has no schema")
    val dead = files.filterNot(liveFiles(table, asOf).toSet)
    require(dead.isEmpty, s"TxnLog.readFiles: ${dead.mkString(", ")} not live at " +
      s"version ${asOf.getOrElse(latestVersion(table))} of $table")
    withDeletes(spark, table, files, liveDeleteVectors(table, asOf), mergeSchema = false)
  }

  /** Spark's own schema string, stored in every parquet footer it writes. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Parquet scan of `files` under `table`. The schema is the first
    * file's, taken from its footer on the driver and handed to the
    * reader, so Spark skips its one-task schema-inference job.
    * `mergeSchema = true` keeps Spark's merged inference over every
    * footer; so does a first file written without Spark's schema metadata
    * (possible only through [[commit]]).
    */
  private def scan(spark: SparkSession, table: String, files: Seq[String],
                   mergeSchema: Boolean = false): DataFrame = {
    val paths = files.map(f => Paths.get(table, f))
    val reader = spark.read.option("mergeSchema", mergeSchema.toString)
    val schema =
      if (mergeSchema) None
      else Option(footer(spark.sparkContext.hadoopConfiguration, paths.head)
          .getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    schema.fold(reader)(reader.schema).parquet(paths.map(_.toString): _*)
  }
}
