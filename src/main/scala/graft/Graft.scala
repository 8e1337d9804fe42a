package graft

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators._

/** Public facade — the one-stop API surface of the library.
  *
  * Diff (the reference capability): keyed row-level diff of two DataFrames
  * with N/C/I/D statuses, plus the derived reports. Pipeline (the 100 TB
  * extensions): dedup, similarity search/join, text analysis, multimodal
  * columns. Every method is a thin delegate to the operator modules, which
  * carry the scale notes; a user of the upstream differ switches by
  * calling `Graft.diff(left, right, keys)`.
  */
object Graft {

  // ---- diff core (operators.Differ) -----------------------------------

  def diff(left: DataFrame, right: DataFrame, keys: Seq[String],
           opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.diff(left, right, keys, opts)

  /** Typed entry point: diff two `Dataset[T]`s of the same case class —
    * the compiler guarantees the schemas agree (the untyped form checks at
    * runtime). The result stays a DataFrame: diff output is inherently
    * dynamic (left_/right_ column pairs + a status), so no fixed `T`
    * describes it.
    */
  def diffTyped[T](left: org.apache.spark.sql.Dataset[T],
                   right: org.apache.spark.sql.Dataset[T],
                   keys: Seq[String],
                   opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.diff(left.toDF(), right.toDF(), keys, opts)

  /** Two-phase hash diff: shuffles 32-byte hashes first, fetches full rows
    * only for differing keys. Returns only non-N rows — the 100 TB path.
    */
  def diffLarge(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    Differ.diffViaHash(left, right, keys)

  /** UNKEYED multiset diff for tables with no reliable primary key:
    * per distinct row, n_left/n_right multiplicities + N/I/D/C status.
    */
  def diffUnkeyed(left: DataFrame, right: DataFrame): DataFrame =
    Differ.diffUnkeyed(left, right)

  def diffSummary(left: DataFrame, right: DataFrame, keys: Seq[String],
                  opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.summary(left, right, keys, opts)

  /** The composed human-readable report (counts / status census /
    * per-column stats / example rows) as one long-format typed frame.
    * Lazy: building it runs no job, and running it reads the diff join
    * once; see [[operators.Differ.report]].
    */
  def diffReport(left: DataFrame, right: DataFrame, keys: Seq[String],
                 exampleOn: String, opts: DiffOptions = DiffOptions(),
                 k: Int = 5): DataFrame =
    Differ.report(left, right, keys, exampleOn, opts, k)

  /** Continuous diff: classify arriving rows (batch or readStream) against
    * a static snapshot as I/C/N via a stateless stream-static left join.
    */
  def diffVsStatic(stream: DataFrame, snapshot: DataFrame, keys: Seq[String],
                   opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.diffVsStatic(stream, snapshot, keys, opts)

  /** Directional containment (datacompy `subset()`): one-row census with
    * an is_subset verdict bit — is every candidate row present in the
    * reference with equal values?
    */
  def isSubset(candidate: DataFrame, reference: DataFrame, keys: Seq[String],
               opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.subsetCheck(candidate, reference, keys, opts)

  def onlyInLeft(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    Differ.onlyInLeft(left, right, keys)

  def onlyInRight(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    Differ.onlyInRight(left, right, keys)

  def changed(left: DataFrame, right: DataFrame, keys: Seq[String],
              opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.changed(left, right, keys, opts)

  def unchanged(left: DataFrame, right: DataFrame, keys: Seq[String],
                opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.unchanged(left, right, keys, opts)

  def columnStats(left: DataFrame, right: DataFrame, keys: Seq[String],
                  opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.columnStats(left, right, keys, opts)

  def changedCols(left: DataFrame, right: DataFrame, keys: Seq[String],
                  opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.changedCols(left, right, keys, opts)

  def numericStats(left: DataFrame, right: DataFrame, keys: Seq[String],
                   opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.numericStats(left, right, keys, opts)

  def schemaDiff(left: DataFrame, right: DataFrame): DataFrame =
    Differ.schemaDiff(left.sparkSession, left, right)

  /** Bucket-pruned snapshot diff: clean buckets (equal content digests)
    * are never re-read; classification runs on dirty buckets only.
    */
  def diffIncremental(left: DataFrame, right: DataFrame, keys: Seq[String],
                      buckets: Int = 64): DataFrame =
    Differ.diffIncremental(left, right, keys, buckets)

  /** CDC merge: apply a diff changeset to the base snapshot —
    * `applyChangeset(left, diff(left, right), keys) == right`.
    *
    * Tuned for diff-sized (low-churn) changesets: the removed-key side is
    * broadcast only while its size estimate fits the session's broadcast
    * threshold; a bulk-churn changeset degrades to a shuffle anti-join
    * rather than OOMing the driver (see [[operators.Differ.applyChangeset]]).
    */
  def applyChangeset(base: DataFrame, changes: DataFrame,
                     keys: Seq[String]): DataFrame =
    Differ.applyChangeset(base, changes, keys)

  /** CDC rollback: invert a changeset so it describes the reverse
    * transition — `applyChangeset(right, invertChangeset(diff(l, r))) == l`.
    * Pure projection over the diff-sized artifact (zero joins/shuffles).
    */
  def invertChangeset(changes: DataFrame): DataFrame =
    Differ.invertChangeset(changes)

  /** Duplicate-key rank-matched diff (datacompy's temp_row_number
    * semantics): rows rank within their key group by the order
    * `opts.dupPairing` selects (value fingerprint by default;
    * [[operators.DupPairing.ByValue]] for closest pairing), then the
    * standard diff runs on (key, rank); surplus ranks become I/D.
    */
  def diffDupKeyRank(left: DataFrame, right: DataFrame, keys: Seq[String],
                     opts: DiffOptions = DiffOptions()): DataFrame =
    Differ.diffDupKeyRank(left, right, keys, opts)

  /** Changeset composition (diff algebra): fold base→v1 and v1→v2
    * changesets into the net base→v2 changeset without re-reading either
    * snapshot — `composeChangesets(diff(a,b), diff(b,c), keys) ==
    * diff(a,c)` minus N. Round-trips cancel; insert-then-delete vanishes.
    */
  def composeChangesets(d1: DataFrame, d2: DataFrame,
                        keys: Seq[String]): DataFrame =
    Differ.composeChangesets(d1, d2, keys)

  /** Incremental SCD2 maintenance: apply a v→v+1 changeset to an
    * existing history — close C/D keys' current intervals at `newVersion`,
    * open fresh current rows for C/I. Changeset-sized work;
    * `applyScd2(scd2(v0..v), diff(v, v+1)) == scd2(v0..v+1)`.
    */
  def applyScd2(dim: DataFrame, changes: DataFrame, keys: Seq[String],
                newVersion: Long): DataFrame =
    Differ.applyScd2(dim, changes, keys, newVersion)

  /** Top-k rank drift between snapshots: entered/exited/up/down/held per
    * key in either side's top k by `scoreCol` (desc, key tie-break), with
    * the signed rank delta on survivors.
    */
  def rankDrift(left: DataFrame, right: DataFrame, keys: Seq[String],
                scoreCol: String, k: Int): DataFrame =
    Differ.rankDrift(left, right, keys, scoreCol, k)

  /** Three-way keyed merge (git-style): per key, branch statuses vs base
    * and an N/L/R/A/X verdict with the mechanical resolution applied;
    * conflicts surface as NULL-payload rows, never silently resolved.
    */
  def merge3(base: DataFrame, left: DataFrame, right: DataFrame,
             keys: Seq[String]): DataFrame =
    Differ.merge3(base, left, right, keys)

  /** Diff across a column rename: `columnMap` maps left names to right
    * names; the right side is rebound before the diff.
    */
  def diffMapped(left: DataFrame, right: DataFrame, keys: Seq[String],
                 columnMap: Map[String, String]): DataFrame =
    Differ.diffMapped(left, right, keys, columnMap)

  /** Diff a RENAMED table with zero user input: discovers the column map
    * by distinct-value overlap and feeds it into [[diffMapped]]; ambiguous
    * or partial matches fail loudly naming every candidate with its ppm.
    */
  def diffAutoMapped(left: DataFrame, right: DataFrame,
                     keys: Seq[String]): DataFrame =
    Differ.diffAutoMapped(left, right, keys)

  /** Catalog-level multi-table diff sweep: per table pair, the 4-status
    * census + schema add/drop/retype rows, each row carrying a per-table
    * pass/fail verdict — one long-format report, one job.
    */
  def catalogDiff(pairs: Seq[(String, DataFrame, DataFrame, Seq[String])]): DataFrame =
    Differ.catalogDiff(pairs)

  /** Catalog-wide COLUMN drift census (r15): per (table, column), the
    * count of key-matched rows differing in that column, with the pair's
    * matched-row count as denominator — "which column drifted,
    * catalog-wide?"
    */
  def catalogDiffCols(pairs: Seq[(String, DataFrame, DataFrame, Seq[String])]): DataFrame =
    Differ.catalogDiffCols(pairs)

  /** Catalog-SOURCED column drift census (r15): the column census over
    * every catalog table matching the regex, keys elected or overridden
    * like [[catalogDiffTables]]; un-censusable tables survive as note
    * rows.
    */
  def catalogDiffTablesCols(spark: org.apache.spark.sql.SparkSession,
                            pattern: String, rightFor: String => String,
                            keysFor: Map[String, Seq[String]] = Map.empty)
      : DataFrame =
    Differ.catalogDiffTablesCols(spark, pattern, rightFor,
      operators.DiffOptions(), keysFor)

  /** Catalog-SOURCED sweep (r14): every catalog table matching the regex
    * diffs against `rightFor(name)` with keys auto-inferred (unique +
    * null-free on BOTH sides); unusable tables become error rows, never
    * exceptions.
    */
  def catalogDiffTables(spark: org.apache.spark.sql.SparkSession,
                        pattern: String, rightFor: String => String,
                        keysFor: Map[String, Seq[String]] = Map.empty)
      : DataFrame =
    Differ.catalogDiffTables(spark, pattern, rightFor,
      operators.DiffOptions(), keysFor)

  /** TxnLog-DIRECTORY sweep (r14): every TxnLog table under `rootDir`
    * diffs its previous snapshot against its latest, version-pinned.
    * Version endpoints override per side (r15: "v0→v2, per table");
    * timestamp endpoints (`fromTs`/`toTs`, epoch millis) resolve per
    * table to the latest version committed at-or-before the instant
    * (r15: "what changed since Monday 09:00?").
    */
  def catalogDiffTxnLog(spark: org.apache.spark.sql.SparkSession,
                        rootDir: String,
                        fromVer: Option[Long] = None,
                        toVer: Option[Long] = None,
                        fromTs: Option[Long] = None,
                        toTs: Option[Long] = None,
                        keysFor: Map[String, Seq[String]] = Map.empty): DataFrame =
    Differ.catalogDiffTxnLog(spark, rootDir, DiffOptions(),
      fromVer, toVer, fromTs, toTs, keysFor)

  /** Non-throwing auto-map census (r14): the candidate grid
    * [[diffAutoMapped]] decides from — (lc, rc, n_shared, overlap_ppm,
    * verdict) with mapped/ambiguous/conflict/partial/below/drop verdicts.
    */
  def autoMapReport(left: DataFrame, right: DataFrame,
                    keys: Seq[String]): DataFrame =
    Differ.autoMapReport(left, right, keys)

  /** Stream-STREAM keyed diff: two live feeds reconciled per event-time
    * window per key (I/C/N/D emitted as the shared watermark closes each
    * window; O(1) state per (window, key)). Works under readStream on
    * both sides; see [[graft.streaming.StreamOps.diffStreamStream]].
    */
  def diffStreams(leftFeed: DataFrame, rightFeed: DataFrame,
                  tsCol: String, keyCol: String, valCol: String,
                  widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStream(
      leftFeed, rightFeed, tsCol, keyCol, valCol, widthUs, delay).toDF()

  /** Multi-column form of [[diffStreams]]: the census max rides
    * `valCols.head`; the order-independent content digest covers the FULL
    * payload, so drift in ANY value column reads C.
    */
  def diffStreams(leftFeed: DataFrame, rightFeed: DataFrame,
                  tsCol: String, keyCol: String, valCols: Seq[String],
                  widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStream(
      leftFeed, rightFeed, tsCol, keyCol, valCols, widthUs, delay).toDF()

  /** Latest-VALUE stream-stream diff — the CDC last-write-wins sibling of
    * [[diffStreams]]: per closed (window, key), each feed's final value
    * compared under `<=>` semantics instead of the traffic census.
    */
  def diffStreamsLatest(leftFeed: DataFrame, rightFeed: DataFrame,
                        tsCol: String, keyCol: String, valCol: String,
                        widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamLatest(
      leftFeed, rightFeed, tsCol, keyCol, valCol, widthUs, delay).toDF()

  /** Multi-column form of [[diffStreamsLatest]]: the latest
    * observation carries the full numeric payload tuple; the status
    * compares per column null-safely.
    */
  def diffStreamsLatest(leftFeed: DataFrame, rightFeed: DataFrame,
                        tsCol: String, keyCol: String, valCols: Seq[String],
                        widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamLatest(
      leftFeed, rightFeed, tsCol, keyCol, valCols, widthUs, delay).toDF()

  /** HISTORICAL stream-stream census diff — [[diffStreams]]' batch
    * twin over two already-landed feeds keyed by an epoch-micros column:
    * per (window, key), count + max + the order-independent content
    * digest, one full-outer, I/C/N/D.
    */
  def diffStreamsBatch(left: DataFrame, right: DataFrame,
                       tsUsCol: String, keyCol: String, valCols: Seq[String],
                       widthUs: Long): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamBatch(
      left, right, tsUsCol, keyCol, valCols, widthUs)

  /** HISTORICAL last-write-wins diff — [[diffStreamsLatest]]'s
    * batch twin: per (window, key) each side's final payload tuple,
    * compared per column null-safely.
    */
  def diffStreamsLatestBatch(left: DataFrame, right: DataFrame,
                             tsUsCol: String, keyCol: String,
                             valCols: Seq[String], widthUs: Long): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamLatestBatch(
      left, right, tsUsCol, keyCol, valCols, widthUs)

  /** COMPOSITE/STRING-key form of [[diffStreams]]: row identity =
    * the key TUPLE — the batch differ's `keys: Seq[String]` contract on
    * the live family, with string keys (UUID CDC identities) admitted
    * natively. Output restores the typed key columns by name.
    */
  def diffStreamsKeyed(leftFeed: DataFrame, rightFeed: DataFrame,
                       tsCol: String, keys: Seq[String], valCols: Seq[String],
                       widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamKeyed(
      leftFeed, rightFeed, tsCol, keys, valCols, widthUs, delay)

  /** Composite/string-key form of [[diffStreamsLatest]]. */
  def diffStreamsLatestKeyed(leftFeed: DataFrame, rightFeed: DataFrame,
                             tsCol: String, keys: Seq[String],
                             valCols: Seq[String],
                             widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamLatestKeyed(
      leftFeed, rightFeed, tsCol, keys, valCols, widthUs, delay)

  /** ANY-TYPE payload last-write-wins diff: status on the
    * canonical payload string (DECIMAL(18,6) grain for doubles), numeric
    * columns displayed as doubles — non-numeric CDC payloads reconcile
    * too. Live form; `Batch` sibling on [[graft.streaming.StreamOps]].
    */
  def diffStreamsLatestAny(leftFeed: DataFrame, rightFeed: DataFrame,
                           tsCol: String, keys: Seq[String],
                           valCols: Seq[String],
                           widthUs: Long, delay: String): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamLatestAny(
      leftFeed, rightFeed, tsCol, keys, valCols, widthUs, delay)

  /** Composite/string-key form of [[diffStreamsBatch]]. */
  def diffStreamsBatchKeyed(left: DataFrame, right: DataFrame,
                            tsUsCol: String, keys: Seq[String],
                            valCols: Seq[String], widthUs: Long): DataFrame =
    graft.streaming.StreamOps.diffStreamStreamBatchKeyed(
      left, right, tsUsCol, keys, valCols, widthUs)

  /** SCD type-2 history from version-tagged snapshots: per key, maximal
    * constant-value version runs collapse to `[valid_from, valid_to)`
    * intervals; `valid_to` NULL marks the current row.
    */
  def scd2History(snaps: DataFrame, keys: Seq[String], versionCol: String,
                  valueCols: Seq[String], maxVersion: Long): DataFrame =
    Differ.scd2(snaps, keys, versionCol, valueCols, maxVersion)

  // ---- mergeable sketches (functions.*) -------------------------------

  /** Count-Min sketch aggregate Column (array<bigint>, d×w counters);
    * probe with [[cmsEstimate]]. Never under-counts.
    */
  def cmsAgg(key: Column): Column = functions.CountMinSketch.agg(key)

  def cmsEstimate(sketch: Column, key: Column): Column =
    functions.CountMinSketch.estimate(sketch, key)

  /** Bloom filter aggregate Column (array<bigint> bit words); probe with
    * [[bloomMightContain]] — no false negatives, so filtering a fact side
    * before a join is a lossless semi-join reduction.
    */
  def bloomAgg(key: Column): Column = functions.BloomFilter.agg(key)

  def bloomMightContain(bloom: Column, key: Column): Column =
    functions.BloomFilter.mightContain(bloom, key)

  /** HyperLogLog distinct-count estimate as a Double-valued aggregate
    * Column (2^12 registers folded internally; ≈1.6% standard error).
    */
  def hllDistinct(key: Column): Column = functions.HyperLogLog.agg(key)

  /** Bounded top-k per group as a mergeable aggregate: array of
    * (score, tie, payload) structs sorted by (score desc, tie asc) — only
    * k entries per (group, partition) ever shuffle.
    */
  def topKAgg(k: Int, score: Column, tie: Column, payload: Column): Column =
    functions.TopKHeap.agg(k, score, tie, payload)

  /** Morton z-value over two 8-bit normalized coordinates — the sort key
    * for a 2-D data-skipping layout (`repartitionByRange(z)` +
    * `sortWithinPartitions(z)` on write).
    */
  def zOrderValue(p8: Column, s8: Column): Column =
    queries.LayoutQueries.zValue(p8, s8)

  // ---- training-data pipeline (operators.TextOps / VectorOps) ---------

  def dedupExact(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    TextOps.dedupExact(docs, idCol, textCol)

  def dedupLines(docs: DataFrame, chunkTokens: Int = 3): DataFrame =
    TextOps.dedupLines(docs, chunkTokens)

  def nearDupPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    TextOps.nearDupPairs(docs, minJaccard)

  def nearDupPairsLsh(docs: DataFrame, minJaccard: Double, bands: Int = 4): DataFrame =
    TextOps.minHashLshPairs(docs, minJaccard, bands)

  def simHashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    TextOps.simHashPairs(docs, maxHamming)

  /** Asymmetric containment pairs (|A∩B| / min|A|,|B| >= tau) — the
    * quote/subset detector Jaccard misses. See TextOps.containmentPairs.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double): DataFrame =
    TextOps.containmentPairs(docs, minContainment)

  /** Weighted-cosine all-pairs similarity join with a lossless norm-prefix
    * filter (Bayardo/PPJoin family); tau = tauNum/tauDen as exact integers.
    * Pass a shingled `dims` tokenizer when the unigram vocabulary is small.
    */
  def cosinePairs(docs: DataFrame, tauNum: Int, tauDen: Int,
                  dims: Column => Column = TextOps.tokens): DataFrame =
    TextOps.cosinePairs(docs, tauNum, tauDen, dims = dims)

  /** Misra–Gries heavy-hitter candidate set as an aggregate Column: every
    * item with frequency > N/(k+1) is guaranteed present (deterministic,
    * mergeable); re-count the ≤k candidates exactly for true counts.
    */
  def heavyHitterCandidates(key: Column, k: Int = 64): Column =
    functions.MisraGries.agg(key, k)

  def cosineTopK(emb: DataFrame, probeId: Long, k: Int): DataFrame =
    VectorOps.topKByCosine(emb, probeId, k)

  def cosineJoin(emb: DataFrame, tau: Double): DataFrame =
    VectorOps.cosineJoinThreshold(emb, tau)

  def knnGraph(emb: DataFrame, k: Int): DataFrame =
    VectorOps.knnGraph(emb, k)

  def embeddingHygiene(emb: DataFrame): DataFrame =
    VectorOps.centroidHygiene(emb)

  /** Per-label centroid cosine + L2 shift between two snapshots of the
    * same embedding store (`snapA` marks the first snapshot's rows) —
    * drift monitoring across embedder bumps / new crawls. One scan,
    * never a self-join.
    */
  def embeddingDrift(emb: DataFrame, snapA: Column): DataFrame =
    VectorOps.centroidDrift(emb, snapA)

  /** Exact equi-width histogram of an integer-valued column (pre-scale
    * floats, e.g. floor(price*100)); (bucket, n, lo, hi), empty buckets
    * absent.
    */
  def histogram(df: DataFrame, value: Column, buckets: Int = 20): DataFrame =
    CurateOps.histogram(df, value, buckets)

  /** Deterministic product-quantization codebook: per-subspace spherical
    * k-means over the unit vector's `m` contiguous slices — (sub, cell,
    * sp, c), a tiny broadcastable table. See VectorOps.pqCodebook.
    */
  def pqCodebook(emb: DataFrame, m: Int = 4, kCap: Int = 16,
                 iters: Int = 2): DataFrame =
    VectorOps.pqCodebook(emb, m, kCap, iters)

  /** PQ code assignment against a [[pqCodebook]]: each vector's
    * best-affinity cell per subspace — (vec_id, sub, cell), the m-byte
    * compressed representation an ADC search scans instead of floats.
    */
  def pqCodes(emb: DataFrame, codebook: DataFrame): DataFrame =
    VectorOps.pqCodes(emb, codebook)

  /** Top principal direction of the centered embedding covariance by
    * deterministic power iteration — (p, loading, eigenvalue); whitening
    * prep and anisotropy-collapse monitoring. One corpus pass (dim²
    * map-side accumulators); iterations never touch the corpus.
    */
  def pcaTopDirection(emb: DataFrame, iters: Int = 2): DataFrame =
    VectorOps.pcaPowerTop(emb, iters)

  /** Embedding near-dup blocked by a coarse quantizer (IVF cells) instead
    * of a given label — the 100 TB path; see VectorOps.dedupByQuantizer.
    * nprobe <= 0 (the default) auto-scales probes with sqrt(corpus size)
    * so recall holds as n grows past the cell-count cap.
    */
  def dedupEmbeddings(emb: DataFrame, tau: Double, nprobe: Int = 0): DataFrame =
    VectorOps.dedupByQuantizer(emb, tau, nprobe)

  /** Winnowing k-gram fingerprints (rolling-hash document fingerprinting). */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    TextOps.winnowFingerprints(docs, k, w)

  /** Collapse near-dup pairs into clusters: (id, cluster=min reachable id). */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame =
    graft.operators.GraphOps.pageRank(vertices, edges, iters)

  def dedupClusters(vertices: DataFrame, pairs: DataFrame): DataFrame =
    GraphOps.connectedComponents(vertices, pairs)

  /** Skew-safe inner equi-join: hot keys spread over `salt` tasks. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int = 8): DataFrame =
    SkewOps.saltedJoin(big, small, keys, salt)

  // ---- curation (operators.CurateOps) ---------------------------------

  /** Gap-based sessionization: one row per (user, session); one user-hash
    * shuffle at any corpus size.
    */
  def sessionize(events: DataFrame, gapUs: Long,
                 userCol: String = "user_id", tsCol: String = "ts_us",
                 tieCol: String = "event_id"): DataFrame =
    CurateOps.sessionize(events, gapUs, userCol, tsCol, tieCol)

  /** Per-user activity streaks (gaps-and-islands over `bucketUs`-wide time
    * buckets): active-bucket count, streak count, longest streak; one
    * user-hash shuffle at any corpus size.
    */
  def streaks(events: DataFrame, bucketUs: Long,
              userCol: String = "user_id", tsCol: String = "ts_us"): DataFrame =
    CurateOps.streaks(events, bucketUs, userCol, tsCol)

  /** Pure range self-join: all row pairs within `windowUs`, earlier-first,
    * via the lossless bucket trick (equi join, never a cartesian). `carry`
    * columns ride along as `<c>_a`/`<c>_b`.
    */
  def rangePairs(events: DataFrame, windowUs: Long,
                 tsCol: String = "ts_us", tieCol: String = "event_id",
                 carry: Seq[String] = Nil): DataFrame =
    CurateOps.rangePairs(events, windowUs, tsCol, tieCol, carry)

  /** Pattern scrubbing (blocklist / PII shapes): adds `n_redacted` and
    * `clean_text`; a pure per-row projection.
    */
  def scrub(docs: DataFrame, pattern: String, mask: String = "[SCRUBBED]",
            textCol: String = "text"): DataFrame =
    CurateOps.scrub(docs, pattern, mask, textCol)

  /** Int8 symmetric embedding quantization stats (scale, code sum/energy,
    * clip count); per-row array folds, no shuffle.
    */
  def quantizeEmbeddings(emb: DataFrame,
                         keep: Seq[String] = Seq("vec_id", "label")): DataFrame =
    CurateOps.quantizeStats(emb, keep = keep)

  /** Keep the highest-score rows per group until a weight budget is spent
    * (two-phase banded prefix sum — no whole-group window).
    */
  def budgetSelect(rows: DataFrame, budget: Long, bandWidth: Long,
                   groupCol: String = "lang", scoreCol: String = "score",
                   weightCol: String = "n_tokens",
                   tieCol: String = "doc_id"): DataFrame =
    CurateOps.budgetSelect(rows, budget, bandWidth, groupCol, scoreCol,
      weightCol, tieCol)

  // ---- sinks ----------------------------------------------------------

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       sortCols: Seq[String] = Nil): Unit =
    Sinks.writePartitioned(df, path, partitionCols, sortCols)

  /** Bucketed+sorted table write: later equi-joins/aggs on the bucket
    * columns plan zero exchanges (pinned by SinksSpec).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sortCols: Seq[String] = Nil,
                    path: Option[String] = None): Unit =
    Sinks.writeBucketed(df, table, bucketCols, nBuckets, sortCols, path)

  /** Small-files compaction maintenance: rewrite into near-equal row-count
    * files via round-robin repartition (pinned by SinksSpec).
    */
  def writeCompacted(df: DataFrame, path: String, targetRowsPerFile: Long): Unit =
    Sinks.writeCompacted(df, path, targetRowsPerFile)

  // ---- transactional tables (graft.sources.TxnLog) --------------------

  /** Create a transactional (commit-log) table with per-file key stats —
    * snapshot isolation, time travel, data-skipping reads, MERGE.
    */
  def txnInit(df: DataFrame, table: String, keyCol: String): Long =
    graft.sources.TxnLog.initKeyed(df, table, keyCol)

  /** MERGE (upsert) into a keyed transactional table: only files whose
    * key-stat range contains an update key are rewritten.
    */
  def txnMerge(spark: org.apache.spark.sql.SparkSession, table: String,
               updates: DataFrame, keyCol: String): Long =
    graft.sources.TxnLog.merge(spark, table, updates, keyCol)

  /** Snapshot read (latest, or time travel via `asOf`). */
  def txnRead(spark: org.apache.spark.sql.SparkSession, table: String,
              asOf: Option[Long] = None): DataFrame =
    graft.sources.TxnLog.read(spark, table, asOf)

  /** Key-range read that prunes files from commit-log stats before Spark
    * lists them; returns (frame, filesSkipped).
    */
  def txnReadRange(spark: org.apache.spark.sql.SparkSession, table: String,
                   keyCol: String, lo: Long, hi: Long): (DataFrame, Int) =
    graft.sources.TxnLog.readRange(spark, table, keyCol, lo, hi)

  /** DESCRIBE HISTORY: one audited row per commit (op tag, files
    * added/removed, live-file count) from the log headers alone.
    */
  def txnHistory(table: String): Seq[graft.sources.TxnLog.CommitInfo] =
    graft.sources.TxnLog.history(table)

  /** VACUUM: delete data bytes only pre-retention versions reference and
    * record the time-travel floor; returns the deleted file names.
    */
  def txnVacuum(table: String, retainVersions: Int): Seq[String] =
    graft.sources.TxnLog.vacuum(table, retainVersions)

  /** Zero-copy CLONE via hard links; the fork is fully independent. */
  def txnClone(src: String, dst: String, asOf: Option[Long] = None): Long =
    graft.sources.TxnLog.clone(src, dst, asOf)

  /** Schema-evolution read: union of every live file's schema, NULLs for
    * columns a file predates.
    */
  def txnReadEvolved(spark: org.apache.spark.sql.SparkSession,
                     table: String, asOf: Option[Long] = None): DataFrame =
    graft.sources.TxnLog.read(spark, table, asOf, mergeSchema = true)

  /** File-level change scope between two versions (from the log alone):
    * (files live only at v0, files live only at v1) — the O(changed
    * files) input to an incremental version diff.
    */
  def txnChangedFiles(table: String, v0: Long, v1: Long): (Seq[String], Seq[String]) =
    graft.sources.TxnLog.changedFiles(table, v0, v1)

  /** Merge-on-read DELETE: commit a KB tombstone of deleted keys instead
    * of rewriting files; reads subtract it, [[txnCompact]] materializes it.
    */
  def txnDelete(spark: org.apache.spark.sql.SparkSession, table: String,
                keys: DataFrame, keyCol: String): Long =
    graft.sources.TxnLog.deleteWhere(spark, table, keys, keyCol)

  /** RESTORE to a prior version as one metadata-only audited commit. */
  def txnRestore(table: String, toVersion: Long): Long =
    graft.sources.TxnLog.restore(table, toVersion)

  /** Small-file compaction as one atomic commit (the OPTIMIZE contract):
    * readers see the old or the new layout, never a half-rewrite; time
    * travel still serves pre-compact versions until [[txnVacuum]].
    */
  def txnCompact(spark: org.apache.spark.sql.SparkSession, table: String,
                 numFiles: Int): Long =
    graft.sources.TxnLog.compact(spark, table, numFiles)

  /** Global permutation rank (`row_number` over (value, tie)) without a
    * single-task sort — the banded two-phase decomposition (see
    * [[operators.CurateOps.bandedRank]]).
    */
  def bandedRank(df: DataFrame, valueCol: String, tieCol: String,
                 band: Column, out: String): DataFrame =
    operators.CurateOps.bandedRank(df, valueCol, tieCol, band, out)

  /** Global inclusive running sums over a unique order without a
    * single-task sort (several weights in one pass) — the banded two-phase
    * decomposition (see [[operators.CurateOps.bandedCumsum]]).
    */
  def bandedCumsum(df: DataFrame, orderCol: String, band: Column,
                   weights: Seq[(String, String)]): DataFrame =
    operators.CurateOps.bandedCumsum(df, orderCol, band, weights)

  /** Per-doc DEFLATE compressibility ratio (spam/boilerplate signal). */
  def compressibility(docs: DataFrame): DataFrame =
    operators.TextOps.compressibility(docs)

  /** Squared Euclidean distance over array<float> via the codegen'd dot
    * kernels (sqrt-free; monotone for ranking).
    */
  def l2Sq(a: Column, b: Column): Column = operators.VectorOps.l2SqF(a, b)
}
