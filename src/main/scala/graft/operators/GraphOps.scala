package graft.operators

import java.math.BigInteger
import org.apache.spark.{Aggregator, HashPartitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Minimal distributed graph kernels: connected components (the last
  * step of every dedup pipeline: pair emitters produce EDGES, retention
  * needs CLUSTERS and one representative per cluster), PageRank and label
  * propagation.
  */
object GraphOps {

  /** Label every vertex with the smallest vertex id reachable from it.
    *
    * Min-label propagation with hooking and pointer jumping, in the manner
    * of Shiloach–Vishkin. Labels are vertex ids, and a vertex's label is
    * its parent in a forest whose roots label themselves. A round is
    *   1. propagate: m(v) = the min label over N(v) ∪ {v};
    *   2. hook: every vertex x takes the min of m(x) and the m(v) of every
    *      v labelled x, so a whole tree moves to the smallest label any of
    *      its members sees, not only the members that see it;
    *   3. jump: label(v) ← label(label(v)), halving every path to a root.
    * Without the hook a label travels one hop per round along a path whose
    * ids are out of order: random-id chains of n vertices took about n/3
    * rounds. With it, random-id chains of 2,560 vertices converge in 12
    * rounds, and random trees, grids and cycles of 900 vertices in at most
    * 9 (simulated). No step raises a label, so a round changed nothing iff
    * the exact label sum did not move. At that fixpoint every vertex's
    * label is at most its neighbours', so labels are constant on each
    * component, and a label is never above its own vertex id nor outside
    * the component, so the constant is the component's min id.
    *
    * Jobs: the first action runs rounds 1 and 2 (a check after round 1
    * could only stop an edge-free graph, which the next check also stops);
    * every later round is one more action that runs the round and sums its
    * labels. No edge is collected to the driver; the driver sees one sum
    * per round.
    *
    * Shape: the rounds run on pair RDDs whose partitions are hash
    * partitioned and sorted by key, and every lookup is a streaming merge
    * of two such partitions ([[mergeJoin]]). A round is four shuffles of
    * (id, label) pairs: the map-side-combined mins of propagate and hook,
    * the jump's label-keyed sort and the relabelled vertex-keyed sort. The
    * adjacency is partitioned and sorted once, and every propagation reads
    * it in place. Sorts and combines spill, and no key's values are ever
    * buffered, so a hub vertex or a giant component costs task time, not
    * memory. Every round has the same physical shape whatever its input
    * sizes, and generates no code: the kernel adds no classes to Spark's
    * codegen cache beyond reading its inputs and wrapping its result. Each
    * round's labels are locally checkpointed, which bounds the lineage; at
    * cluster scale switch to reliable `checkpoint`. Min-label CC is
    * order-insensitive, so the result is deterministic under any
    * scheduling.
    *
    * @param vertices one integral column `id`
    * @param edges    integral columns `src`, `dst` (undirected; duplicate,
    *                 reversed and self-loop edges are harmless)
    * @return (id, cluster) as BIGINTs, one row per vertex of `vertices` or
    *         endpoint of `edges`; cluster = min id of the component. Null
    *         ids and edges with a null endpoint are dropped.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    val spark = vertices.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    def longs(df: DataFrame, cols: String*): RDD[InternalRow] =
      df.select(cols.map(c => col(c).cast("long")): _*).na.drop().queryExecution.toRdd
    // (dst, src) for both orientations plus a self-loop per vertex, so the
    // propagation min over N(v) ∪ {v} is one keyed reduce and every vertex
    // keeps a label row.
    val adj = longs(edges, "src", "dst")
      .flatMap { r => val (s, d) = (r.getLong(0), r.getLong(1)); Iterator((d, s), (s, d)) }
      .union(longs(vertices, "id").map { r => val v = r.getLong(0); (v, v) })
      .repartitionAndSortWithinPartitions(part)
      .localCheckpoint()
    def minByKey(pairs: RDD[(Long, Long)]): RDD[(Long, Long)] =
      new ShuffledRDD[Long, Long, Long](pairs, part)
        .setAggregator(Aggregator[Long, Long, Long](identity, math.min(_, _), math.min(_, _)))
        .setMapSideCombine(true)
        .setKeyOrdering(Ordering.Long)
    def propagate(labels: RDD[(Long, Long)]): RDD[(Long, Long)] =
      minByKey(adj.zipPartitions(labels)(mergeJoin(_, _).map { case (_, s, l) => (s, l) }))
    def hook(labels: RDD[(Long, Long)], best: RDD[(Long, Long)]): RDD[(Long, Long)] =
      minByKey(best.zipPartitions(labels)(mergeJoin(_, _).flatMap { case (v, m, l) =>
        Iterator((v, m), (l, m)) }))
    def jump(labels: RDD[(Long, Long)]): RDD[(Long, Long)] =
      labels.map(_.swap).repartitionAndSortWithinPartitions(part)
        .zipPartitions(labels)(mergeJoin(_, _).map { case (_, v, root) => (v, root) })
        .repartitionAndSortWithinPartitions(part)
    def round(labels: RDD[(Long, Long)]): RDD[(Long, Long)] =
      jump(hook(labels, propagate(labels)))
    // Round 1 starts from the identity labels: its propagation is the min
    // neighbour id, and its hook changes nothing.
    var labels = round(jump(minByKey(adj.map(_.swap)))).localCheckpoint()
    var sum = labelSum(labels)
    var (rounds, converged, lastDelta) = (2, false, BigInteger.ZERO)
    while (!converged && rounds < maxIter) {
      val next = round(labels).localCheckpoint()
      val nextSum = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      lastDelta = sum.subtract(nextSum)
      converged = lastDelta.signum == 0
      sum = nextSum
      rounds += 1
    }
    adj.unpersist(blocking = false)
    require(converged,
      s"connectedComponents: label sum still decreasing after $rounds/$maxIter " +
        s"rounds (last round's delta = $lastDelta) — raise maxIter")
    import spark.implicits._
    labels.toDF("id", "cluster")
  }

  /** Streams `(k, a)` rows against one partition of unique `(k, b)` rows,
    * both sorted by k, and emits `(k, a, b)` for each match: a merge join
    * that holds one row of each side at a time.
    */
  private def mergeJoin(rows: Iterator[(Long, Long)],
                        table: Iterator[(Long, Long)]): Iterator[(Long, Long, Long)] = {
    val t = table.buffered
    rows.flatMap { case (k, a) =>
      while (t.hasNext && t.head._1 < k) t.next()
      if (t.hasNext && t.head._1 == k) Some((k, a, t.head._2)) else None
    }
  }

  /** Exact sum of the labels: longs add until one would overflow, then
    * spill into a BigInteger. One action, so one job.
    */
  private def labelSum(labels: RDD[(Long, Long)]): BigInteger =
    labels.mapPartitions { it =>
      var (big, s) = (BigInteger.ZERO, 0L)
      it.foreach { case (_, l) =>
        try s = Math.addExact(s, l)
        catch { case _: ArithmeticException => big = big.add(BigInteger.valueOf(s)); s = l }
      }
      Iterator(big.add(BigInteger.valueOf(s)))
    }.fold(BigInteger.ZERO)(_ add _)

  /** Fixed-iteration PageRank — the centrality/quality signal web-crawl
    * curation pipelines attach to documents (CommonCrawl publishes exactly
    * this per host); over a kNN similarity graph it scores how "central" a
    * document is in embedding space.
    *
    * pr₀ = 1/N; prᵢ₊₁(v) = teleport/N + damping·Σ_{(u,v)∈E} prᵢ(u)/outdeg(u).
    * Dangling mass (nodes with no out-edges) is dropped, the standard
    * simplification — totals then sum to < 1, which is fine for a relative
    * quality signal. Fixed `iters` (no convergence probe) keeps the whole
    * computation one declarative plan AND lets a SQL oracle replay it as
    * unrolled CTEs.
    *
    * Cross-engine determinism: every per-edge contribution pr(u)/outdeg(u)
    * is ONE IEEE division of a bit-identical double by an exact integer,
    * then quantized to a scaled BIGINT — floor(x·1e12) — BEFORE the
    * per-target sum (order-free exact integer sum). floor, NOT a decimal
    * cast: Spark casts double→DECIMAL through the value's SHORTEST string
    * repr (BigDecimal(Double.toString)) while DuckDB rounds the exact
    * binary expansion, and at a 1e-12 quantum with ÷3 repeating digits
    * the two disagree ~0.2% of the time (measured: 15 of 7500
    * quantizations, each off by one decimal ulp). floor of an identical
    * double is identical everywhere. The update is then two IEEE ops on
    * identically-parsed literals. `damping` and `teleport` are separate
    * args because `1 - 0.85` is NOT double 0.15 in either engine's
    * literal arithmetic — callers pass both, pre-parsed.
    *
    * Scale shape per iteration: one src-keyed equi-join of the (static)
    * out-degree-annotated edges against the node-sized pr frame, one
    * dst-keyed partial-agg sum, one left join back to the vertex set —
    * O(E) + O(V) shuffle, the classic distributed PR round. At many
    * iterations or real scale, checkpoint pr every few rounds (cf.
    * [[connectedComponents]]); at fixed depth 5 the lineage stays bounded.
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    require(math.abs(damping + teleport - 1.0) < 1e-9,
      s"damping ($damping) + teleport ($teleport) must sum to 1")
    val n = vertices.agg(count(lit(1)).as("nn"))
    val od = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val eo = edges.select(col("src"), col("dst")).join(od, "src")
    var pr = vertices.crossJoin(broadcast(n))
      .select(col("id"), (lit(1.0) / col("nn")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = eo.join(pr, eo("src") === pr("id"))
        .select(col("dst"),
          floor(col("pr") / col("od") * lit(1000000000000.0)).as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      pr = vertices.crossJoin(broadcast(n))
        .join(contrib, vertices("id") === contrib("dst"), "left")
        .select(vertices("id"),
          (lit(teleport) / col("nn") +
            lit(damping) * (coalesce(col("sc"), lit(0L)) / lit(1000000000000.0)))
            .as("pr"))
    }
    pr.select(col("id"), col("pr").as("pagerank"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), `iters` fixed
    * rounds: each node adopts the MOST FREQUENT label among its neighbors
    * (ties → smallest label; isolated nodes keep their own). Unlike
    * [[connectedComponents]]' min-label convergence this finds dense
    * communities, not reachability classes — a bridge edge between two
    * clusters does not merge them unless a majority crosses it.
    *
    * Determinism: counts are exact integers and the (count DESC, label
    * ASC) tie-break totals the order, so fixed-round output is unique —
    * which is also why the round count is FIXED, not converged: LPA on a
    * cyclic graph can oscillate, and a data-dependent stop would break
    * replay. Per round: one edge-keyed join + a (node, label) partial agg
    * + a per-node top-1 window partitioned by node (bounded by degree) —
    * the O(E) + O(V·d) shuffle shape, nothing global.
    *
    * `edges` is treated as DIRECTED input and symmetrized here.
    */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
                       iters: Int = 3): DataFrame = {
    // Symmetrized edge list is re-read every round; cache it so its
    // union+distinct shuffle runs once, not `iters` times — and CLUSTERED
    // BY THE PER-ROUND JOIN KEY (r15 optimization round): distinct()
    // leaves it hash-partitioned on the (src, dst) pair, which does not
    // co-locate equal src values, so every round's propagation join
    // re-shuffled the edge side. One repartition inside the cached build
    // makes all `iters` joins exchange-free on the edge side
    // (InMemoryRelation preserves outputPartitioning) — the
    // connectedComponents adjacency discipline. At cluster scale: persist to
    // a bucketed-by-src table, same effect across jobs.
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).cache()
    var lbl = vertices.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iters) {
      // Majority label with (count DESC, label ASC) tie-break, as a pure
      // hash aggregation: max_by over the ordering struct (c, -lbl) picks
      // the same winner as the former row_number window but with partial
      // (map-side) aggregation and no per-node sort — one fewer exchange
      // flavor per round. lbl ids are non-negative, so -lbl is ASC label.
      val mode = und.join(lbl, und("src") === lbl("id"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl")))
          .as("nlbl"))
      // lbl always holds exactly the vertex set (starts there; left join
      // preserves it), so no re-join with `vertices` is needed.
      lbl = lbl.join(mode, lbl("id") === mode("dst"), "left")
        .select(lbl("id"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
    }
    lbl.select(col("id"), col("lbl").as("community"))
  }
}
