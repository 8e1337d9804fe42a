package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}
import graft.operators.{GraphOps, TextOps, VectorOps}

/** §2.C LLM-data-pipeline extensions: dedup (exact + near), similarity
  * search/join over embeddings, text analysis, multimodal-column hygiene.
  * Carriers: `documents` (text + lang) and `embeddings` (array<float> dim 64
  * + label) — see FIXTURES.md.
  *
  * Determinism/dialect rules per SURVEY §7.5; every kernel here is a
  * codegen'd built-in or HOF (no UDFs), with the DuckDB oracle expressing
  * the *same arithmetic* (set-cardinality quotients, sequential double
  * folds, exact DECIMAL cross-row sums).
  */
object PipelineQueries {

  /** Jaccard threshold for near-dup pairs (measured: 2359 pairs at sf0.01
    * against the naive all-pairs oracle — the lossless prefix filter finds
    * 48 pairs the r2 single-anchor blocking missed).
    */
  private val NearDupTau = 0.9

  /** Cosine threshold for the similarity self-join (measured: 26 pairs at
    * sf0.01, 391 at sf0.1 within label blocks).
    */
  private val CosTau = 0.35

  /** sim_search_lsh: independent hyperplane tables × sign bits per table.
    * Expected candidate fraction on isotropic data ~ LshTables/2^LshBits
    * (~6%) — scale LshBits with corpus size to hold the fraction.
    */
  private val LshTables = 4
  private val LshBits = 6

  /** DuckDB-side distinct token set, mirroring TextOps.tokenSet. */
  private val DuckTokens = "list_distinct(string_split(lower(text), ' '))"

  /** rank_ndcg's position-discount weights, w_i = round(1e9 / log2(i+1))
    * for ranks 1..10 — computed ONCE here and interpolated as integer
    * literals into both the Spark plan and the DuckDB oracle, so no log2
    * ever runs in either engine (a one-ulp libm divergence cannot flip the
    * hash). Binary relevance makes the ideal DCG a prefix sum of these.
    */
  private val NdcgWeights: Seq[Long] =
    (1 to 10).map(i => Math.round(1e9 / (Math.log(i + 1.0) / Math.log(2.0))))

  /** DuckDB CASE mapping rank → weight literal. */
  private def NdcgWeightCase: String =
    NdcgWeights.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
      .mkString("CASE rnk ", " ", " ELSE 0 END")

  /** DuckDB CASE mapping n_rel → ideal-DCG prefix-sum literal. */
  private def NdcgIdealCase: String =
    NdcgWeights.scanLeft(0L)(_ + _).tail.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }
      .mkString("CASE n_rel ", " ", " ELSE 0 END")

  /** sim_knn_graph's oracle SQL, shared verbatim with graph_degree_stats
    * (which embeds it as a subquery) — the FunnelQueries composition rule:
    * a derived report's oracle references the operator it derives from, so
    * the two can never drift.
    */
  private val KnnOracleSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
      |        round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
      |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY src
      |                                   ORDER BY cos_sim DESC, dst) AS rank
      |      FROM p)
      |SELECT src, CAST(rank AS BIGINT) AS rank, dst, label, cos_sim
      |FROM r WHERE rank <= 3""".stripMargin

  /** The PQ ADC scoring chain in SQL through CTE `adc` (vec_id, adc_cos) —
    * shared verbatim by sim_search_pq (top-k of it) and
    * sim_search_pq_refine (shortlist + exact re-rank), so the two stages
    * can never drift. Ends without a trailing comma; consumers append.
    */
  private val PqAdcSql: String = {
    val i = KMeansSql.PqIters
    s"""${KMeansSql.pqCtes()},
       |codes AS (SELECT vec_id, sub, cell FROM sc$i WHERE rn = 1),
       |pq AS (SELECT sub, sp, x FROM posq WHERE vec_id = ${KMeansSql.PqProbeId}),
       |qd AS (SELECT c.sub, c.cell,
       |              CAST(sum(CAST(p.x * c.c AS DECIMAL(27,12))) AS DOUBLE) AS qd
       |       FROM cent$i c JOIN pq p ON p.sub = c.sub AND p.sp = c.sp
       |       GROUP BY 1, 2),
       |adc AS (SELECT codes.vec_id,
       |               round(CAST(sum(CAST(qd AS DECIMAL(18,6))) AS DOUBLE), 5) AS adc_cos
       |        FROM codes JOIN qd USING (sub, cell)
       |        WHERE vec_id <> ${KMeansSql.PqProbeId}
       |        GROUP BY 1)""".stripMargin
  }

  /** Spark side of the ADC scoring: every non-probe vector's m-entry
    * decimal-exact lookup sum off the wide cached code index — one scan +
    * m broadcast lookup joins, deliberately NOT cached itself so each
    * consumer's plan keeps the pinned broadcast shape (cf. the
    * fusion-ranks warm-cache lesson).
    */
  private def pqAdcScores(s: org.apache.spark.sql.SparkSession, d: String,
                          restrict: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val m = KMeansSql.PqM
    val cent = KMeansSql.pqCodebook(s, d)
    val qd = VectorOps.pqProbeDots(
      Tables.cachedTable(s, d, "embeddings"), cent, KMeansSql.PqProbeId)
    var res = KMeansSql.pqCodesWide(s, d)
      .filter(col("vec_id") =!= KMeansSql.PqProbeId)
    // IVFPQ (r9): the ADC scan touches ONLY the probed cells' vectors —
    // the restriction arrives as a (vec_id) frame and rides a semi-join
    // (at 100 TB the code index is bucketed BY cell, so this is a scan
    // prune, not a join at all).
    for (r <- restrict)
      res = res.join(broadcast(r.select("vec_id")), Seq("vec_id"), "left_semi")
    for (i <- 0 until m) {
      val qdi = qd.filter(col("sub") === i)
        .select(col("cell").as(s"cell_$i"),
          col("qd").cast(DecimalType(18, 6)).as(s"qd_$i"))
      res = res.join(broadcast(qdi), col(s"c$i") === col(s"cell_$i"))
    }
    val adc = round(
      (0 until m).map(i => col(s"qd_$i")).reduce(_ + _).cast("double"), 5)
    res.select(col("vec_id"), adc.as("adc_cos"))
  }

  /** Shared oracle WITH-chain replaying the deterministic power-iteration
    * PCA build (per-dim means → raw second moments → S/n − μμᵀ centered
    * covariance → two multiply-normalize rounds → Rayleigh quotient).
    * Consumers append their own final SELECT (embed_pca_power reports the
    * direction; embed_whiten projects the corpus against it). `p` is
    * 1-based inside the chain; re-base in the final select if emitted.
    */
  private val PcaCtes: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |dims AS (SELECT max(len(v)) AS dim FROM e),
      |pos AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS p, unnest(v) AS x
      |        FROM e),
      |mu AS (SELECT p, CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE)/count(*) AS mu
      |       FROM pos GROUP BY 1),
      |nrow AS (SELECT count(*) AS n FROM e),
      |s2 AS (SELECT a.p AS p, b.p AS q,
      |              CAST(sum(CAST(a.x * b.x AS DECIMAL(27,12))) AS DOUBLE) AS sxy
      |       FROM pos a JOIN pos b USING (vec_id) GROUP BY 1, 2),
      |cov AS (SELECT s2.p, s2.q, sxy / n - ma.mu * mb.mu AS c
      |        FROM s2 JOIN mu ma ON ma.p = s2.p JOIN mu mb ON mb.p = s2.q, nrow),
      |v0 AS (SELECT p, 1.0/sqrt(dim) AS v FROM (SELECT DISTINCT p FROM pos), dims),
      |it1 AS (SELECT cov.p, CAST(sum(CAST(cov.c * v0.v AS DECIMAL(27,12))) AS DOUBLE) AS w
      |        FROM cov JOIN v0 ON v0.p = cov.q GROUP BY 1),
      |nm1 AS (SELECT sqrt(CAST(sum(CAST(w*w AS DECIMAL(27,12))) AS DOUBLE)) AS nm FROM it1),
      |v1 AS (SELECT p, w/nm AS v FROM it1, nm1),
      |it2 AS (SELECT cov.p, CAST(sum(CAST(cov.c * v1.v AS DECIMAL(27,12))) AS DOUBLE) AS w
      |        FROM cov JOIN v1 ON v1.p = cov.q GROUP BY 1),
      |nm2 AS (SELECT sqrt(CAST(sum(CAST(w*w AS DECIMAL(27,12))) AS DOUBLE)) AS nm FROM it2),
      |v2 AS (SELECT p, w/nm AS v FROM it2, nm2),
      |ray AS (SELECT CAST(sum(CAST((cov.c * va.v) * vb.v AS DECIMAL(27,12))) AS DOUBLE)
      |               AS lambda
      |        FROM cov JOIN v2 va ON va.p = cov.p JOIN v2 vb ON vb.p = cov.q)""".stripMargin

  /** Shared oracle WITH-chain replaying the 3-round label propagation
    * (kNN edges → symmetrize → per-round majority with (count DESC, label)
    * tie-break); ends at `lp3` (vec_id, lbl) with `ue` (the bidirected
    * distinct edge set) still in scope. Consumers append their final
    * SELECT: graph_label_prop reports the census, graph_modularity scores
    * the partition.
    */
  private val LpCtes: String = {
    def round(i: Int, prev: String) =
      s""",
         |md$i AS (SELECT ue.dst, p.lbl, count(*) AS c
         |         FROM ue JOIN $prev p ON p.vec_id = ue.src GROUP BY 1, 2),
         |mr$i AS (SELECT dst, lbl, row_number() OVER (PARTITION BY dst
         |                  ORDER BY c DESC, lbl) AS rn FROM md$i),
         |lp$i AS (SELECT n.vec_id, coalesce(m.lbl, p.lbl) AS lbl
         |         FROM nodes n JOIN $prev p USING (vec_id)
         |         LEFT JOIN (SELECT dst, lbl FROM mr$i WHERE rn = 1) m
         |           ON m.dst = n.vec_id)"""
    val rounds = (1 to 3).map(i => round(i, if (i == 1) "lp0" else s"lp${i - 1}"))
      .mkString
    s"""WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
       |       FROM eemb a JOIN eemb b
       |         ON a.label = b.label AND a.vec_id <> b.vec_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY src
       |                                    ORDER BY cos_sim DESC, dst) AS rank
       |       FROM pp),
       |e AS (SELECT src, dst FROM rr WHERE rank <= 3),
       |ue AS (SELECT DISTINCT src, dst FROM
       |        (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
       |nodes AS (SELECT vec_id FROM embeddings),
       |lp0 AS (SELECT vec_id, vec_id AS lbl FROM nodes)
       |$rounds""".stripMargin
  }

  /** Per-vertex community assignment (3-round label prop over the cached
    * kNN build), cached per dir — one build shared by graph_label_prop and
    * graph_modularity.
    */
  private def lpComm(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/labelprop/iters=3") {
      GraphOps.labelPropagation(
        Tables.cachedTable(s, d, "embeddings").select(col("vec_id").as("id")),
        knn3(s, d).select("src", "dst"), iters = 3)
    }

  /** The unrounded top principal direction, cached per dir — one build
    * shared by every PCA consumer (the codebook-cache convention).
    */
  private def pcaVec(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/pca-vec/iters=2") {
      VectorOps.pcaPowerVec(Tables.cachedTable(s, d, "embeddings"), iters = 2)
    }

  /** The k=3 in-block kNN graph, cached per dir: sim_knn_graph declares it
    * and graph_pagerank consumes its (src, dst) edge set — one build.
    */
  private def knn3(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/knn3") {
      VectorOps.knnGraph(Tables.cachedTable(s, d, "embeddings"), k = 3)
    }

  /** The SYMMETRIZED distinct kNN edge set (each unordered pair in both
    * orientations exactly once), cached per dir (r16 optimization round,
    * guide §2.4): graph_modularity's `ue` and graph_assortativity's `bi`
    * are the SAME frame — previously each key re-ran the union+distinct
    * per call (r15 localCheckpoint'd it within a run; this shares the one
    * V·k-bounded build across keys and runs, like every other shared graph
    * artifact). At 100 TB this is the persisted bidirected edge table the
    * whole graph-audit family reads.
    */
  private def knn3Sym(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/knn3-sym") {
      val e = knn3(s, d).select("src", "dst")
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    }

  /** Sign-bit binary codes (vec_id, w_lo, w_hi): bit i of the 64-bit code
    * is set iff embedding component i is > 0, packed into two 32-bit
    * BIGINT words. Cached per dir — one build shared by sim_search_hamming
    * and sim_search_hamming_rerank.
    */
  private[graft] def signbitCodes(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/signbit-codes") {
      Tables.cachedTable(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
        .groupBy("vec_id")
        .agg(
          sum(when(col("p") < 32 && col("x") > 0,
            expr("shiftleft(1L, CAST(p AS INT))")).otherwise(0L)).as("w_lo"),
          sum(when(col("p") >= 32 && col("x") > 0,
            expr("shiftleft(1L, CAST(p - 32 AS INT))")).otherwise(0L)).as("w_hi"))
    }

  /** The 8-probe exact-cosine top-10 eval frame (probe_id, plabel, vec_id,
    * lbl, rank): the retrieval-eval family (rank_ndcg, rank_mrr, rank_map)
    * grades the SAME ranked lists. Deliberately NOT Tables.cached — an
    * InMemoryRelation here would hide each consumer's probe-partitioned
    * ranking window from its pinned plan (the fusion-ranks warm-cache
    * lesson, re-learned via PlanSpec when r9 briefly cached this); the
    * rebuild is probes×corpus cheap and rides the cached embeddings scan.
    */
  private def rankTopk(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = Tables.cachedTable(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
        col("embedding").as("pv"))
    graft.operators.TextOps.topKPerGroup(
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("plabel"), col("vec_id"),
          col("label").as("lbl"),
          round(graft.operators.VectorOps.cosineF(col("embedding"), col("pv")), 5)
            .as("c")),
      Seq("probe_id"), Seq(col("c").desc, col("vec_id")), 10,
      bucketOn = col("vec_id"))
      .select("probe_id", "plabel", "vec_id", "lbl", "rank")
  }

  /** The text near-dup pair list (Jaccard ≥ [[NearDupTau]]), built ONCE per
    * (session, dir) and cached: the pair REPORT (dedup_near) and the
    * connected-components retention step (dedup_clusters) are two consumers
    * of the same computation — the `KMeansSql.dedupPairs` precedent. At
    * 100 TB the pair list is the persisted intermediate the dedup job
    * writes once; every downstream step (CC, keep/drop, audits) reads it
    * rather than re-running candidate generation against the corpus.
    */
  def sharedNearDupPairs(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Tables.cached(s, s"$d/neardup-pairs/tau=$NearDupTau") {
      TextOps.nearDupPairs(
        Tables.cachedTable(s, d, "documents").select("doc_id", "lang", "text"),
        minJaccard = NearDupTau)
    }

  def all: Seq[Q] = Seq(
    Q("dedup_exact",
      """WITH h AS (
        |  SELECT doc_id, lang, source, sha256(lower(trim(text))) AS text_hash,
        |         row_number() OVER (PARTITION BY sha256(lower(trim(text))) ORDER BY doc_id) AS rn,
        |         CAST(count(*) OVER (PARTITION BY sha256(lower(trim(text)))) AS BIGINT) AS n_copies
        |  FROM documents)
        |SELECT doc_id, lang, source, text_hash, n_copies FROM h WHERE rn = 1""".stripMargin) {
      (s, d) =>
        TextOps.dedupExact(
          Tables.cachedTable(s, d, "documents").select("doc_id", "lang", "source", "text"))
          .select("doc_id", "lang", "source", "text_hash", "n_copies")
    },

    // Oracle is deliberately the NAIVE all-pairs formulation (no blocking
    // beyond the semantic lang block): nearDupPairs' prefix-filter
    // candidate generation is provably lossless, so matching the naive
    // oracle is exactly the claim under test.
    Q("dedup_near",
      s"""WITH t AS (
         |  SELECT doc_id, lang, $DuckTokens AS s FROM documents),
         |p AS (
         |  SELECT a1.doc_id AS doc_a, a2.doc_id AS doc_b,
         |         CASE WHEN len(list_distinct(list_concat(a1.s, a2.s))) = 0 THEN 0.0
         |              ELSE CAST(len(list_filter(a1.s, x -> list_contains(a2.s, x))) AS DOUBLE)
         |                   / len(list_distinct(list_concat(a1.s, a2.s))) END AS jaccard
         |  FROM t a1 JOIN t a2
         |    ON a1.lang = a2.lang AND a1.doc_id < a2.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= $NearDupTau""".stripMargin) {
      (s, d) => sharedNearDupPairs(s, d)
    },

    Q("sim_search_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id, round(list_cosine_similarity(e.v, p.pv), 5) AS cos_sim
        |FROM e, p WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin) {
      (s, d) =>
        VectorOps.topKByCosine(Tables.cachedTable(s, d, "embeddings"), probeId = 0L, k = 10)
    },

    // Metric surface beyond cosine (r8g): exact top-k by EUCLIDEAN
    // distance — embeddings that are not norm-calibrated (raw encoder
    // outputs, PQ residuals) rank differently under L2 than cosine, and
    // a vector engine must offer both. The gate stays sqrt-free: ranking
    // on SQUARED distance via the dot identity ||a−b||² = a·a − 2a·b +
    // b·b (three codegen'd FloatVecDot kernels; monotone in the true
    // distance), rounded to 5 like the cosine family so the float-vs-
    // double accumulation difference cannot reorder ties, with vec_id as
    // the unique tie-break. Same plan as sim_search_topk: 1-row probe
    // broadcast + one corpus pass + TakeOrderedAndProject.
    Q("sim_search_l2",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, p.pv)
        |             + list_dot_product(p.pv, p.pv), 5) AS dist_sq
        |FROM e, p WHERE e.vec_id <> 0
        |ORDER BY dist_sq ASC, e.vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.cachedTable(s, d, "embeddings")
      val probe = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").as("pv"))
      emb.crossJoin(broadcast(probe))
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"),
          round(VectorOps.l2SqF(col("embedding"), col("pv")), 5).as("dist_sq"))
        .orderBy(col("dist_sq").asc, col("vec_id"))
        .limit(10)
    },

    Q("sim_search_mmr",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        |cand AS (SELECT e.vec_id, round(list_cosine_similarity(e.v, p.pv), 5) AS cos_sim
        |         FROM e, p WHERE e.vec_id <> 0
        |         ORDER BY cos_sim DESC, e.vec_id LIMIT 8),
        |cu AS (SELECT vec_id, cos_sim,
        |              CAST(round(cos_sim * 100000) AS BIGINT) AS rel_u FROM cand),
        |cv AS (SELECT c.vec_id, e.v FROM cu c JOIN e USING (vec_id)),
        |pw AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |              CAST(round(round(list_cosine_similarity(a.v, b.v), 5) * 100000)
        |                   AS BIGINT) AS sim_u
        |       FROM cv a JOIN cv b ON a.vec_id <> b.vec_id),
        |s1 AS (SELECT vec_id, cos_sim, 7 * rel_u AS mmr_u FROM cu
        |       ORDER BY rel_u DESC, vec_id LIMIT 1),
        |r2 AS (SELECT cu.vec_id, cu.cos_sim,
        |              7 * cu.rel_u - 3 * (SELECT max(sim_u) FROM pw, s1
        |                                  WHERE pw.va = cu.vec_id
        |                                    AND pw.vb = s1.vec_id) AS mmr_u
        |       FROM cu WHERE cu.vec_id NOT IN (SELECT vec_id FROM s1)),
        |s2 AS (SELECT * FROM r2 ORDER BY mmr_u DESC, vec_id LIMIT 1),
        |sel AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
        |r3 AS (SELECT cu.vec_id, cu.cos_sim,
        |              7 * cu.rel_u - 3 * (SELECT max(sim_u) FROM pw
        |                                  WHERE pw.va = cu.vec_id
        |                                    AND pw.vb IN (SELECT vec_id FROM sel)) AS mmr_u
        |       FROM cu WHERE cu.vec_id NOT IN (SELECT vec_id FROM sel)),
        |s3 AS (SELECT * FROM r3 ORDER BY mmr_u DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rank, vec_id, cos_sim, mmr_u FROM s1
        |UNION ALL SELECT 2, vec_id, cos_sim, mmr_u FROM s2
        |UNION ALL SELECT 3, vec_id, cos_sim, mmr_u FROM s3""".stripMargin) { (s, d) =>
      // Diversified retrieval: MMR (Carbonell & Goldstein 1998) rerank of
      // the exact top-8 — pick 3 with score λ·rel − (1−λ)·max-sim-to-
      // selected (λ=0.7), the de-dup-at-selection-time step a training-
      // data sampler runs so near-identical neighbors don't all make the
      // batch. Greedy selection is inherently sequential, so the 3 steps
      // unroll (the graph_pagerank fixed-round convention) over
      // CHECKPOINTED candidate/pairwise frames — candidates are k-sized,
      // so each step is a trivial job; the corpus is scanned once for the
      // top-k and once for the 8 candidate vectors. Scores ride integer
      // micro-units of the ROUNDED cosines (7·rel_u − 3·sim_u), so both
      // engines rank identical integers — no float ordering anywhere.
      val emb = Tables.cachedTable(s, d, "embeddings")
      val cu = VectorOps.topKByCosine(emb, probeId = 0L, k = 8)
        .withColumn("rel_u", round(col("cos_sim") * 100000).cast("long"))
        .localCheckpoint(false)
      val cv = cu.select(col("vec_id"))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      val pw = cv.alias("a")
        .join(cv.alias("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          round(round(VectorOps.cosineF(col("a.embedding"), col("b.embedding")), 5)
            * 100000).cast("long").as("sim_u"))
        .localCheckpoint(false)
      // no checkpoint on the picks: they re-derive from the CHECKPOINTED
      // 8-row cu/pw frames, so each re-reference costs a limit-1 sort over
      // 8 rows — cheaper than the extra job a checkpoint would run
      def pick(r: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        r.orderBy(col("mmr_u").desc, col("vec_id")).limit(1)
      def maxSimTo(sel: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        pw.join(sel.select(col("vec_id").as("vb")), "vb")
          .groupBy(col("va")).agg(max(col("sim_u")).as("msim"))
      val s1 = pick(cu.select(col("vec_id"), col("cos_sim"), col("rel_u"),
        (col("rel_u") * 7).as("mmr_u")))
      def step(selected: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        pick(cu.join(selected.select("vec_id"), Seq("vec_id"), "left_anti")
          .join(maxSimTo(selected), cu("vec_id") === col("va"))
          .select(cu("vec_id"), col("cos_sim"), col("rel_u"),
            (col("rel_u") * 7 - col("msim") * 3).as("mmr_u")))
      val s2 = step(s1)
      val s3 = step(s1.unionByName(s2))
      Seq((s1, 1L), (s2, 2L), (s3, 3L)).map { case (df, r) =>
        df.select(lit(r).as("rank"), col("vec_id"), col("cos_sim"), col("mmr_u"))
      }.reduce(_ unionByName _)
    },

    Q("sim_search_batch",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 8),
        |s AS (
        |  SELECT p.probe_id, e.vec_id,
        |         round(list_cosine_similarity(e.v, p.pv), 5) AS cos_sim
        |  FROM e, p WHERE e.vec_id <> p.probe_id),
        |r AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |         row_number() OVER (PARTITION BY probe_id
        |                            ORDER BY cos_sim DESC, vec_id) AS rank
        |  FROM s)
        |SELECT probe_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin) {
      (s, d) =>
        // Batch-probe top-k: the realistic ANN request shape (N probes at
        // once). The probe set is broadcast (dimension-sized); the corpus
        // is scanned ONCE computing all probe cosines (probes × corpus
        // rows, never corpus × corpus), and per-probe top-5 goes through
        // the two-phase bucketed top-k so no probe's candidate set
        // funnels through a single task at 100 TB.
        val emb = Tables.cachedTable(s, d, "embeddings")
        val e = emb.select(col("vec_id"), col("embedding").as("v"))
        val p = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        val cos = VectorOps.cosineF(col("v"), col("pv"))
        val scored = e.crossJoin(broadcast(p))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), round(cos, 5).as("cos_sim"))
        TextOps.topKPerGroup(scored, Seq("probe_id"),
          Seq(col("cos_sim").desc, col("vec_id")), k = 5, bucketOn = col("vec_id"))
          .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rank"))
    },

    Q("sim_join_threshold",
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         |       round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= $CosTau""".stripMargin) {
      (s, d) =>
        VectorOps.cosineJoinThreshold(Tables.cachedTable(s, d, "embeddings"), tau = CosTau)
    },

    Q("sim_knn_graph", KnnOracleSql) {
      (s, d) =>
        // Directed k-NN graph (k=3), the SemDeDup/diversity-sampling/
        // graph-clustering substrate: every vector's nearest in-block
        // neighbors. See VectorOps.knnGraph for the blocked build and the
        // rounded-cosine ranking rule; at 100 TB the block is an IVF cell
        // and this is the cell-local kNN-graph construction. Cached: the
        // edge set doubles as graph_pagerank's input.
        knn3(s, d)
    },

    Q("graph_pagerank", {
      def it(i: Int, prev: String) =
        s"""it$i AS (
           |  SELECT v.vec_id, 0.15 / nn + 0.85 *
           |         (coalesce(sum(CAST(floor(p.pr / p.od * 1000000000000.0)
           |                            AS BIGINT)), 0) / 1000000000000.0) AS pr
           |  FROM nodes v CROSS JOIN n
           |  LEFT JOIN (SELECT e.dst, q.pr, o.od
           |             FROM e JOIN $prev q ON e.src = q.vec_id
           |                    JOIN od o ON o.src = e.src) p
           |    ON p.dst = v.vec_id
           |  GROUP BY v.vec_id, nn)"""
      val its = (1 to 5).map(i => it(i, if (i == 1) "pr0" else s"it${i - 1}"))
        .mkString(",\n")
      s"""WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
         |       FROM eemb a JOIN eemb b
         |         ON a.label = b.label AND a.vec_id <> b.vec_id),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY src
         |                                    ORDER BY cos_sim DESC, dst) AS rank
         |       FROM pp),
         |e AS (SELECT src, dst FROM rr WHERE rank <= 3),
         |od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
         |nodes AS (SELECT vec_id FROM embeddings),
         |n AS (SELECT count(*) AS nn FROM nodes),
         |pr0 AS (SELECT vec_id, 1.0 / nn AS pr FROM nodes CROSS JOIN n),
         |$its
         |SELECT vec_id, pr AS pagerank FROM it5""".stripMargin
    }) { (s, d) =>
      // PageRank (5 fixed iterations, d=0.85) over the kNN similarity
      // graph — the centrality/quality signal crawl curation attaches to
      // documents (CommonCrawl publishes per-host PageRank; here it scores
      // embedding-space centrality for diversity-aware selection). Edge
      // set = the SAME cached kNN build sim_knn_graph declares. See
      // GraphOps.pageRank for the decimal-quantized contribution ladder
      // and the per-iteration O(E)+O(V) shuffle shape; fixed depth keeps
      // the whole thing one declarative plan AND lets the oracle replay
      // it as unrolled CTEs.
      GraphOps.pageRank(
        Tables.cachedTable(s, d, "embeddings").select(col("vec_id").as("id")),
        knn3(s, d).select("src", "dst"), iters = 5)
        .select(col("id").as("vec_id"), col("pagerank"))
    },

    Q("graph_triangles",
      """WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
        |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |       FROM eemb a JOIN eemb b
        |         ON a.label = b.label AND a.vec_id <> b.vec_id),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY src
        |                                    ORDER BY cos_sim DESC, dst) AS rank
        |       FROM pp),
        |ud AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v, label
        |       FROM rr WHERE rank <= 3),
        |tr AS (SELECT ab.label
        |       FROM ud ab JOIN ud bc ON ab.v = bc.u
        |                  JOIN ud ac ON ac.u = ab.u AND ac.v = bc.v)
        |SELECT label, count(*) AS n_triangles FROM tr GROUP BY 1""".stripMargin) {
      (s, d) =>
        // Triangle census over the kNN similarity graph — the local-
        // clustering signal (tight triads = semantic clusters; triangle-
        // free hubs = boilerplate bridging unrelated docs). Edges = the
        // SAME cached kNN build sim_knn_graph declares, undirected via
        // least/greatest + distinct. The a<b<c orientation makes each
        // triangle count exactly once AND bounds the wedge join by
        // out-degree under the canonical order — the standard distributed
        // triangle-count shape (node-iterator++ on an id-ordered edge
        // list); at 100 TB orient by (degree, id) instead of raw id so
        // high-degree hubs sit last and wedge fan-out stays O(E·d_avg).
        // All three joins are equi on vertex ids.
        val ud = knn3(s, d)
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"), col("label"))
          .distinct()
        val ab = ud.select(col("u").as("a"), col("v").as("b"), col("label"))
        val bc = ud.select(col("u").as("b"), col("v").as("c"))
        val ac = ud.select(col("u").as("a"), col("v").as("c"))
        ab.join(bc, "b").join(ac, Seq("a", "c"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_triangles"))
    },

    // Local clustering coefficient (r8i) — graph_triangles' per-LABEL census
    // made per-NODE: coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the
    // Watts–Strogatz local density signal (coeff ≈ 1 → v sits in a clique
    // of semantic near-dups; coeff ≈ 0 → v is a hub bridging unrelated
    // docs — exactly the boilerplate-page signature an LLM-data curation
    // pass downweights). Same cached kNN edge build; each canonical
    // triangle (a<b<c) credits all three corners via one 3-wide explode, so
    // tri(v) is an equi-join + explode + count — never a per-node
    // neighborhood intersection. Determinism: deg and tri are exact
    // BIGINTs, coeff is ONE IEEE division of integers (bit-equal across
    // engines); deg<2 nodes emit 0.0 by definition rather than NULL.
    Q("graph_cluster_coeff",
      """WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |       FROM eemb a JOIN eemb b
        |         ON a.label = b.label AND a.vec_id <> b.vec_id),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY src
        |                                    ORDER BY cos_sim DESC, dst) AS rank
        |       FROM pp),
        |ud AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |       FROM rr WHERE rank <= 3),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM (SELECT u AS node FROM ud UNION ALL SELECT v FROM ud)
        |        GROUP BY 1),
        |tr AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |       FROM ud ab JOIN ud bc ON ab.v = bc.u
        |                  JOIN ud ac ON ac.u = ab.u AND ac.v = bc.v),
        |tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |        FROM (SELECT a AS node FROM tr UNION ALL SELECT b FROM tr
        |              UNION ALL SELECT c FROM tr)
        |        GROUP BY 1)
        |SELECT deg.node AS vec_id, deg,
        |       coalesce(n_tri, CAST(0 AS BIGINT)) AS n_tri,
        |       CASE WHEN deg >= 2
        |            THEN CAST(2 * coalesce(n_tri, 0) AS DOUBLE) / (deg * (deg - 1))
        |            ELSE 0.0 END AS clustering_coeff
        |FROM deg LEFT JOIN tpn ON deg.node = tpn.node""".stripMargin) {
      (s, d) =>
        val ud = knn3(s, d)
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .distinct()
        val deg = ud.select(col("u").as("node"))
          .unionAll(ud.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).cast("long").as("deg"))
        val ab = ud.select(col("u").as("a"), col("v").as("b"))
        val bc = ud.select(col("u").as("b"), col("v").as("c"))
        val ac = ud.select(col("u").as("a"), col("v").as("c"))
        val tpn = ab.join(bc, "b").join(ac, Seq("a", "c"))
          .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
          .groupBy("node").agg(count(lit(1)).cast("long").as("n_tri"))
        deg.join(tpn, Seq("node"), "left")
          .select(col("node").as("vec_id"), col("deg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            when(col("deg") >= 2,
              (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
                (col("deg") * (col("deg") - 1)))
              .otherwise(lit(0.0)).as("clustering_coeff"))
    },

    Q("graph_label_prop",
      LpCtes +
      """
        |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
        |FROM lp3 GROUP BY 1""".stripMargin) { (s, d) =>
      // Label propagation (Raghavan 2007, 3 fixed synchronous rounds) over
      // the kNN similarity graph — COMMUNITIES, not components: unlike
      // dedup_clusters' min-label CC, a bridge edge between two dense
      // clusters does not merge them unless a majority crosses it (the
      // semantic-cluster census for diversity-aware selection). Edge set =
      // the SAME cached kNN build, symmetrized. Fixed rounds + exact
      // integer (count DESC, label) tie-break keep the output unique and
      // the oracle an unrolled-CTE replay; per round one edge join +
      // (node, label) partial agg + degree-bounded per-node window — never
      // a global window. Emits the community-size census; the per-vertex
      // assignment is cached (lpComm) and shared with graph_modularity.
      lpComm(s, d)
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_members"))
    },

    // Modularity of the label-prop communities (r7, Newman & Girvan 2004)
    // — the single number that says whether the community structure is
    // real: Q = Σ_c [e_c/m − (deg_c/2m)²], near 0 for random partitions,
    // 0.3+ for genuine cluster structure. FULLY integer-exact over the
    // bidirected edge count M2 = 2m: Q = (M2·I2 − Σ_c deg_c²)/M2² with I2
    // the bidirected intra-community edge count — three BIGINT aggregates
    // and ONE ppm division, no float anywhere. COMPOSED: reads the SAME
    // cached community assignment graph_label_prop declares and the same
    // cached kNN build, so score and communities cannot drift.
    Q("graph_modularity",
      LpCtes +
      """,
        |dg AS (SELECT src AS vv, count(*) AS deg FROM ue GROUP BY 1),
        |vd AS (SELECT lp3.lbl, coalesce(dg.deg, 0) AS deg
        |       FROM lp3 LEFT JOIN dg ON dg.vv = lp3.vec_id),
        |dc AS (SELECT lbl, sum(deg) AS deg_c FROM vd GROUP BY 1),
        |ds AS (SELECT count(*) AS n_comm, sum(deg_c * deg_c) AS dsq FROM dc),
        |m2 AS (SELECT count(*) AS m2 FROM ue),
        |i2 AS (SELECT count(*) AS i2 FROM ue
        |       JOIN lp3 a ON a.vec_id = ue.src JOIN lp3 b ON b.vec_id = ue.dst
        |       WHERE a.lbl = b.lbl)
        |SELECT CAST(n_comm AS BIGINT) AS n_communities,
        |       CAST(m2 // 2 AS BIGINT) AS m_edges,
        |       CAST(m2 * i2 - dsq AS BIGINT) AS q_num,
        |       CAST(m2 * m2 AS BIGINT) AS q_den,
        |       CAST((m2 * i2 - dsq) * 1000000 // (m2 * m2) AS BIGINT)
        |         AS modularity_ppm
        |FROM ds, m2, i2""".stripMargin) { (s, d) =>
      // All marginal work is id-sized: one degree agg over the symmetrized
      // edges, two id-keyed community fetch joins for the intra count, and
      // three scalar frames crossJoined into the one-row report. At 100 TB
      // the community table is the persisted artifact; this is a single
      // narrow audit pass over it.
      val comm = lpComm(s, d)
      // Shared cached symmetrized edge set (r16; replaces the r15 per-run
      // localCheckpoint): deg, the m2 scalar and the intra-community count
      // each execute their own subtree, and all three now read the ONE
      // cached V·k-bounded frame — also shared with graph_assortativity.
      val ue = knn3Sym(s, d)
      val deg = ue.groupBy("src").agg(count(lit(1)).as("deg"))
      val ds = comm.join(deg, comm("id") === deg("src"), "left")
        .select(col("community"), coalesce(col("deg"), lit(0L)).as("deg"))
        .groupBy("community").agg(sum("deg").as("deg_c"))
        .agg(count(lit(1)).as("n_comm"), sum(col("deg_c") * col("deg_c")).as("dsq"))
      val m2 = ue.agg(count(lit(1)).as("m2"))
      val i2 = ue
        .join(comm.select(col("id").as("src"), col("community").as("ca")), "src")
        .join(comm.select(col("id").as("dst"), col("community").as("cb")), "dst")
        .filter(col("ca") === col("cb"))
        .agg(count(lit(1)).as("i2"))
      ds.crossJoin(broadcast(m2)).crossJoin(broadcast(i2))
        .select(col("n_comm").cast("long").as("n_communities"),
                expr("m2 div 2").cast("long").as("m_edges"),
                (col("m2") * col("i2") - col("dsq")).cast("long").as("q_num"),
                (col("m2") * col("m2")).cast("long").as("q_den"),
                expr("(m2 * i2 - dsq) * 1000000 div (m2 * m2)").cast("long")
                  .as("modularity_ppm"))
    },

    Q("split_assign",
      """WITH h AS (
        |  SELECT doc_id, lang,
        |         CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |       CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin) {
      (s, d) =>
        // Deterministic 90/5/5 train/val/test assignment by hashing the
        // STABLE id (never rand(): re-runs and backfills must land every
        // doc in the same split; never monotonically_increasing_id: it
        // depends on partitioning). Pure per-row arithmetic — the split
        // of a 100 TB corpus is a projection, and downstream filters on
        // `split` prune at the scan when written partitioned-by-split.
        // sha256 hex prefix -> int is the engine-portable hash (xxhash64
        // exists only in Spark, DuckDB hash() only in DuckDB).
        Tables.cachedTable(s, d, "documents").select(
          col("doc_id"), col("lang"),
          expr("CAST(conv(substr(sha2(CAST(doc_id AS STRING), 256), 1, 8), 16, 10) AS BIGINT) % 100")
            .as("bucket"))
          .withColumn("split",
            when(col("bucket") < 90, "train")
              .when(col("bucket") < 95, "val")
              .otherwise("test"))
    },

    // Temporal split with embargo (r8i) — split_assign's hash split is
    // WRONG for time-dependent data: a model must train strictly on the
    // past and be scored strictly on the future, with an EMBARGO gap
    // around each cutoff so rows whose effects straddle the boundary
    // (late-arriving labels, multi-day sessions) leak into neither side —
    // the standard leakage-safe eval protocol for event/market data
    // (cf. combinatorial purged CV). Cutoffs are fixed dates, never
    // quantiles: a quantile cutoff MOVES as data arrives, silently
    // reassigning history. Pure per-row timestamp comparison — the split
    // of a 100 TB event log is a projection, and date-partitioned layouts
    // prune whole partitions at the scan for any single-split reader.
    Q("split_temporal",
      """SELECT o_orderkey,
        |       CASE WHEN o_orderdate <  TIMESTAMP '2000-01-01' THEN 'train'
        |            WHEN o_orderdate <  TIMESTAMP '2000-02-01' THEN 'embargo'
        |            WHEN o_orderdate <  TIMESTAMP '2001-01-01' THEN 'val'
        |            WHEN o_orderdate <  TIMESTAMP '2001-02-01' THEN 'embargo'
        |            ELSE 'test' END AS split
        |FROM orders""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_orderdate") < lit("2000-01-01").cast("timestamp"), "train")
          .when(col("o_orderdate") < lit("2000-02-01").cast("timestamp"), "embargo")
          .when(col("o_orderdate") < lit("2001-01-01").cast("timestamp"), "val")
          .when(col("o_orderdate") < lit("2001-02-01").cast("timestamp"), "embargo")
          .otherwise("test").as("split"))
    },

    Q("text_tokens",
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY token""".stripMargin) {
      (s, d) =>
        Tables.cachedTable(s, d, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
    },

    Q("text_stats",
      """SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |       CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE) / count(*) AS avg_tokens
        |FROM documents GROUP BY lang""".stripMargin) {
      (s, d) =>
        // Integer sums are exact in any order → the double divisions are
        // bit-identical across engines without rounding.
        Tables.cachedTable(s, d, "documents")
          .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            sum("n_tokens").as("total_tokens"),
            (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
            (sum("n_tokens").cast("double") / count(lit(1))).as("avg_tokens"))
    },

    Q("text_ngrams",
      """WITH b AS (
        |  SELECT lang, unnest(list_transform(generate_series(1, len(t) - 1),
        |                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM (SELECT lang, string_split(lower(text), ' ') AS t FROM documents)
        |  WHERE len(t) >= 2),
        |c AS (SELECT lang, bigram, count(*) AS cnt FROM b GROUP BY 1, 2),
        |r AS (SELECT lang, bigram, cnt,
        |             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
        |      FROM c)
        |SELECT lang, bigram, CAST(cnt AS BIGINT) AS n, CAST(rn AS BIGINT) AS rank
        |FROM r WHERE rn <= 5""".stripMargin) {
      (s, d) =>
        // Two-phase top-k (bucketed local + global merge): a rank window
        // partitioned by lang alone funnels the whole bigram vocabulary of
        // a language through one task at scale.
        val counts = Tables.cachedTable(s, d, "documents")
          .select(col("lang"), TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("lang"), explode(TextOps.bigrams(col("t"))).as("bigram"))
          .groupBy("lang", "bigram")
          .agg(count(lit(1)).as("n"))
        TextOps.topKPerGroup(counts, Seq("lang"),
          Seq(col("n").desc, col("bigram")), k = 5, bucketOn = col("bigram"))
          .select(col("lang"), col("bigram"), col("n"), col("rank"))
    },

    Q("sim_search_ivf",
      KMeansSql.codebookCtes() +
      s""",
        |idx AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()} WHERE rn = 1),
        |pcells AS (SELECT cell FROM ${KMeansSql.scoredCte()}
        |           WHERE vec_id = 0 AND rn <= ${KMeansSql.NProbeSearch}),
        |el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |probe AS (SELECT v AS pv FROM el WHERE vec_id = 0)
        |SELECT el.vec_id, el.label,
        |       round(list_cosine_similarity(el.v, probe.pv), 5) AS cos_sim
        |FROM el JOIN idx USING (vec_id) JOIN pcells USING (cell), probe
        |WHERE el.vec_id <> 0
        |ORDER BY cos_sim DESC, el.vec_id LIMIT 10""".stripMargin) {
      (s, d) =>
        // Classic IVF ANN over the deterministic k-means codebook (r5 —
        // was label-cells): the MATERIALIZED index (KMeansSql.index:
        // corpus stored under its home cell, built once and amortized
        // over all queries — at 100 TB, a bucketed-by-cell write) joins
        // the probe's nprobe = 3 broadcast best cells; exact codegen'd
        // cosine ranks only vectors inside those cells (~13% of the
        // corpus at k≈23). Per-query plan: index scan → broadcast-hash
        // join → TakeOrderedAndProject — ZERO corpus exchanges (pinned
        // by PlanSpec). pcells and the index both derive from the ONE
        // shared cached scored assignment, exactly how the oracle reads
        // its scored CTE twice.
        val emb = Tables.cachedTable(s, d, "embeddings")
        val pcells = KMeansSql.assignments(s, d)
          .filter(col("vec_id") === 0 && col("rn") <= KMeansSql.NProbeSearch)
          .select("cell")
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("pv"))
        val cos = VectorOps.cosineF(col("embedding"), col("pv"))
        KMeansSql.index(s, d)
          .join(broadcast(pcells), "cell")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("label"), round(cos, 5).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    // FILTERED vector search (r8b) — the production ANN feature every
    // store ships after plain top-k: "nearest neighbors of the probe
    // AMONG label = 3 rows only". The metadata predicate applies BEFORE
    // the distance computation inside the probed cells (pre-filtering) —
    // post-filtering a global top-k instead starves arbitrarily when the
    // predicate is selective, which is why engines moved the filter into
    // the index walk. Cell-blocked semantics are declared (the oracle
    // replicates the nprobe cells, as dedup_embed_ivf's does); at 100 TB
    // a hot predicate column graduates into the index layout itself —
    // bucket by (label, cell) — leaving this exact plan intact.
    Q("sim_search_filtered",
      KMeansSql.codebookCtes() +
      s""",
        |idx AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()} WHERE rn = 1),
        |pcells AS (SELECT cell FROM ${KMeansSql.scoredCte()}
        |           WHERE vec_id = 0 AND rn <= ${KMeansSql.NProbeSearch}),
        |el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |probe AS (SELECT v AS pv FROM el WHERE vec_id = 0)
        |SELECT el.vec_id, el.label,
        |       round(list_cosine_similarity(el.v, probe.pv), 5) AS cos_sim
        |FROM el JOIN idx USING (vec_id) JOIN pcells USING (cell), probe
        |WHERE el.vec_id <> 0 AND el.label = 3
        |ORDER BY cos_sim DESC, el.vec_id LIMIT 10""".stripMargin) {
      (s, d) =>
        // Same zero-corpus-exchange plan as sim_search_ivf (shared cached
        // assignment + materialized index), plus one pushed predicate.
        val emb = Tables.cachedTable(s, d, "embeddings")
        val pcells = KMeansSql.assignments(s, d)
          .filter(col("vec_id") === 0 && col("rn") <= KMeansSql.NProbeSearch)
          .select("cell")
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("pv"))
        val cos = VectorOps.cosineF(col("embedding"), col("pv"))
        KMeansSql.index(s, d)
          .join(broadcast(pcells), "cell")
          .filter(col("vec_id") =!= 0 && col("label") === 3)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("label"), round(cos, 5).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    Q("sim_search_lsh",
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |pos AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS p1, unnest(v) AS x
         |        FROM e),
         |grid AS (SELECT t, j FROM generate_series(0, ${LshTables - 1}) g1(t),
         |                          generate_series(0, ${LshBits - 1}) g2(j)),
         |proj AS (
         |  SELECT vec_id, t, j,
         |         CAST(sum(CAST(x * (1 - 2 * ((((t * $LshBits + j) * 1000003 + p1 - 1)
         |              * 2654435761) % 4294967296 % 2)) AS DECIMAL(27,12))) AS DOUBLE) AS dproj
         |  FROM pos, grid GROUP BY 1, 2, 3),
         |sigs AS (SELECT vec_id, t,
         |                sum((CASE WHEN dproj >= 0 THEN 1 ELSE 0 END) << j) AS sig
         |         FROM proj GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT s.vec_id
         |         FROM sigs s JOIN sigs q ON s.t = q.t AND s.sig = q.sig
         |         WHERE q.vec_id = 0 AND s.vec_id <> 0),
         |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(list_cosine_similarity(e.v, probe.pv), 5) AS cos_sim
         |FROM e JOIN cand USING (vec_id), probe
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin) {
      (s, d) =>
        // Hyperplane-LSH ANN — the training-free alternate to
        // sim_search_ivf: signatures need no codebook build, so the index
        // exists the moment the vectors are ingested (the right trade
        // when the corpus churns faster than a quantizer is worth
        // retraining). Probe plan: the probe's per-table signatures
        // broadcast into the signature index; only vectors colliding in
        // >= 1 of the LshTables tables reach the exact codegen'd cosine
        // (expected ~LshTables/2^LshBits of an isotropic corpus — ~6%
        // here); top-k via TakeOrderedAndProject. The signature pass and
        // index reuse mirror the IVF index economics at 100 TB: build
        // once in the ingest scan, store (id, t, sig) bucketed by sig.
        val emb = Tables.cachedTable(s, d, "embeddings")
        val sigs = Tables.cached(s, s"$d/lsh-sigs/t=$LshTables/b=$LshBits") {
          VectorOps.lshSignatures(emb, LshTables, LshBits)
        }
        val probeSigs = sigs.filter(col("vec_id") === 0).select("t", "sig")
        val cands = sigs.join(broadcast(probeSigs), Seq("t", "sig"))
          .filter(col("vec_id") =!= 0)
          .select("vec_id").distinct()
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("pv"))
        val cos = VectorOps.cosineF(col("embedding"), col("pv"))
        emb.join(cands, "vec_id")
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("label"), round(cos, 5).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    Q("sim_search_sq8",
      """WITH a AS (
        |  SELECT vec_id, embedding AS v,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, amax,
        |         list_transform(v, x ->
        |           CAST(floor((CAST(x AS DOUBLE) * 127) / amax + 0.5) AS BIGINT)) AS qs,
        |         sqrt(list_dot_product(v::DOUBLE[], v::DOUBLE[])) AS nrm
        |  FROM a),
        |p AS (SELECT qs AS pqs, amax AS p_amax, nrm AS p_nrm FROM c WHERE vec_id = 0)
        |SELECT c.vec_id,
        |       CAST(list_dot_product(qs::DOUBLE[], pqs::DOUBLE[]) AS BIGINT) AS dot_q,
        |       round((CAST(list_dot_product(qs::DOUBLE[], pqs::DOUBLE[]) AS BIGINT)
        |              * 1.0 * amax * p_amax) / (16129.0 * nrm * p_nrm), 5) AS approx_cos
        |FROM c, p WHERE c.vec_id <> 0
        |ORDER BY approx_cos DESC, c.vec_id LIMIT 10""".stripMargin) {
      (s, d) =>
        // SQ8 ADC search — searching OVER the int8 codes embed_quantize
        // produces (FAISS's SQ8 flavor): approximate cosine from an exact
        // BIGINT integer dot of the code arrays, rescaled by the two
        // per-vector quantizer scales. The 100 TB point is memory
        // bandwidth: the scan streams 1-byte codes (array<tinyint> on the
        // wire) at 4x the vectors/s of float32, with the codegen'd
        // ByteVecDot kernel (a tight primitive loop inside WSCG — HOFs
        // are interpreted) and no shuffle: 1-row broadcast probe + one
        // corpus pass + TakeOrderedAndProject. Exactness: codes are
        // integer-exact in both engines (proved by embed_quantize's hash
        // gate), the integer dot is exact BIGINT (|q_i·x_i| <= 127² —
        // far under 2^53 even at dim 4096), and the rescale is one
        // identically-associated IEEE chain, rounded at 5 dp for ranking.
        val codes = Tables.cached(s, s"$d/sq8-codes") {
          graft.operators.CurateOps.quantizeInt8(
            Tables.cachedTable(s, d, "embeddings"))
            .withColumn("qb", col("qs").cast("array<tinyint>"))
            .withColumn("nrm", sqrt(VectorOps.normSqF(col("embedding"))))
            .select("vec_id", "qb", "amax_raw", "nrm")
        }
        val probe = codes.filter(col("vec_id") === 0)
          .select(col("qb").as("pqb"), col("amax_raw").as("p_amax"),
            col("nrm").as("p_nrm"))
        codes.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .withColumn("dot_q", VectorOps.dotB(col("qb"), col("pqb")))
          .withColumn("approx_cos",
            round((col("dot_q") * lit(1.0) * col("amax_raw") * col("p_amax"))
              / (lit(16129.0) * col("nrm") * col("p_nrm")), 5))
          .select("vec_id", "dot_q", "approx_cos")
          .orderBy(col("approx_cos").desc, col("vec_id")).limit(10)
    },

    Q("sim_search_pq",
      s"""$PqAdcSql
         |SELECT vec_id, adc_cos FROM adc
         |ORDER BY adc_cos DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
      // Product-quantization ADC search (Jégou et al. 2011) — the last
      // member of the ANN family (flat / IVF / LSH / SQ8 / PQ): the
      // unit vector splits into PqM contiguous subspaces, each quantized
      // by its own deterministic spherical k-means (VectorOps.pqCodebook —
      // kmeansCodebook's algorithm with `sub` in every key, same seeds in
      // every subspace, so the DuckDB oracle replays the whole build via
      // KMeansSql.pqCtes). A query computes ONE m×k lookup table of
      // probe-slice·centroid dots, then scores every vector as the sum of
      // its m table entries — asymmetric distance computation: the
      // database side is never decoded.
      //
      // 100 TB shape: the wide code index (one row per vector, m cell-id
      // bytes — the 64× memory cut vs raw floats) is built once
      // (KMeansSql.pqCodesWide, amortized); the query is one scan of that
      // narrow table + m broadcast lookup joins + TakeOrderedAndProject —
      // ZERO per-query shuffles of anything corpus-sized. Exactness: qd
      // entries via DECIMAL(27,12) per-term sums; the m-entry ADC sum
      // quantizes each entry to DECIMAL(18,6) then adds exactly (order
      // irrelevant), matching the oracle's decimal sum; one round(·,5).
      pqAdcScores(s, d)
        .orderBy(col("adc_cos").desc, col("vec_id")).limit(20)
    },

    Q("sim_search_pq_refine",
      s"""$PqAdcSql,
         |short AS (SELECT vec_id, adc_cos FROM adc
         |          ORDER BY adc_cos DESC, vec_id LIMIT 50)
         |SELECT s.vec_id, s.adc_cos,
         |       round(list_cosine_similarity(e.v, p.pv), 5) AS cos_sim
         |FROM short s JOIN e ON e.vec_id = s.vec_id
         |CROSS JOIN (SELECT v AS pv FROM e
         |            WHERE vec_id = ${KMeansSql.PqProbeId}) p
         |ORDER BY cos_sim DESC, s.vec_id LIMIT 10""".stripMargin) { (s, d) =>
      // The production two-stage ANN read path (FAISS's search+refine):
      // the compressed-domain ADC scan shortlists top-50 candidates from
      // codes alone, then ONLY those 50 vectors are decoded for an exact
      // cosine re-rank — quantization error never decides the final
      // ranking, it only has to keep true neighbors inside the shortlist.
      // 100 TB shape: stage 1 is sim_search_pq's zero-shuffle code scan;
      // stage 2 broadcasts the 50-row shortlist INTO the one full-vector
      // scan (a per-task hash filter — the corpus never shuffles, and at
      // cluster scale the fetch would be an id-pushdown point read of the
      // vector store). Exact cosine via the codegen'd float dot, same
      // round-5 rule as sim_search_topk.
      val emb = Tables.cachedTable(s, d, "embeddings")
      val shortlist = pqAdcScores(s, d)
        .orderBy(col("adc_cos").desc, col("vec_id")).limit(50)
      val p = emb.filter(col("vec_id") === KMeansSql.PqProbeId)
        .select(col("embedding").as("pv"))
      emb.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(p))
        .select(col("vec_id"), col("adc_cos"),
          round(VectorOps.cosineF(col("embedding"), col("pv")), 5).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    Q("sim_hard_negatives", {
      val sc = KMeansSql.scoredCte()
      s"""${KMeansSql.codebookCtes()},
         |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |         FROM (SELECT vec_id, cell FROM $sc WHERE rn <= ${KMeansSql.nProbeDedupSql}) a
         |         JOIN (SELECT vec_id, cell FROM $sc WHERE rn <= ${KMeansSql.nProbeDedupSql}) b
         |           USING (cell)
         |         WHERE a.vec_id <> b.vec_id),
         |x AS (SELECT c.src, c.dst,
         |             round(list_cosine_similarity(ea.v, eb.v), 5) AS cos_sim
         |      FROM cand c
         |      JOIN e ea ON ea.vec_id = c.src
         |      JOIN e eb ON eb.vec_id = c.dst
         |      JOIN embeddings la ON la.vec_id = c.src
         |      JOIN embeddings lb ON lb.vec_id = c.dst
         |      WHERE la.label <> lb.label),
         |r AS (SELECT src, dst, cos_sim,
         |             row_number() OVER (PARTITION BY src
         |                                ORDER BY cos_sim DESC, dst) AS rank
         |      FROM x)
         |SELECT src, CAST(rank AS BIGINT) AS rank, dst, cos_sim
         |FROM r WHERE rank <= 3""".stripMargin
    }) { (s, d) =>
      // Hard-negative mining — the contrastive-training data op (retrieval
      // / embedding fine-tuning wants, per anchor, the most-similar
      // vectors of a DIFFERENT class): top-3 cross-label neighbors among
      // candidates sharing one of the anchor's NProbeDedup IVF probe
      // cells. Cross-label search can't use the label-blocked kNN build
      // (sim_knn_graph) — blocking must come from geometry, not the
      // label — so it rides the SAME shared cached IVF assignment the
      // dedup family probes, and the oracle replays the full codebook
      // chain (losslessness is NOT claimed vs the unblocked quadratic —
      // the cell blocking IS the declared semantics, same contract as
      // dedup_embed_ivf).
      //
      // 100 TB shape: candidates only where probe cells collide (the IVF
      // index prunes the quadratic); one distinct pair shuffle + two id
      // fetch joins; the per-anchor top-3 window runs over cell-bounded
      // candidate sets, never the corpus.
      val emb = Tables.cachedTable(s, d, "embeddings")
      val probe = KMeansSql.assignments(s, d)
        .filter(col("rn") <= KMeansSql.nProbeDedup(emb.count())).select("vec_id", "cell")
      val cand = probe.select(col("vec_id").as("src"), col("cell"))
        .join(probe.select(col("vec_id").as("dst"), col("cell")), "cell")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      val ea = emb.select(col("vec_id").as("src"), col("embedding").as("va"),
        col("label").as("la"))
      val eb = emb.select(col("vec_id").as("dst"), col("embedding").as("vb"),
        col("label").as("lb"))
      val cos = VectorOps.cosineF(col("va"), col("vb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("cos_sim").desc, col("dst"))
      cand.join(ea, "src").join(eb, "dst")
        .filter(col("la") =!= col("lb"))
        .select(col("src"), col("dst"), round(cos, 5).as("cos_sim"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("src", "rank", "dst", "cos_sim")
    },

    Q("multimodal_binary",
      """SELECT doc_id, 'text/plain' AS mime,
        |       CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
        |       CAST(ascii(substr(text, n_chars, 1)) AS BIGINT) AS last_byte
        |FROM documents""".stripMargin) {
      (s, d) =>
        // Opaque-binary column plumbing: content as BinaryType + typed
        // metadata. The decode/feature-extraction path (stubbed
        // deterministic "codec") lives in operators.MultimodalOps with its
        // own spec; this query pins the schema + byte-level metadata the
        // oracle can check (corpus is ASCII, so ascii(char)==byte).
        Tables.cachedTable(s, d, "documents").select(
          col("doc_id"),
          lit("text/plain").as("mime"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"),
          ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"),
          ascii(expr("substr(text, CAST(n_chars AS INT), 1)")).cast("long").as("last_byte"))
    },

    Q("multimodal_decode",
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(4 + n_nationkey % 5 AS INT) AS width,
        |       CAST(3 + n_nationkey % 4 AS INT) AS height,
        |       CAST((n_nationkey * 37) % 256 AS INT) AS gray_level
        |FROM nation""".stripMargin) {
      (s, d) =>
        // REAL codec in the gate (r7 ask #7): encode one genuine PNG per
        // nation row — dims and uniform gray level are closed-form
        // functions of the key — then decode it back with the JDK's
        // ImageIO (MultimodalOps.extractImageFeatures) inside the
        // per-partition batch and report what the DECODER measured. The
        // oracle recomputes the closed form, so a wrong decode (dims off,
        // pixel values off, fallback row) flips the hash. gray_level is
        // the decoded mean luminance re-scaled to the byte domain:
        // round(mean·255) is integer-exact for a uniform image (float
        // accumulation error « 0.5), sidestepping float-vs-double
        // round(…, 5) boundary fragility. 100 TB shape: row-local
        // encode→decode, no shuffle; the codec initializes once per
        // partition, and a corrupt payload costs one fallback row, not a
        // task retry (pinned in MultimodalSpec).
        import s.implicits._
        import graft.operators.{MediaRecord, MultimodalOps}
        val media = Tables.cachedTable(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("id")).as[Long]
          .map { id =>
            val w = (4 + id % 5).toInt
            val h = (3 + id % 4).toInt
            val g = ((id * 37) % 256).toInt
            MediaRecord(id, "image/png",
              MultimodalOps.pngBytes(w, h)((_, _) => (g << 16) | (g << 8) | g))
          }
        MultimodalOps.extractImageFeatures(media, grid = 1)
          .map(f => (f.id, f.width, f.height, math.round(f.feature(0) * 255f)))
          .toDF("id", "width", "height", "gray_level")
    },

    // REAL audio decode in the gate (r8i; container-genuine in r9) — the
    // audio sibling of multimodal_decode: synthesize one genuine WAV
    // (RIFF) container per nation row — a real 44-byte header (fmt chunk
    // carrying a key-dependent sample rate) around a ±amp square-wave
    // PCM16 payload with a key-dependent silent tail — then walk the
    // container back with MultimodalOps.parseWav (magic check, chunk walk
    // with even-byte padding, fmt/data collection) and byte-decode the
    // data chunk with pcmFeatures. Rows with key % 13 = 0 get their RIFF
    // magic corrupted ("RIFX") and MUST come back decoded=false and be
    // QUARANTINED (filtered here; a sink in production) — the oracle's
    // WHERE clause excludes exactly those keys, so a parser that accepts
    // bad magic, or drops/mangles a good container, flips the hash. The
    // reported sample_rate comes from the PARSED HEADER, not the fixture
    // closed form, so a wrong le32 offset flips the hash too. All
    // features are exact integers; silence_ratio is ONE IEEE division.
    // 100 TB shape: row-local encode→parse→decode behind one
    // mapPartitions batch, payload bytes never shuffle.
    Q("multimodal_audio_energy",
      """WITH a AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |         CAST(8000 + 100 * (n_nationkey % 3) AS BIGINT) AS sample_rate,
        |         CAST(160 + 32 * (n_nationkey % 5) AS BIGINT) AS n_samples,
        |         CAST(500 + 37 * n_nationkey AS BIGINT) AS peak_abs,
        |         CAST((160 + 32 * (n_nationkey % 5)) * (1 + n_nationkey % 4) // 8
        |              AS BIGINT) AS n_zero
        |  FROM nation WHERE n_nationkey % 13 <> 0)
        |SELECT id, sample_rate, n_samples, peak_abs,
        |       CAST((n_samples - n_zero) * peak_abs * peak_abs AS BIGINT) AS sum_sq,
        |       n_zero,
        |       CAST(n_zero AS DOUBLE) / n_samples AS silence_ratio
        |FROM a""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val media = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val n = (160 + 32 * (id % 5)).toInt       // divisible by 32
          val amp = (500 + 37 * id).toShort          // < 32767: PCM16-safe
          val nZero = (n * (1 + id % 4) / 8).toInt   // exact: 8 | n
          val samples = new Array[Short](n)
          var i = 0
          while (i < n - nZero) {                    // ±amp square wave, period 8
            samples(i) = if ((i / 4) % 2 == 0) amp else (-amp).toShort
            i += 1
          }                                          // tail stays 0 (silence)
          val wav = MultimodalOps.wavBytes(samples, (8000 + 100 * (id % 3)).toInt)
          if (id % 13 == 0) wav(3) = 'X'.toByte      // RIFF -> RIFX: bad magic
          MediaRecord(id, "audio/wav", wav)
        }
      MultimodalOps.extractWavFeatures(media)
        .toDF()
        .filter(col("decoded"))                      // quarantine malformed
        .select(col("id"), col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"),
          col("peakAbs").as("peak_abs"), col("sumSq").as("sum_sq"),
          col("nZero").as("n_zero"),
          (col("nZero").cast("double") / col("nSamples")).as("silence_ratio"))
    },

    // Video scene-cut detection (r8i) — the video sibling of the decode
    // gates: one synthetic "video" per nation row (fixed-size frame blocks;
    // the fill byte changes every seg-th frame at closed-form positions),
    // frame-sampled with MultimodalOps.sampleFrames (the bounded explode),
    // then cuts = per-video count of consecutive-frame fingerprint changes
    // via ONE id-keyed lag window. The oracle recomputes the closed form
    // floor((nFrames−1)/seg), so a frame-boundary off-by-one, a wrong
    // stride, or a fingerprint collision across distinct frames flips the
    // hash. 100 TB shape: payloads explode into (id, idx, fingerprint)
    // rows — 16 bytes each, not frame bytes — so the shuffle to the lag
    // window moves fingerprints, never media; a real pipeline swaps the
    // rolling-hash fingerprint for a perceptual one (dHash per frame) with
    // the same plan.
    Q("multimodal_scene_cuts",
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(8 + n_nationkey % 5 AS BIGINT) AS n_frames,
        |       CAST((8 + n_nationkey % 5 - 1) // (2 + n_nationkey % 3)
        |            AS BIGINT) AS n_cuts
        |FROM nation""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val frameBytes = 64
      val media = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val nFrames = (8 + id % 5).toInt
          val seg = (2 + id % 3).toInt
          val bytes = new Array[Byte](nFrames * frameBytes)
          var f = 0
          while (f < nFrames) {
            val fill = ((id * 31 + f / seg) % 251).toByte
            java.util.Arrays.fill(bytes, f * frameBytes, (f + 1) * frameBytes, fill)
            f += 1
          }
          MediaRecord(id, "video/raw", bytes)
        }
      val frames = MultimodalOps.sampleFrames(media, frameBytes).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("frameIdx")
      frames
        .withColumn("prev", lag(col("fingerprint"), 1).over(w))
        .groupBy("id")
        .agg(count(lit(1)).cast("long").as("n_frames"),
          count_if(col("prev").isNotNull && col("prev") =!= col("fingerprint"))
            .as("n_cuts"))
    },

    // Real thumbnail resize in the gate (r8g): the same uniform-gray PNGs
    // as multimodal_decode, pushed through MultimodalOps.thumbnail
    // (decode → Graphics2D bilinear scale to maxSide=4, never upscale →
    // PNG re-encode) and re-DECODED — the output dims are what the second
    // decoder measured, and the oracle recomputes the scale arithmetic
    // closed-form (round(w·(4.0/max)) — the identical IEEE tree; .5
    // boundaries only arise at max=8 where the scale is exactly 0.5, and
    // both engines round .5 up for positives). gray_level survives
    // bilinear resampling EXACTLY on a uniform image (all interpolation
    // samples equal), so a wrong filter kernel or border handling flips
    // the hash. 100 TB shape: row-local decode→scale→encode behind one
    // mapPartitions batch (codec init per partition), no shuffle; corrupt
    // payloads pass through unchanged rather than failing the task.
    Q("multimodal_resize",
      """WITH ids AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |         4 + n_nationkey % 5 AS w, 3 + n_nationkey % 4 AS h,
        |         (n_nationkey * 37) % 256 AS g
        |  FROM nation),
        |sc AS (SELECT id, w, h, g, greatest(w, h) AS m FROM ids)
        |SELECT id,
        |       CAST(CASE WHEN m <= 4 THEN w
        |                 ELSE greatest(1, CAST(round(w * (CAST(4 AS DOUBLE) / m)) AS BIGINT))
        |            END AS INT) AS width,
        |       CAST(CASE WHEN m <= 4 THEN h
        |                 ELSE greatest(1, CAST(round(h * (CAST(4 AS DOUBLE) / m)) AS BIGINT))
        |            END AS INT) AS height,
        |       CAST(g AS INT) AS gray_level
        |FROM sc""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val media = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val w = (4 + id % 5).toInt
          val h = (3 + id % 4).toInt
          val g = ((id * 37) % 256).toInt
          MediaRecord(id, "image/png",
            MultimodalOps.pngBytes(w, h)((_, _) => (g << 16) | (g << 8) | g))
        }
      MultimodalOps.extractImageFeatures(
          MultimodalOps.thumbnail(media, maxSide = 4), grid = 1)
        .map(f => (f.id, f.width, f.height, math.round(f.feature(0) * 255f)))
        .toDF("id", "width", "height", "gray_level")
    },

    // Dominant-color census over a REAL decode (r8h): each nation key
    // yields a deterministic TWO-color PNG (left k columns color A, rest
    // color B — both closed-form functions of the key), pushed through
    // ImageIO and a 4-bit/channel histogram; the dominant bucket + pixel
    // share come from what the DECODER saw. Unlike multimodal_decode's
    // uniform-gray fixture this exercises POSITION-dependent pixels, so a
    // decoder that transposes axes, drops columns, or mis-strides scan
    // lines flips the hash even when the mean survives. The oracle
    // recomputes bucket ids (channel >> 4) and the k·h vs (w−k)·h pixel
    // race closed-form — integer-exact, ties to the smaller bucket id.
    // 100 TB shape: row-local encode→decode→histogram behind mapPartitions
    // (codec init once per partition), no shuffle; a corrupt payload costs
    // one (-1) fallback row, never a task retry.
    Q("multimodal_dominant_color",
      """WITH ids AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |         4 + n_nationkey % 5 AS w, 3 + n_nationkey % 4 AS h,
        |         1 + n_nationkey % (3 + n_nationkey % 5) AS k,
        |         (n_nationkey * 37) % 256 AS ra, (n_nationkey * 59) % 256 AS ga,
        |         (n_nationkey * 83) % 256 AS ba,
        |         (n_nationkey * 101) % 256 AS rb, (n_nationkey * 113) % 256 AS gb,
        |         (n_nationkey * 127) % 256 AS bb
        |  FROM nation),
        |b AS (
        |  SELECT id, w, h, k,
        |         (ra // 16) * 256 + (ga // 16) * 16 + (ba // 16) AS bka,
        |         (rb // 16) * 256 + (gb // 16) * 16 + (bb // 16) AS bkb
        |  FROM ids),
        |c AS (
        |  SELECT id, w, h,
        |         CASE WHEN bka = bkb THEN bka
        |              WHEN k * h > (w - k) * h THEN bka
        |              WHEN (w - k) * h > k * h THEN bkb
        |              ELSE least(bka, bkb) END AS bucket,
        |         CASE WHEN bka = bkb THEN CAST(w * h AS BIGINT)
        |              ELSE CAST(greatest(k * h, (w - k) * h) AS BIGINT)
        |         END AS cnt
        |  FROM b)
        |SELECT id, CAST(bucket AS INT) AS bucket,
        |       CAST(cnt * 1000000 // (w * h) AS BIGINT) AS share_ppm,
        |       cnt AS n_dom_pixels
        |FROM c""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val media = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val w = (4 + id % 5).toInt
          val h = (3 + id % 4).toInt
          val k = (1 + id % (w - 1)).toInt
          val rgbA = ((id * 37) % 256).toInt << 16 |
            ((id * 59) % 256).toInt << 8 | ((id * 83) % 256).toInt
          val rgbB = ((id * 101) % 256).toInt << 16 |
            ((id * 113) % 256).toInt << 8 | ((id * 127) % 256).toInt
          MediaRecord(id, "image/png",
            MultimodalOps.pngBytes(w, h)((x, _) => if (x < k) rgbA else rgbB))
        }
      media.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { m =>
          MultimodalOps.decodeImage(m.content) match {
            case Some(img) =>
              val (bucket, cnt) = MultimodalOps.dominantColorBucket(img)
              val px = img.getWidth.toLong * img.getHeight
              (m.id, bucket, cnt * 1000000L / px, cnt)
            case None => (m.id, -1, -1L, -1L)
          }
        }
      }.toDF("id", "bucket", "share_ppm", "n_dom_pixels")
    },

    Q("multimodal_phash",
      """WITH ids AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |         1 + c_custkey % 16 AS a, (c_custkey % 7) * 3 AS b
        |  FROM customer),
        |bits AS (
        |  SELECT id,
        |         string_agg(CASE WHEN (a*(x+1) + b*y) % 256 > (a*x + b*y) % 256
        |                         THEN '1' ELSE '0' END, '' ORDER BY y * 8 + x)
        |           AS phash
        |  FROM ids, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)
        |  GROUP BY id)
        |SELECT id, phash,
        |       min(id) OVER (PARTITION BY phash) AS keep_id,
        |       CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS group_n
        |FROM bits""".stripMargin) {
      (s, d) =>
        // Perceptual-hash image dedup over the REAL codec: one genuine
        // 9x8 gradient PNG per customer row (pixel luminance is the
        // closed form (a·x + b·y) mod 256 with (a, b) functions of the
        // key), decoded back with ImageIO and dHashed — 64 horizontal
        // gradient-sign bits (MultimodalOps.dHash). The oracle recomputes
        // every bit arithmetically, so a decode, pooling, or bit-order
        // bug flips the hash; rows sharing (a, b) collide by construction
        // and the exact-hash group becomes the near-dup cluster
        // (keep = min id — the dedup_exact survivor rule). 100 TB shape:
        // hashing is row-local behind a per-partition codec batch; only
        // the 8-byte fingerprint shuffles for the group; at
        // hamming-distance > 0 the 64 bits band into 4x16-bit keys and
        // ride the dedup_simhash bucket-join machinery unchanged.
        import s.implicits._
        import graft.operators.{MediaRecord, MultimodalOps}
        val media = Tables.cachedTable(s, d, "customer")
          .select(col("c_custkey").cast("long").as("id")).as[Long]
          .map { id =>
            val a = (1 + id % 16).toInt
            val b = ((id % 7) * 3).toInt
            MediaRecord(id, "image/png", MultimodalOps.pngBytes(9, 8) { (x, y) =>
              val v = (a * x + b * y) % 256
              (v << 16) | (v << 8) | v
            })
          }
        val bits = MultimodalOps.imageDHash(media)
          .map(ih => (ih.id,
            (0 until 64).map(i => if (((ih.hash >> i) & 1L) == 1L) '1' else '0')
              .mkString))
          .toDF("id", "phash")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
        bits
          .withColumn("keep_id", min(col("id")).over(w))
          .withColumn("group_n", count(lit(1)).over(w))
    },

    // Banded HAMMING near-dup over perceptual hashes (r8b): the
    // multimodal_phash exact-group dedup extended to hamming ≤ 3 — the
    // "same image, slightly re-encoded" case an exact 64-bit match
    // misses. LOSSLESS by pigeonhole: 4 disjoint 16-bit bands, d ≤ 3
    // bit flips can dirty at most 3 bands, so every qualifying pair
    // collides in ≥ 1 band — the banded bucket join generates candidates
    // and bit_count(XOR) verifies exactly (the dedup_simhash machinery
    // on image fingerprints). The ORACLE is the naive all-pairs scan, so
    // the gate checks losslessness itself, the house rule for every
    // banded family. Report: pair census per distance (0..3).
    Q("multimodal_phash_band",
      """WITH ids AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |         1 + (c_custkey // 2) % 16 AS a, ((c_custkey // 2) % 7) * 3 AS b,
        |         c_custkey % 2 AS odd
        |  FROM customer WHERE c_custkey <= 3000),
        |px AS (
        |  SELECT id, x, y,
        |         CASE WHEN x = 0 AND y = 0 AND odd = 1 THEN 128
        |              ELSE (a*x*37 + b*y*29) % 256 END AS v,
        |         (a*(x+1)*37 + b*y*29) % 256 AS vr
        |  FROM ids, generate_series(0, 7) gy(y), generate_series(0, 7) gx(x)),
        |bits AS (
        |  SELECT id,
        |         CAST(sum(CASE WHEN vr > v
        |                       THEN CASE WHEN y*8 + x = 63
        |                                 THEN -9223372036854775808
        |                                 ELSE (CAST(1 AS BIGINT) << (y*8 + x)) END
        |                       ELSE 0 END) AS BIGINT) AS h
        |  FROM px
        |  GROUP BY id),
        |pairs AS (
        |  SELECT bit_count(xor(l.h, r.h)) AS hd
        |  FROM bits l JOIN bits r ON l.id < r.id
        |  WHERE bit_count(xor(l.h, r.h)) <= 3)
        |SELECT CAST(hd AS BIGINT) AS hamming, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs GROUP BY 1""".stripMargin) {
      (s, d) =>
        import s.implicits._
        import graft.operators.{MediaRecord, MultimodalOps}
        // fixed key range: the synthetic gradient space has only 224
        // distinct hashes, so an unbounded corpus would grow collision
        // groups (and the pair census) quadratically with SF — a fixture
        // artifact, not an operator property (real perceptual hashes
        // diversify with the corpus). 3000 keys keep the census identical
        // at every SF >= 0.02 and the banded join bounded.
        val media = Tables.cachedTable(s, d, "customer")
          .filter(col("c_custkey") <= 3000)
          .select(col("c_custkey").cast("long").as("id")).as[Long]
          .map { id =>
            // even/odd twins share the gradient (a, b from id/2); odd ids
            // carry a single-pixel "re-encode scar" at (0, 0) that only
            // bit (0,0) can see — twins are hamming <= 1 by construction.
            // The *37/*29 multipliers make the row gradient WRAP mod 256
            // (r11 fix): the original a*x+b*y never exceeded 254, so
            // vr > v held at every pixel and ALL 3001 images collapsed to
            // 2 distinct dHashes — every band bucket was the whole corpus
            // and the "banded" join degenerated to 15.7M all-pairs
            // candidates (measured 4.7 s). With wraps the corpus carries
            // one hash per (a, b) class and buckets are corpus/112-sized.
            val a = (1 + (id / 2) % 16).toInt
            val b = (((id / 2) % 7) * 3).toInt
            MediaRecord(id, "image/png", MultimodalOps.pngBytes(9, 8) { (x, y) =>
              val v =
                if (x == 0 && y == 0 && id % 2 == 1) 128
                else (a * x * 37 + b * y * 29) % 256
              (v << 16) | (v << 8) | v
            })
          }
        val hashed = Tables.cached(s, s"$d/phash-hashes") {
          MultimodalOps.imageDHash(media).toDF().select("id", "hash")
        }
        // 4 disjoint 16-bit bands; candidates = one bucket self-join on
        // (band, value) with the hamming gate inside the join, so the pair
        // distinct shuffles only the <= 3 survivors — never an all-pairs
        // product
        TextOps.hammingBandPairs(hashed, "id", "hash", Nil, chunks = 4, width = 16,
            maxHamming = 3)
          .groupBy("hamming")
          .agg(count(lit(1)).as("n_pairs"))
    },

    Q("embed_quantize",
      """WITH a AS (
        |  SELECT vec_id, label, embedding AS v,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, label, v, amax,
        |         list_transform(v, x ->
        |           CAST(floor((CAST(x AS DOUBLE) * 127) / amax + 0.5) AS BIGINT)) AS qs
        |  FROM a)
        |SELECT vec_id, label, round(amax, 6) AS amax,
        |       CAST(list_aggregate(qs, 'sum') AS BIGINT) AS sum_q,
        |       CAST(list_aggregate(list_transform(qs, q -> q * q), 'sum') AS BIGINT) AS sum_q2,
        |       CAST(len(list_filter(qs, q -> abs(q) = 127)) AS BIGINT) AS n_clip
        |FROM q""".stripMargin) {
      (s, d) =>
        // Int8 symmetric quantization of the embedding column — the
        // compression step a serving/storage pipeline runs before shipping
        // vectors (4x smaller than float32; the scalar-quantization half
        // of a PQ codebook). Per vector: scale = max|x|, code_i =
        // round(x_i·127/scale) via floor(+0.5) (identical halfway
        // semantics in both engines — round() itself differs: banker's vs
        // half-away). The oracle checks integer-EXACT code stats — sum,
        // energy, clip count — so any drift in ANY single code flips the
        // hash: float->double casts are exact and every step to the codes
        // is deterministic IEEE arithmetic. Reconstruction error is
        // deliberately NOT an oracle column (per-element double->decimal
        // quantization of ~1e-7 values proved boundary-fragile across
        // engines); the (step/2)² error bound is pinned in PipelineSpec
        // instead. 100 TB shape: pure per-row HOF folds over the array
        // column — zero shuffles, zero joins, no posexplode (the element
        // rows never exist; cf. multimodal_cols which pays the 64x
        // explode because it needs cross-vector centroids).
        // NOTE (in CurateOps too): the rounded display alias must not be
        // named before the stats reference the raw column — Spark's
        // lateral column alias resolution would silently bind them to the
        // ROUNDED value (measured: a 1e-12 drift in a reconstruction
        // metric).
        graft.operators.CurateOps.quantizeStats(Tables.cachedTable(s, d, "embeddings"))
    },

    Q("multimodal_cols",
      """WITH pos AS (
        |  SELECT vec_id, label, g.p AS p, embedding[g.p]::DOUBLE AS x
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS p) g),
        |cent AS (
        |  SELECT label, p,
        |         CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM pos GROUP BY label, p)
        |SELECT vec_id, label, CAST(count(*) AS BIGINT) AS dim,
        |       round(sqrt(CAST(sum(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE)), 5) AS norm,
        |       round(sqrt(CAST(sum(CAST((x - c) * (x - c) AS DECIMAL(27,12))) AS DOUBLE)), 5) AS dist_centroid
        |FROM pos JOIN cent USING (label, p)
        |GROUP BY vec_id, label""".stripMargin) {
      (s, d) =>
        VectorOps.centroidHygiene(Tables.cachedTable(s, d, "embeddings"))
    },

    Q("embed_outliers",
      """WITH pos AS (
        |  SELECT vec_id, label, g.p AS p, embedding[g.p]::DOUBLE AS x
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS p) g),
        |cent AS (
        |  SELECT label, p,
        |         CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / count(*) AS c
        |  FROM pos GROUP BY label, p),
        |h AS (
        |  SELECT vec_id, label,
        |         round(sqrt(CAST(sum(CAST((x - c) * (x - c) AS DECIMAL(27,12))
        |                         ) AS DOUBLE)), 5) AS dist_centroid
        |  FROM pos JOIN cent USING (label, p)
        |  GROUP BY vec_id, label)
        |SELECT vec_id, label, dist_centroid,
        |       CAST(row_number() OVER (PARTITION BY label
        |              ORDER BY dist_centroid DESC, vec_id) AS BIGINT) AS rank
        |FROM h QUALIFY rank <= 3""".stripMargin) { (s, d) =>
      // Per-label embedding outliers: the 3 vectors farthest from their own
      // label's centroid — the store-QA sweep that surfaces mislabeled /
      // corrupted vectors before they poison a contrastive batch. Rides
      // centroidHygiene's exact-DECIMAL distance (multimodal_cols' plan)
      // and ranks with the two-phase topKPerGroup, ordering on the ROUNDED
      // distance so both engines see identical sort keys; vec_id breaks
      // ties. 100 TB: adds only a labels-sized ranking window on top of
      // the two narrow hygiene shuffles — nothing wide moves.
      val h = VectorOps.centroidHygiene(Tables.cachedTable(s, d, "embeddings"))
        .select(col("vec_id"), col("label"), col("dist_centroid"))
      graft.operators.TextOps.topKPerGroup(h, Seq("label"),
        Seq(col("dist_centroid").desc, col("vec_id").asc), 3, col("vec_id"))
    },

    // Embedding-distribution drift between two snapshots — the monitor a
    // daily pipeline runs when the embedder version bumps or a new crawl
    // lands: per label, how far did the class centroid move? Snapshots are
    // the even/odd vec_id halves of the one fixture table (deterministic,
    // disjoint, ~equal size); in production they are yesterday's and
    // today's partition of the same store. Exactness: per-(label, dim)
    // centroids via the house DECIMAL(27,12) sum (order-free) and ONE
    // double division (cf. multimodal_cols); the 64-term cross-dim
    // reductions (dot, norms, L2 shift) re-quantize each double product to
    // DECIMAL(27,12) so their sums are order-free too; one round(·,5) at
    // the end. 100 TB shape: one posexplode + (label, dim) partial agg per
    // snapshot — both snapshots in a SINGLE scan via conditional
    // aggregation — then a label-sized agg; never shuffles whole vectors,
    // output is labels-sized.
    // Embedding-store QA rollup — the sanity report a pipeline runs before
    // trusting a new embedder drop: per label, vector counts, dimension
    // consistency (a ragged store corrupts every dot product downstream),
    // zero-vector count (no direction — poisons cosine), and the norm
    // distribution (min/max/mean; an unnormalized mix shows up here
    // first). Exactness: the per-row sum of squares is a DECIMAL(27,12)
    // HOF fold (order-free, exact), sqrt is one IEEE op on the exact
    // double, and the mean quantizes each norm to DECIMAL(18,6) before the
    // exact cross-row sum (house ladder, cf. text_entropy).
    Q("embed_norm_stats",
      """WITH p AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x
        |           FROM embeddings),
        |agg AS (SELECT vec_id,
        |               CAST(sum(CAST(x*x AS DECIMAL(27,12))) AS DOUBLE) AS n2
        |        FROM p GROUP BY 1),
        |n AS (SELECT e.vec_id, e.label, CAST(len(e.embedding) AS BIGINT) AS dim,
        |             coalesce(agg.n2, 0) AS n2
        |      FROM embeddings e LEFT JOIN agg USING (vec_id)
        |      WHERE e.embedding IS NOT NULL),
        |s AS (SELECT label, dim, n2, sqrt(n2) AS nrm FROM n)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       min(dim) AS dim_min, max(dim) AS dim_max,
        |       CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       round(min(nrm), 5) AS min_norm, round(max(nrm), 5) AS max_norm,
        |       round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 5)
        |         AS avg_norm
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      // 100 TB shape: the oracle unnests corpus×dim rows through a
      // vec-keyed agg, but the Spark side folds the sum of squares PER ROW
      // (a decimal HOF fold — exact and order-free, so the plans agree) —
      // zero shuffles until the final labels-sized agg. One corpus scan,
      // nothing wide ever moves. Degenerate-row universe pinned in BOTH
      // engines: NULL embeddings are excluded (Spark size(NULL) = −1 vs
      // DuckDB len(NULL) = NULL have no common story), EMPTY arrays stay
      // in the report with dim = 0 / norm = 0 — the oracle's bare unnest
      // would silently drop them, so it left-joins the per-vec agg back
      // onto the full table instead; these are exactly the rows a store
      // QA exists to catch.
      Tables.cachedTable(s, d, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("label"),
          size(col("embedding")).cast("long").as("dim"),
          expr("""CAST(aggregate(embedding, CAST(0 AS DECIMAL(38,12)),
                 |(acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                 |                            AS DECIMAL(27,12))
                 |            AS DECIMAL(38,12))) AS DOUBLE)""".stripMargin)
            .as("n2"))
        .withColumn("nrm", sqrt(col("n2")))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          min("dim").as("dim_min"), max("dim").as("dim_max"),
          sum(when(col("n2") === 0, 1L).otherwise(0L)).cast("long").as("n_zero"),
          round(min("nrm"), 5).as("min_norm"),
          round(max("nrm"), 5).as("max_norm"),
          round(sum(col("nrm").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 5).as("avg_norm"))
    },

    // Johnson-Lindenstrauss RANDOM PROJECTION audit (r8b): project the
    // 64-dim store to 16 dims with a ±1 sign matrix (sign(i, j) closed-
    // form in (i, j) so the oracle rebuilds the same matrix — production
    // would hash-seed it identically: the matrix is NEVER materialized,
    // each entry recomputes in registers on both sides of a 1000-executor
    // cluster for free) and report, per label, how well squared norms
    // survive: ratio = ‖y‖² / (16·‖v‖²) ≈ 1 by the JL guarantee. This is
    // the pre-flight check before swapping the 4×-cheaper projected
    // vectors into the ANN family. Per-coordinate sums fold through the
    // exact DECIMAL ladder (order-free), so both engines produce
    // bit-equal doubles before the one rounded division.
    Q("embed_random_projection",
      """WITH e AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |y AS (
        |  SELECT vec_id, label, j,
        |         CAST(list_aggregate(list_transform(generate_series(1, len(embedding)),
        |           i -> CAST((1 - 2 * ((i * 31 + j * 17) % 2))
        |                     * CAST(embedding[i] AS DOUBLE)
        |                AS DECIMAL(27,12))), 'sum') AS DOUBLE) AS yj
        |  FROM e, generate_series(0, 15) gj(j)),
        |ny AS (SELECT vec_id, label,
        |              CAST(sum(CAST(yj * yj AS DECIMAL(27,12))) AS DOUBLE) AS ny2
        |       FROM y GROUP BY 1, 2),
        |nv AS (SELECT vec_id,
        |              CAST(list_aggregate(list_transform(embedding,
        |                x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |                     AS DECIMAL(27,12))), 'sum') AS DOUBLE) AS nv2
        |       FROM e),
        |r AS (SELECT ny.label, ny.ny2 / (16 * nv.nv2) AS ratio
        |      FROM ny JOIN nv USING (vec_id) WHERE nv.nv2 > 0)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(min(ratio), 5) AS min_ratio, round(max(ratio), 5) AS max_ratio,
        |       round(CAST(sum(CAST(ratio AS DECIMAL(18,6))) AS DOUBLE) / count(*), 5)
        |         AS avg_ratio
        |FROM r GROUP BY 1""".stripMargin) { (s, d) =>
      // 100 TB shape: the entire projection + both norms fold PER ROW
      // (nested HOFs — the oracle's j-explode is oracle-only); nothing
      // wide shuffles, the only exchange is the final labels-sized agg.
      Tables.cachedTable(s, d, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"), col("label"),
          expr("""transform(sequence(0, 15), j ->
            |  CAST(aggregate(sequence(1, size(embedding)), CAST(0 AS DECIMAL(38,12)),
            |    (acc, i) -> CAST(acc +
            |      CAST((1 - 2 * ((i * 31 + j * 17) % 2))
            |           * CAST(element_at(embedding, i) AS DOUBLE)
            |        AS DECIMAL(27,12))
            |    AS DECIMAL(38,12))) AS DOUBLE))""".stripMargin).as("ys"),
          expr("""CAST(aggregate(embedding, CAST(0 AS DECIMAL(38,12)),
            |  (acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
            |                              AS DECIMAL(27,12))
            |              AS DECIMAL(38,12))) AS DOUBLE)""".stripMargin).as("nv2"))
        .withColumn("ny2",
          expr("""CAST(aggregate(ys, CAST(0 AS DECIMAL(38,12)),
            |  (acc, y) -> CAST(acc + CAST(y * y AS DECIMAL(27,12))
            |              AS DECIMAL(38,12))) AS DOUBLE)""".stripMargin))
        .filter(col("nv2") > 0)
        .withColumn("ratio", col("ny2") / (lit(16) * col("nv2")))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          round(min("ratio"), 5).as("min_ratio"),
          round(max("ratio"), 5).as("max_ratio"),
          round(sum(col("ratio").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 5).as("avg_ratio"))
    },

    // TwoNN intrinsic-dimension estimate (Facco et al. 2017) per label —
    // the embedding-geometry diagnostic: if a 64-dim store has intrinsic
    // dimension ~8, most coordinates are redundant (quantize/compress
    // harder); if it approaches the ambient dim, ANN recall will be poor
    // everywhere (curse of dimensionality). Uses only each vector's two
    // nearest neighbors: id ≈ n / Σ ln(r2/r1) with r = 1 − cos — both
    // read from the SAME cached knn3 build (rounded-cos determinism), the
    // oracle embedding sim_knn_graph's SQL. Vectors with r1 = 0 (exact
    // duplicates — the ratio diverges) are excluded identically in both
    // engines; ln is per-row DECIMAL(18,6)-quantized (house rule).
    Q("embed_intrinsic_dim",
      s"""WITH g AS ($KnnOracleSql),
         |rr AS (SELECT src, label,
         |              max(CASE WHEN rank = 1 THEN cos_sim END) AS c1,
         |              max(CASE WHEN rank = 2 THEN cos_sim END) AS c2
         |       FROM g WHERE rank <= 2 GROUP BY 1, 2),
         |m AS (SELECT src, label,
         |             CAST(ln((1 - c2) / (1 - c1)) AS DECIMAL(18,6)) AS lnq
         |      FROM rr WHERE c1 < 1 AND c2 IS NOT NULL),
         |a AS (SELECT label, CAST(count(*) AS BIGINT) AS n_used,
         |             CAST(sum(lnq) AS DOUBLE) AS s
         |      FROM m GROUP BY 1)
         |SELECT label, n_used, round(n_used / s, 5) AS intrinsic_dim
         |FROM a WHERE s <> 0""".stripMargin) { (s, d) =>
      // 100 TB shape: two label-sized aggs over the already-built 3n-row
      // edge list — marginal cost on the shared kNN build is near zero;
      // at cluster scale the same two-NN ratios fall out of any ANN
      // index's top-2 result, no extra search needed.
      val rr = knn3(s, d).filter(col("rank") <= 2)
        .groupBy("src", "label")
        .agg(max(when(col("rank") === 1, col("cos_sim"))).as("c1"),
          max(when(col("rank") === 2, col("cos_sim"))).as("c2"))
      rr.filter(col("c1") < 1 && col("c2").isNotNull)
        .withColumn("lnq",
          log((lit(1) - col("c2")) / (lit(1) - col("c1"))).cast("decimal(18,6)"))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_used"),
          sum(col("lnq")).cast("double").as("s"))
        .filter(col("s") =!= 0)
        .select(col("label"), col("n_used"),
          round(col("n_used") / col("s"), 5).as("intrinsic_dim"))
    },

    // Top principal direction of the centered embedding covariance by
    // 2-round deterministic power iteration — the whitening prep the
    // hubness audit calls for and the anisotropy-collapse monitor (an
    // embedder drifting toward one dominant direction loses retrieval
    // contrast; λ₁/trace is the alarm). See VectorOps.pcaPowerTop for the
    // ladder; the oracle replays means → raw second moments → the
    // S/n − μμᵀ centered covariance → both multiply-normalize rounds →
    // Rayleigh quotient, with p re-based to Spark's 0-index in the final
    // select only.
    Q("embed_pca_power",
      PcaCtes +
      """
        |SELECT v2.p - 1 AS p, round(v2.v, 5) AS loading, round(ray.lambda, 5) AS eigenvalue
        |FROM v2, ray""".stripMargin) { (s, d) =>
      // 100 TB shape: ONE corpus pass builds the dim² covariance via a
      // join-free double posexplode (map-side partial agg → shuffle is
      // dim²·partitions rows, corpus-independent); the iterations run on a
      // materialized LocalRelation and never touch the corpus again. The
      // 64-row result is cached per dir like the other built-once indexes
      // (unrounded — each report rounds at its own boundary).
      pcaVec(s, d)
        .select(col("p").cast("long").as("p"),
                round(col("v"), 5).as("loading"),
                round(col("lambda"), 5).as("eigenvalue"))
    },

    // Projection-removal report for the dominant direction (r7) — the
    // measurement half of "All-but-the-Top" (Mu & Viswanath 2018): every
    // embedding's centered projection onto the top principal axis, rolled
    // up per label. avg_proj is the label's signed offset along the
    // dominant axis (how the clusters separate on it); avg_abs_proj is
    // the energy the whitening step would remove. Exactness: xv and μ·v
    // come off the same DECIMAL(27,12) quantize-then-sum ladder as the
    // PCA build, the centered projection is ONE IEEE subtraction of
    // exactly-derived doubles, then floor(x·10⁶) BIGINT per-row
    // quantization (floor, not a decimal cast — the pagerank lesson:
    // double→DECIMAL casts round differently cross-engine) and exact
    // integer sums with one final division.
    Q("embed_whiten",
      PcaCtes +
      """,
        |muv AS (SELECT CAST(sum(CAST(mu.mu * v2.v AS DECIMAL(27,12))) AS DOUBLE) AS mv
        |        FROM mu JOIN v2 USING (p)),
        |proj AS (SELECT pos.vec_id,
        |                CAST(sum(CAST(pos.x * v2.v AS DECIMAL(27,12))) AS DOUBLE) AS xv
        |         FROM pos JOIN v2 USING (p) GROUP BY 1),
        |pl AS (SELECT emb.label,
        |              CAST(floor((proj.xv - muv.mv) * 1000000) AS BIGINT) AS pq,
        |              CAST(floor(abs(proj.xv - muv.mv) * 1000000) AS BIGINT) AS aq
        |       FROM proj JOIN embeddings emb USING (vec_id), muv)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(pq) AS DOUBLE) / (count(*) * 1000000), 5) AS avg_proj,
        |       round(CAST(sum(aq) AS DOUBLE) / (count(*) * 1000000), 5) AS avg_abs_proj
        |FROM pl GROUP BY label""".stripMargin) { (s, d) =>
      // Two corpus passes (the quality_outliers budget): one builds the
      // per-dim means, one computes each vector's projection against the
      // BROADCAST 64-row direction — the corpus never shuffles; the final
      // agg is labels-sized. At 100 TB the whitened write-back is the same
      // scan with x − (x·v)v emitted instead of the rollup.
      val dec = DecimalType(27, 12)
      val emb = Tables.cachedTable(s, d, "embeddings")
      val vb = broadcast(pcaVec(s, d).select(col("p"), col("v")))
      val pos = emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("p", "x")))
        .select(col("vec_id"), col("label"), col("p"),
                col("x").cast("double").as("x"))
      val mu = pos.groupBy("p")
        .agg((sum(col("x").cast(dec)).cast("double") / count(lit(1))).as("mu"))
      val muv = broadcast(
        mu.join(vb, Seq("p"))
          .agg(sum((col("mu") * col("v")).cast(dec)).cast("double").as("mv")))
      val proj = pos.join(vb, Seq("p"))
        .groupBy("vec_id", "label")
        .agg(sum((col("x") * col("v")).cast(dec)).cast("double").as("xv"))
      proj.crossJoin(muv)
        .select(col("label"),
                floor((col("xv") - col("mv")) * 1000000).cast("long").as("pq"),
                floor(abs(col("xv") - col("mv")) * 1000000).cast("long").as("aq"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
             round(sum("pq").cast("double") / (count(lit(1)) * 1000000), 5)
               .as("avg_proj"),
             round(sum("aq").cast("double") / (count(lit(1)) * 1000000), 5)
               .as("avg_abs_proj"))
    },

    // In-degree histogram of the kNN graph — the hubness audit (Radovanović
    // et al. 2010): high-in-degree "hub" vectors dominate nearest-neighbor
    // lists and skew dedup/diversity sampling; a heavy tail here says the
    // embedding space needs whitening before ANN-based curation. Composed:
    // the oracle embeds sim_knn_graph's own oracle SQL, the Spark side
    // reads the SAME cached knn3 edge set — report and graph cannot drift.
    Q("graph_degree_stats",
      s"""WITH g AS ($KnnOracleSql),
         |ind AS (
         |  SELECT emb.vec_id, coalesce(c.indeg, 0) AS in_degree
         |  FROM embeddings emb
         |  LEFT JOIN (SELECT dst, CAST(count(*) AS BIGINT) AS indeg
         |             FROM g GROUP BY 1) c ON c.dst = emb.vec_id)
         |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM ind GROUP BY 1""".stripMargin) { (s, d) =>
      // 100 TB shape: one (dst)-keyed count over the already-built edge
      // list (3n rows), a left join to catch zero-in-degree vertices, and
      // a histogram-sized final agg. Marginal cost on top of the shared
      // kNN build is two narrow shuffles of id-sized rows.
      val indeg = knn3(s, d).groupBy(col("dst"))
        .agg(count(lit(1)).cast("long").as("indeg"))
      Tables.cachedTable(s, d, "embeddings").select(col("vec_id"))
        .join(indeg, col("vec_id") === col("dst"), "left")
        .select(coalesce(col("indeg"), lit(0L)).as("in_degree"))
        .groupBy("in_degree")
        .agg(count(lit(1)).cast("long").as("n_vecs"))
    },

    // Weakly-connected components over the kNN graph (r8h): every vector
    // labeled with the min vec_id reachable through (undirected) kNN
    // edges — the cluster-extraction step that turns the similarity graph
    // into curation units (sample per component, cap per component, route
    // components to annotators). Composed per the FunnelQueries rule: the
    // Spark side consumes the SAME cached knn3 edge set sim_knn_graph
    // declares; the oracle embeds KnnOracleSql and closes it with a
    // recursive min-label reachability CTE — graph and labels can never
    // drift. Scale shape is GraphOps.connectedComponents' contract:
    // hooking plus pointer jumping converge in a few rounds, the edge set
    // is partitioned ONCE on the join key, each round ships only (id,
    // label) pairs, and local checkpoints keep the lineage flat — the
    // dedup_clusters discipline on a different graph.
    // The oracle's quadratic transitive closure is exactly the naive form
    // the operator exists to avoid; at 500 vertices it is the cheap
    // losslessness witness.
    Q("graph_wcc",
      s"""WITH RECURSIVE g AS ($KnnOracleSql),
         |ge AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
         |reach(v, u) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT reach.v, ge.dst FROM reach JOIN ge ON ge.src = reach.u)
         |SELECT v AS vec_id, CAST(min(u) AS BIGINT) AS component
         |FROM reach GROUP BY 1""".stripMargin) { (s, d) =>
      val verts = Tables.cachedTable(s, d, "embeddings")
        .select(col("vec_id").as("id"))
      val edges = knn3(s, d).select(col("src"), col("dst"))
      graft.operators.GraphOps.connectedComponents(verts, edges)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("component"))
    },

    Q("embed_drift",
      """WITH pos AS (
        |  SELECT vec_id, label, g.p AS p, embedding[g.p]::DOUBLE AS x
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS p) g),
        |cent AS (
        |  SELECT label, p,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN CAST(x AS DECIMAL(27,12)) END) AS DOUBLE)
        |      / sum(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS ca,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN CAST(x AS DECIMAL(27,12)) END) AS DOUBLE)
        |      / sum(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS cb,
        |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
        |  FROM pos GROUP BY 1, 2)
        |SELECT label, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  round(CAST(sum(CAST(ca * cb AS DECIMAL(27,12))) AS DOUBLE)
        |    / (sqrt(CAST(sum(CAST(ca * ca AS DECIMAL(27,12))) AS DOUBLE))
        |       * sqrt(CAST(sum(CAST(cb * cb AS DECIMAL(27,12))) AS DOUBLE))), 5)
        |    AS centroid_cos,
        |  round(sqrt(CAST(sum(CAST((ca - cb) * (ca - cb) AS DECIMAL(27,12))) AS DOUBLE)), 5)
        |    AS centroid_shift
        |FROM cent GROUP BY label""".stripMargin) { (s, d) =>
      VectorOps.centroidDrift(
        Tables.cachedTable(s, d, "embeddings"),
        snapA = col("vec_id") % 2 === 0)
    },

    // Train/eval leakage audit (r7) — the check a pipeline MUST run after
    // split_assign: a near-duplicate pair straddling the train/test
    // boundary inflates eval scores exactly like benchmark contamination
    // (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    // Better" measures the effect). Composed: the pair side is the SAME
    // persisted near-dup pair list dedup_near declares (oracle embeds its
    // naive all-pairs SQL), and the split is a PURE FUNCTION of the stable
    // doc id (the split_assign contract) — so the audit is a projection +
    // a 6-row agg over the pair list, touching the corpus ZERO times. At
    // 100 TB this runs in seconds against the stored pair table while a
    // join-back-to-corpus formulation would re-shuffle terabytes.
    Q("split_leakage_check",
      s"""WITH t AS (
         |  SELECT doc_id, lang, $DuckTokens AS s FROM documents),
         |p AS (
         |  SELECT a1.doc_id AS doc_a, a2.doc_id AS doc_b,
         |         CASE WHEN len(list_distinct(list_concat(a1.s, a2.s))) = 0 THEN 0.0
         |              ELSE CAST(len(list_filter(a1.s, x -> list_contains(a2.s, x))) AS DOUBLE)
         |                   / len(list_distinct(list_concat(a1.s, a2.s))) END AS jaccard
         |  FROM t a1 JOIN t a2
         |    ON a1.lang = a2.lang AND a1.doc_id < a2.doc_id),
         |np AS (SELECT doc_a, doc_b FROM p WHERE jaccard >= $NearDupTau),
         |bk AS (SELECT
         |         ('0x' || substr(sha256(CAST(doc_a AS VARCHAR)), 1, 8))::BIGINT % 100 AS ba,
         |         ('0x' || substr(sha256(CAST(doc_b AS VARCHAR)), 1, 8))::BIGINT % 100 AS bb
         |       FROM np),
         |sp AS (SELECT
         |         CASE WHEN ba < 90 THEN 'train' WHEN ba < 95 THEN 'val' ELSE 'test' END AS split_a,
         |         CASE WHEN bb < 90 THEN 'train' WHEN bb < 95 THEN 'val' ELSE 'test' END AS split_b
         |       FROM bk)
         |SELECT least(split_a, split_b) AS split_lo,
         |       greatest(split_a, split_b) AS split_hi,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM sp GROUP BY 1, 2""".stripMargin) { (s, d) =>
      def splitOf(idCol: String) = {
        val b = expr(
          s"CAST(conv(substr(sha2(CAST($idCol AS STRING), 256), 1, 8), 16, 10) AS BIGINT) % 100")
        when(b < 90, lit("train")).when(b < 95, lit("val")).otherwise(lit("test"))
      }
      sharedNearDupPairs(s, d)
        .select(splitOf("doc_a").as("split_a"), splitOf("doc_b").as("split_b"))
        .select(least(col("split_a"), col("split_b")).as("split_lo"),
                greatest(col("split_a"), col("split_b")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
    },

    // ANN index QA (r7) — recall@10 of the IVF index vs exact brute force,
    // per probe: the metric that decides whether nprobe/k are adequate
    // BEFORE the index serves dedup/search at scale (FAISS ships the same
    // evaluation as its index benchmark). Both arms use the house ANN rank
    // rule (cosine rounded to 5 dp before ranking, ties on vec_id) so the
    // overlap count is integer-exact. The exact arm is the oracle-grade
    // truth: 8 broadcast probes into ONE corpus scan + two-phase top-k;
    // the IVF arm reads the SAME cached index + scored assignment every
    // sim_search_ivf query shares — at 100 TB exact truth comes from a
    // sampled probe set exactly like this, never the full corpus square.
    Q("embed_recall_eval",
      KMeansSql.codebookCtes() +
      s""",
         |idx AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()} WHERE rn = 1),
         |pc AS (SELECT vec_id AS probe_id, cell FROM ${KMeansSql.scoredCte()}
         |       WHERE vec_id < 8 AND rn <= ${KMeansSql.NProbeSearch}),
         |el AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pr AS (SELECT vec_id AS probe_id, v AS pv FROM el WHERE vec_id < 8),
         |ex AS (SELECT probe_id, vec_id FROM (
         |  SELECT pr.probe_id, el.vec_id,
         |         row_number() OVER (PARTITION BY pr.probe_id
         |           ORDER BY round(list_cosine_similarity(el.v, pr.pv), 5) DESC, el.vec_id) AS rnk
         |  FROM el, pr WHERE el.vec_id <> pr.probe_id) WHERE rnk <= 10),
         |iv AS (SELECT probe_id, vec_id FROM (
         |  SELECT pc.probe_id, el.vec_id,
         |         row_number() OVER (PARTITION BY pc.probe_id
         |           ORDER BY round(list_cosine_similarity(el.v, pr.pv), 5) DESC, el.vec_id) AS rnk
         |  FROM el JOIN idx USING (vec_id) JOIN pc USING (cell)
         |          JOIN pr ON pr.probe_id = pc.probe_id
         |  WHERE el.vec_id <> pc.probe_id) WHERE rnk <= 10),
         |h AS (SELECT ex.probe_id, count(*) AS n_hit
         |      FROM ex JOIN iv USING (probe_id, vec_id) GROUP BY 1)
         |SELECT pr.probe_id, CAST(10 AS BIGINT) AS k,
         |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
         |FROM pr LEFT JOIN h USING (probe_id)""".stripMargin) { (s, d) =>
      val emb = Tables.cachedTable(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val exact = TextOps.topKPerGroup(
        emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
                  round(VectorOps.cosineF(col("embedding"), col("pv")), 5).as("c")),
        Seq("probe_id"), Seq(col("c").desc, col("vec_id")), 10,
        bucketOn = col("vec_id"))
        .select("probe_id", "vec_id")
      val pcells = KMeansSql.assignments(s, d)
        .filter(col("vec_id") < 8 && col("rn") <= KMeansSql.NProbeSearch)
        .select(col("vec_id").as("probe_id"), col("cell"))
      // A vector sits under exactly one home cell, so (probe_id, vec_id)
      // is already unique — no distinct needed after the cell join.
      val ivf = TextOps.topKPerGroup(
        KMeansSql.index(s, d)
          .join(broadcast(pcells), "cell")
          .filter(col("vec_id") =!= col("probe_id"))
          .join(broadcast(probes), "probe_id")
          .select(col("probe_id"), col("vec_id"),
                  round(VectorOps.cosineF(col("embedding"), col("pv")), 5).as("c")),
        Seq("probe_id"), Seq(col("c").desc, col("vec_id")), 10,
        bucketOn = col("vec_id"))
        .select("probe_id", "vec_id")
      val hits = exact.join(ivf, Seq("probe_id", "vec_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("h"))
      probes.select("probe_id")
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), lit(10L).as("k"),
                coalesce(col("h"), lit(0L)).cast("long").as("n_hit"))
    },

    // Matryoshka truncation eval (r8, Kusupati et al. 2022): how much
    // retrieval quality survives if vectors are cut to their first 16 of
    // 64 dims (the 4× memory/latency lever MRL-trained embedders are sold
    // on — and the eval a pipeline runs BEFORE flipping a serving index to
    // truncated vectors). Per probe: |top-10 by full cosine ∩ top-10 by
    // truncated cosine|. One corpus×probes scan computes BOTH scores
    // (the truncated ranking reads a slice of the same row — no second
    // scan, no second shuffle); each ranking is the two-phase bucketed
    // top-k, overlap is an id-only join. Parity: identical float→double
    // slice semantics, round(·,5) before ranking, vec_id tiebreak.
    Q("embed_matryoshka_eval",
      """WITH el AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, v AS pv FROM el WHERE vec_id < 8),
        |sc AS (SELECT pr.probe_id, el.vec_id,
        |              round(list_cosine_similarity(el.v, pr.pv), 5) AS c_full,
        |              round(list_cosine_similarity(el.v[1:16], pr.pv[1:16]), 5) AS c_trunc
        |       FROM el, pr WHERE el.vec_id <> pr.probe_id),
        |fu AS (SELECT probe_id, vec_id FROM (
        |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
        |           ORDER BY c_full DESC, vec_id) AS rnk FROM sc) WHERE rnk <= 10),
        |tr AS (SELECT probe_id, vec_id FROM (
        |  SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
        |           ORDER BY c_trunc DESC, vec_id) AS rnk FROM sc) WHERE rnk <= 10),
        |h AS (SELECT fu.probe_id, count(*) AS n_hit
        |      FROM fu JOIN tr USING (probe_id, vec_id) GROUP BY 1)
        |SELECT pr.probe_id, CAST(16 AS BIGINT) AS trunc_dim, CAST(10 AS BIGINT) AS k,
        |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
        |FROM pr LEFT JOIN h USING (probe_id)""".stripMargin) { (s, d) =>
      val emb = Tables.cachedTable(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val scored = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(VectorOps.cosineF(col("embedding"), col("pv")), 5).as("c_full"),
          round(VectorOps.cosineF(
            slice(col("embedding"), 1, 16), slice(col("pv"), 1, 16)), 5).as("c_trunc"))
      def top10(c: String) = TextOps.topKPerGroup(
        scored.select("probe_id", "vec_id", c),
        Seq("probe_id"), Seq(col(c).desc, col("vec_id")), 10,
        bucketOn = col("vec_id"))
        .select("probe_id", "vec_id")
      val hits = top10("c_full").join(top10("c_trunc"), Seq("probe_id", "vec_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("h"))
      probes.select("probe_id")
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), lit(16L).as("trunc_dim"), lit(10L).as("k"),
          coalesce(col("h"), lit(0L)).cast("long").as("n_hit"))
    },

    // Link prediction over the kNN similarity graph (r7): common-neighbour
    // Jaccard for NON-edges — the "should these be connected" score behind
    // cluster repair and diversity-aware retrieval expansion (Liben-Nowell
    // & Kleinberg 2003). Composed on the SAME cached kNN build: wedges
    // (x—n—y) come from one neighbor-keyed self-join of the symmetrized
    // edge list, so candidate pairs are O(E·d_max), never vertices² — at
    // 100 TB orient the join by (degree, id) so hubs sit last and fan-out
    // stays bounded, exactly like graph_triangles. Score is integer ppm
    // (n_common·10⁶ div union) — no float division anywhere.
    Q("graph_jaccard",
      s"""WITH g AS ($KnnOracleSql),
         |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g),
         |bi AS (SELECT a AS n, b AS o FROM ue UNION ALL SELECT b, a FROM ue),
         |deg AS (SELECT n AS v, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
         |wed AS (SELECT e1.o AS x, e2.o AS y, CAST(count(*) AS BIGINT) AS n_common
         |        FROM bi e1 JOIN bi e2 ON e1.n = e2.n AND e1.o < e2.o
         |        GROUP BY 1, 2),
         |ne AS (SELECT w.x, w.y, w.n_common FROM wed w
         |       LEFT JOIN ue ON ue.a = w.x AND ue.b = w.y
         |       WHERE ue.a IS NULL)
         |SELECT x, y, n_common, da.deg AS deg_x, db.deg AS deg_y,
         |       CAST(n_common * 1000000 // (da.deg + db.deg - n_common) AS BIGINT)
         |         AS jaccard_ppm
         |FROM ne JOIN deg da ON da.v = ne.x JOIN deg db ON db.v = ne.y
         |ORDER BY jaccard_ppm DESC, x, y LIMIT 50""".stripMargin) { (s, d) =>
      // ONE lazy checkpoint on the distinct undirected edge set: wed/deg/
      // anti reference it 6× between them, and without the cut each
      // reference re-plans the distinct over the kNN cache — 92 exchange
      // nodes and ~2.5s of pure scheduler overhead at sf0.1 (r7w14
      // measured; 0.6s after).
      val ue = knn3(s, d)
        .select(least(col("src"), col("dst")).as("a"),
                greatest(col("src"), col("dst")).as("b"))
        .distinct()
        .localCheckpoint(false)
      val bi = ue.select(col("a").as("n"), col("b").as("o"))
        .unionByName(ue.select(col("b").as("n"), col("a").as("o")))
      val deg = bi.groupBy(col("n").as("v"))
        .agg(count(lit(1)).cast("long").as("deg"))
      val wed = bi.as("e1")
        .join(bi.as("e2"),
              col("e1.n") === col("e2.n") && col("e1.o") < col("e2.o"))
        .groupBy(col("e1.o").as("x"), col("e2.o").as("y"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      val nonEdge = wed.join(
        ue, wed("x") === ue("a") && wed("y") === ue("b"), "left_anti")
      nonEdge
        .join(deg.select(col("v").as("x"), col("deg").as("deg_x")), "x")
        .join(deg.select(col("v").as("y"), col("deg").as("deg_y")), "y")
        .select(col("x"), col("y"), col("n_common"), col("deg_x"), col("deg_y"),
                expr("n_common * 1000000 div (deg_x + deg_y - n_common)")
                  .cast("long").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("x"), col("y"))
        .limit(50)
    },

    // k-core peeling census (r7, k=4, 3 unrolled rounds) over the kNN
    // similarity graph — the density filter degree alone can't express: a
    // vertex survives only if ≥4 of its neighbors ALSO survive, so
    // boilerplate hubs whose neighborhoods are sparse peel away while
    // genuine semantic clusters (mutually-near vectors) remain (Seidman
    // 1983; the dense-subgraph miner curation uses to find template
    // families). k=4 bites on a kNN-3 graph: undirected degree ≥3 is
    // guaranteed by construction, so k≤3 would peel nothing. Fixed-round
    // unrolled peel = deterministic output and an unrolled-CTE oracle,
    // the graph_pagerank convention.
    Q("graph_bfs",
      s"""WITH g AS ($KnnOracleSql),
         |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g),
         |bi AS (SELECT a AS n, b AS o FROM ue UNION ALL SELECT b, a FROM ue),
         |f1 AS (SELECT DISTINCT o AS id FROM bi WHERE n = 0 AND o <> 0),
         |f2 AS (SELECT DISTINCT bi.o AS id FROM bi JOIN f1 ON bi.n = f1.id
         |       WHERE bi.o <> 0 AND bi.o NOT IN (SELECT id FROM f1)),
         |f3 AS (SELECT DISTINCT bi.o AS id FROM bi JOIN f2 ON bi.n = f2.id
         |       WHERE bi.o <> 0 AND bi.o NOT IN (SELECT id FROM f1)
         |         AND bi.o NOT IN (SELECT id FROM f2))
         |SELECT CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS dist
         |UNION ALL SELECT id, 1 FROM f1
         |UNION ALL SELECT id, 2 FROM f2
         |UNION ALL SELECT id, 3 FROM f3""".stripMargin) { (s, d) =>
      // BFS distances (≤3 hops) from vector 0 over the kNN similarity
      // graph — "how far does this example's semantic neighborhood
      // reach", the frontier primitive under influence/contamination
      // spread analyses. Per round: one edge-keyed join + distinct +
      // anti-join against the visited set, frontier and visited lazily
      // localCheckpoint'd (the graph_kcore discipline — an un-cut BFS
      // lineage re-embeds every earlier round per reference). Rounds are
      // O(frontier·degree) narrow shuffles; at 100 TB this is the
      // Pregel-style frontier walk with the edge set pre-partitioned on n.
      val ue = knn3(s, d)
        .select(least(col("src"), col("dst")).as("a"),
                greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val bi = ue.select(col("a").as("n"), col("b").as("o"))
        .unionByName(ue.select(col("b").as("n"), col("a").as("o")))
        .localCheckpoint(false)
      var visited = s.range(1)
        .select(lit(0L).as("vec_id"), lit(0L).as("dist"))
        .localCheckpoint(false)
      var frontier = visited.select(col("vec_id"))
      for (r <- 1 to 3) {
        val next = bi.join(frontier.select(col("vec_id").as("n")), "n")
          .select(col("o").as("vec_id")).distinct()
          .join(visited.select("vec_id"), Seq("vec_id"), "left_anti")
          .withColumn("dist", lit(r.toLong))
          .localCheckpoint(false)
        visited = visited.unionByName(next).localCheckpoint(false)
        frontier = next.select(col("vec_id"))
      }
      visited
    },

    Q("graph_kcore",
      s"""WITH g AS ($KnnOracleSql),
         |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM g),
         |b0 AS (SELECT a AS n, b AS o FROM ue UNION ALL SELECT b, a FROM ue),
         |k1 AS (SELECT n FROM b0 GROUP BY n HAVING count(*) >= 4),
         |b1 AS (SELECT b0.n, b0.o FROM b0 JOIN k1 x ON x.n = b0.n JOIN k1 y ON y.n = b0.o),
         |k2 AS (SELECT n FROM b1 GROUP BY n HAVING count(*) >= 4),
         |b2 AS (SELECT b1.n, b1.o FROM b1 JOIN k2 x ON x.n = b1.n JOIN k2 y ON y.n = b1.o),
         |k3 AS (SELECT n FROM b2 GROUP BY n HAVING count(*) >= 4),
         |b3 AS (SELECT b2.n, b2.o FROM b2 JOIN k3 x ON x.n = b2.n JOIN k3 y ON y.n = b2.o)
         |SELECT 1 AS round, (SELECT CAST(count(*) AS BIGINT) FROM k1) AS n_vertices,
         |       (SELECT CAST(count(*) // 2 AS BIGINT) FROM b1) AS n_edges
         |UNION ALL
         |SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM k2),
         |       (SELECT CAST(count(*) // 2 AS BIGINT) FROM b2)
         |UNION ALL
         |SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM k3),
         |       (SELECT CAST(count(*) // 2 AS BIGINT) FROM b3)""".stripMargin) { (s, d) =>
      // Per round: one degree agg + two id-keyed semi joins — O(E) narrow
      // shuffles, the dedup_clusters iteration budget. Each round's
      // survivor edge set AND its keep-vertex set are lazily
      // localCheckpoint'd (the GraphOps.connectedComponents discipline):
      // without the cut, round r's plan embeds round r-1's THREE times
      // (itself + twice through keep), so three rounds compile to a 3^r
      // exchange tree — measured 82s at sf0.1 (r7w14) vs ~0.3s
      // checkpointed. Counts read the checkpointed frames; no driver-side
      // peeling.
      val ue = knn3(s, d)
        .select(least(col("src"), col("dst")).as("a"),
                greatest(col("src"), col("dst")).as("b"))
        .distinct()
      var bi = ue.select(col("a").as("n"), col("b").as("o"))
        .unionByName(ue.select(col("b").as("n"), col("a").as("o")))
        .localCheckpoint(false)
      val rounds = (1 to 3).map { r =>
        val keep = bi.groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 4).select("n")
          .localCheckpoint(false)
        bi = bi.join(keep, Seq("n"), "left_semi")
          .join(keep.withColumnRenamed("n", "o"), Seq("o"), "left_semi")
          .localCheckpoint(false)
        keep.agg(count(lit(1)).cast("long").as("n_vertices"))
          .crossJoin(bi.agg(expr("count(1) div 2").cast("long").as("n_edges")))
          .select(lit(r).as("round"), col("n_vertices"), col("n_edges"))
      }
      rounds.reduce(_ unionByName _)
    },

    // Content-addressable chunk census (r7) — the block-level dedup shape
    // media/blob stores run (CAS/restic/borg style): fixed 64-byte chunks
    // of the binary content, hashed, census'd per language. The fixture's
    // chunking is fixed-size (content-defined FastCDC boundaries change
    // nothing about the Spark shape — only the boundary expression); the
    // corpus is ASCII so char offsets ARE byte offsets (pinned by
    // multimodal_binary's ascii()==byte oracle). Shape: one bounded
    // explode (len/64 rows per doc) into a (lang, hash) partial agg —
    // 32-byte keys on the wire, text never shuffles; at 100 TB the chunk
    // table is the persisted CAS index and dup_ppm is its storage-savings
    // forecast.
    // Frame sampling over opaque media payloads (r8g): the strided-window
    // plumbing a video/audio pipeline runs before any decoder — fixed
    // frameBytes windows, stride 2, maxFrames cap, short tail frame kept
    // (never padded). The oracle recomputes the window arithmetic
    // (ceil-division window count, stride/take bounds, tail length)
    // closed-form from the payload length, so an off-by-one in the
    // windowing — the classic frame-sampler bug — flips the hash; the
    // per-frame content hash itself is spec-pinned (MultimodalSpec), not
    // oracle-pinned (64-bit wraparound isn't expressible in DuckDB).
    // Row-local flatMap, no shuffle; payload bytes never leave the task.
    Q("multimodal_frames",
      """WITH m AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
        |                  50 + n_nationkey % 40 AS len FROM nation),
        |w AS (SELECT id, len, (len + 15) // 16 AS n_windows FROM m),
        |f AS (SELECT id, len, unnest(generate_series(0, 4, 2)) AS frame_idx, n_windows
        |      FROM w)
        |SELECT id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(least(16, len - frame_idx * 16) AS BIGINT) AS n_bytes
        |FROM f WHERE frame_idx < n_windows""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val media = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val len = (50 + id % 40).toInt
          val bytes = Array.tabulate(len)(i => ((id * 7 + i * 13) % 256).toByte)
          MediaRecord(id, "application/octet-stream", bytes)
        }
      MultimodalOps.sampleFrames(media, frameBytes = 16, stride = 2, maxFrames = 3)
        .toDF()
        .select(col("id"), col("frameIdx").cast("long").as("frame_idx"),
          col("nBytes").cast("long").as("n_bytes"))
    },

    Q("multimodal_chunks",
      """WITH c AS (
        |  SELECT lang, doc_id,
        |         sha256(substr(text, CAST(ci * 64 + 1 AS INT), 64)) AS chunk_hash
        |  FROM (SELECT lang, doc_id, text,
        |          unnest(generate_series(0, (n_chars - 1) // 64)) AS ci
        |        FROM documents WHERE n_chars > 0))
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
        |       CAST((count(*) - count(DISTINCT chunk_hash)) * 1000000 // count(*) AS BIGINT)
        |         AS dup_ppm
        |FROM c GROUP BY lang""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "documents")
        .filter(col("n_chars") > 0)
        .select(col("lang"), col("doc_id"), col("text"),
                explode(expr("sequence(0L, (n_chars - 1) div 64)")).as("ci"))
        .select(col("lang"), col("doc_id"),
                sha2(expr("substring(text, CAST(ci * 64 + 1 AS INT), 64)"), 256)
                  .as("chunk_hash"))
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_chunks"),
             countDistinct(col("chunk_hash")).as("n_distinct_chunks"))
        .select(col("lang"), col("n_docs"), col("n_chunks"), col("n_distinct_chunks"),
                expr("(n_chunks - n_distinct_chunks) * 1000000 div n_chunks")
                  .cast("long").as("dup_ppm"))
    },

    // K-fold cross-validation audit (r8g): split_assign's 3-way sibling
    // for the eval-ablation loop — every doc lands in exactly one of 5
    // folds by the SAME engine-portable sha256-prefix hash (stable under
    // re-runs/backfills; never rand()/monotonic ids), and the output is
    // the per-fold balance sheet a fold assignment must pass before
    // training 5 ablations on it: doc count, token mass (n_chars), and
    // each fold's mass share in ppm. A skewed fold silently biases the
    // CV estimate, so the audit IS the operator. 100 TB shape: pure
    // per-row hash projection + a 5-group agg — one scan, a 5-row
    // result; the scalar total rides the same agg (no second pass).
    Q("split_kfold",
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5
        |              AS BIGINT) AS fold
        |  FROM documents),
        |f AS (SELECT fold, count(*) AS n_docs, sum(n_chars) AS n_chars
        |      FROM h GROUP BY 1),
        |t AS (SELECT sum(n_chars) AS total FROM f)
        |SELECT fold, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_chars * 1000000 // t.total AS BIGINT) AS mass_ppm
        |FROM f, t""".stripMargin) { (s, d) =>
      val h = Tables.cachedTable(s, d, "documents").select(
        col("n_chars"),
        expr("CAST(conv(substr(sha2(CAST(doc_id AS STRING), 256), 1, 8), 16, 10) AS BIGINT) % 5")
          .as("fold"))
      val f = h.groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      val t = f.agg(sum("n_chars").as("total"))
      f.crossJoin(broadcast(t))
        .select(col("fold"), col("n_docs"), col("n_chars"),
          expr("n_chars * 1000000 div total").as("mass_ppm"))
    },

    // NDCG@10 retrieval eval (r8g) — embed_recall_eval reports overlap;
    // this grades the ORDER: position-discounted gain of label-relevant
    // hits in the exact cosine top-10, the metric a retrieval ablation is
    // actually decided on. Exactness ladder: log2 discounts never run in
    // either engine — the weights are PRECOMPUTED integer literals
    // w_i = round(1e9/log2(i+1)) interpolated into BOTH queries from one
    // Scala constant, so dcg/idcg are BIGINT dot products and ndcg is one
    // exact-int IEEE division (identical bits cross-engine). Binary rel ⇒
    // ideal ranking is "all hits first" ⇒ idcg = prefix-sum of weights at
    // n_rel, a CASE lookup, not a sort. 100 TB shape: the exact top-k leg
    // rides topKPerGroup's two-phase bucketed ranking (the brute-force
    // baseline the ANN keys are graded against); everything after the
    // top-k is 8×10 rows.
    Q("rank_ndcg",
      s"""WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |pr AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv FROM el WHERE vec_id < 8),
         |ex AS (SELECT probe_id, plabel, vec_id, lbl, rnk FROM (
         |  SELECT pr.probe_id, pr.plabel, el.vec_id, el.label AS lbl,
         |         row_number() OVER (PARTITION BY pr.probe_id
         |           ORDER BY round(list_cosine_similarity(el.v, pr.pv), 5) DESC, el.vec_id) AS rnk
         |  FROM el, pr WHERE el.vec_id <> pr.probe_id) WHERE rnk <= 10),
         |g AS (SELECT probe_id,
         |        sum(CASE WHEN lbl = plabel THEN 1 ELSE 0 END) AS n_rel,
         |        sum(CASE WHEN lbl = plabel THEN ($NdcgWeightCase) ELSE 0 END) AS dcg
         |      FROM ex GROUP BY 1)
         |SELECT probe_id, CAST(n_rel AS BIGINT) AS n_rel,
         |       CAST(dcg AS BIGINT) AS dcg_ppb,
         |       CAST(($NdcgIdealCase) AS BIGINT) AS idcg_ppb,
         |       CASE WHEN n_rel = 0 THEN 0.0
         |            ELSE CAST(dcg AS DOUBLE) / CAST(($NdcgIdealCase) AS DOUBLE)
         |       END AS ndcg
         |FROM g""".stripMargin) { (s, d) =>
      val topk = rankTopk(s, d) // shared with rank_mrr / rank_map (r9)
      val wArr = typedLit(NdcgWeights)
      val pArr = typedLit(NdcgWeights.scanLeft(0L)(_ + _).tail)
      topk
        .select(col("probe_id"),
          when(col("lbl") === col("plabel"), 1L).otherwise(0L).as("rel"),
          col("rank"))
        .groupBy("probe_id")
        .agg(sum("rel").as("n_rel"),
          sum(when(col("rel") === 1, element_at(wArr, col("rank").cast("int")))
            .otherwise(0L)).as("dcg_ppb"))
        .select(col("probe_id"), col("n_rel"), col("dcg_ppb"),
          when(col("n_rel") === 0, 0L)
            .otherwise(element_at(pArr, col("n_rel").cast("int"))).as("idcg_ppb"))
        .withColumn("ndcg",
          when(col("n_rel") === 0, lit(0.0))
            .otherwise(col("dcg_ppb").cast("double") / col("idcg_ppb").cast("double")))
    },

    // IVF+PQ composed search (r9) — FAISS's IndexIVFPQ, the billion-scale
    // workhorse, composed from the two EXISTING cached builds: the IVF
    // coarse quantizer routes the query to its top-NProbeSearch cells,
    // and the PQ ADC scan scores ONLY vectors homed in those cells — the
    // compute drops by the (1 − nprobe/k) cell-prune factor ON TOP of
    // PQ's 64× memory cut. Recall loss vs flat PQ is exactly IVF's
    // cell-miss rate (sim_search_ivf's pinned 0.99+ at this nprobe). The
    // oracle splices BOTH deterministic k-means chains into one query
    // (codebookCtesPrefixed renames the IVF CTEs next to the PQ chain) —
    // any drift in either replay flips the hash.
    Q("sim_search_ivf_pq", {
      val np = KMeansSql.NProbeSearch
      val i = KMeansSql.Iters
      s"""$PqAdcSql,
         |${KMeansSql.codebookCtesPrefixed("iv_")},
         |pcell AS (SELECT cell FROM iv_sc$i
         |          WHERE vec_id = ${KMeansSql.PqProbeId} AND rn <= $np),
         |home AS (SELECT vec_id, cell FROM iv_sc$i WHERE rn = 1),
         |cand AS (SELECT home.vec_id FROM home JOIN pcell USING (cell))
         |SELECT adc.vec_id, adc_cos FROM adc JOIN cand USING (vec_id)
         |ORDER BY adc_cos DESC, adc.vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val np = KMeansSql.NProbeSearch
      val asg = KMeansSql.assignments(s, d)
      val pcells = asg.filter(col("vec_id") === KMeansSql.PqProbeId &&
        col("rn") <= np).select("cell")
      val cand = asg.filter(col("rn") === 1)
        .join(broadcast(pcells), "cell").select("vec_id")
      pqAdcScores(s, d, restrict = Some(cand))
        .orderBy(col("adc_cos").desc, col("vec_id")).limit(10)
    },

    // k-means cluster-quality report (r9) — the inertia/affinity census a
    // nightly IVF index build publishes: per cell, member count and mean
    // cosine-to-centroid (spherical k-means' objective). A cell whose
    // mean affinity sags is over-merged (split it / raise k); a near-1.0
    // singleton cell is an over-split. Same shared Lloyd build as every
    // IVF consumer (one codebook per session); per-member affinities
    // quantize to DECIMAL(18,6) before the exact order-free per-cell sum,
    // mean = one IEEE division, 5 dp.
    Q("embed_cluster_inertia", {
      val i = KMeansSql.Iters
      s"""${KMeansSql.codebookCtes()},
         |aff AS (SELECT d.vec_id, d.cell,
         |               CAST(d.dot / sqrt(c.csq) AS DECIMAL(18,6)) AS a
         |        FROM dot$i d JOIN csq$i c USING (cell)
         |        JOIN sc$i s ON s.vec_id = d.vec_id AND s.cell = d.cell
         |        WHERE s.rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
         |       round(CAST(sum(a) AS DOUBLE) / count(*), 5) AS mean_affinity
         |FROM aff GROUP BY 1""".stripMargin
    }) { (s, d) =>
      KMeansSql.assignments(s, d) // shared cached scoring pass (carries affinity)
        .filter(col("rn") === 1)
        .select(col("cell"),
          col("affinity").cast(DecimalType(18, 6)).as("a"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"), sum("a").as("sa"))
        .select(col("cell"), col("n_members").cast("long").as("n_members"),
          round(col("sa").cast("double") / col("n_members"), 5).as("mean_affinity"))
    },

    // Mean-reciprocal-rank eval (r9) — the third retrieval grade next to
    // embed_recall_eval (overlap) and rank_ndcg (graded order): MRR cares
    // ONLY about the first relevant hit — the "did the right answer come
    // up first" metric RAG and known-item search optimize. Same probe/
    // top-10 construction as rank_ndcg (shared two-phase bucketed top-k);
    // rr_ppb = 10⁹ // first_rel_rank is one integer floor-division — no
    // float anywhere.
    Q("rank_mrr",
      """WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv FROM el WHERE vec_id < 8),
        |ex AS (SELECT probe_id, plabel, vec_id, lbl, rnk FROM (
        |  SELECT pr.probe_id, pr.plabel, el.vec_id, el.label AS lbl,
        |         row_number() OVER (PARTITION BY pr.probe_id
        |           ORDER BY round(list_cosine_similarity(el.v, pr.pv), 5) DESC, el.vec_id) AS rnk
        |  FROM el, pr WHERE el.vec_id <> pr.probe_id) WHERE rnk <= 10)
        |SELECT probe_id,
        |       CAST(coalesce(min(CASE WHEN lbl = plabel THEN rnk END), 0) AS BIGINT)
        |         AS first_rel_rank,
        |       CAST(CASE WHEN min(CASE WHEN lbl = plabel THEN rnk END) IS NULL THEN 0
        |                 ELSE 1000000000 // min(CASE WHEN lbl = plabel THEN rnk END)
        |            END AS BIGINT) AS rr_ppb
        |FROM ex GROUP BY 1""".stripMargin) { (s, d) =>
      rankTopk(s, d)
        .groupBy("probe_id")
        .agg(min(when(col("lbl") === col("plabel"), col("rank"))).as("fr"))
        .select(col("probe_id"),
          coalesce(col("fr"), lit(0L)).cast("long").as("first_rel_rank"),
          when(col("fr").isNull, 0L)
            .otherwise(expr("1000000000L div fr")).cast("long").as("rr_ppb"))
    },

    // Average-precision eval (r9) — the order-sensitive grade between
    // MRR (first hit only) and NDCG (graded discounts): AP@10 = mean over
    // relevant HITS of precision-at-that-hit, the retrieval-eval standard
    // (MAP = its mean over probes). Per-hit precision cum_rel/rank floors
    // to ppb (documented quantization, same scaled-integer discipline as
    // rank_fusion), the hit sum is exact, and the final ÷n_rel is one
    // more integer floor — the whole grade is BIGINT end to end.
    Q("rank_map",
      """WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv FROM el WHERE vec_id < 8),
        |ex AS (SELECT probe_id, plabel, vec_id, lbl, rnk FROM (
        |  SELECT pr.probe_id, pr.plabel, el.vec_id, el.label AS lbl,
        |         row_number() OVER (PARTITION BY pr.probe_id
        |           ORDER BY round(list_cosine_similarity(el.v, pr.pv), 5) DESC, el.vec_id) AS rnk
        |  FROM el, pr WHERE el.vec_id <> pr.probe_id) WHERE rnk <= 10),
        |c AS (SELECT probe_id, rnk,
        |             CASE WHEN lbl = plabel THEN 1 ELSE 0 END AS rel,
        |             sum(CASE WHEN lbl = plabel THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY probe_id ORDER BY rnk) AS cum
        |      FROM ex)
        |SELECT probe_id, CAST(sum(rel) AS BIGINT) AS n_rel,
        |       CAST(CASE WHEN sum(rel) = 0 THEN 0
        |                 ELSE sum(CASE WHEN rel = 1
        |                               THEN 1000000000 * cum // rnk ELSE 0 END)
        |                      // sum(rel)
        |            END AS BIGINT) AS ap_ppb
        |FROM c GROUP BY 1""".stripMargin) { (s, d) =>
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy("rank")
        .rowsBetween(Long.MinValue, 0)
      rankTopk(s, d)
        .select(col("probe_id"), col("rank"),
          when(col("lbl") === col("plabel"), 1L).otherwise(0L).as("rel"))
        .withColumn("cum", sum("rel").over(wc))
        .groupBy("probe_id")
        .agg(sum("rel").as("n_rel"),
          sum(when(col("rel") === 1, expr("1000000000L * cum div rank"))
            .otherwise(0L)).as("hit_ppb"))
        .select(col("probe_id"), col("n_rel").cast("long").as("n_rel"),
          when(col("n_rel") === 0, 0L)
            .otherwise(expr("hit_ppb div n_rel")).cast("long").as("ap_ppb"))
    },

    // GROUP-aware k-fold assignment (r9) — split_kfold splits ROWS, but
    // when documents from one source are near-duplicates of each other,
    // row-level folds leak train into eval (the split_leakage_check
    // failure mode); group k-fold holds out whole SOURCES. Group key =
    // min(doc_id) per source (deterministic, engine-portable — no string
    // hash dialect to reconcile); fold = that anchor mod 5. Emits the
    // per-source assignment + sizes, the design table a training job
    // joins back. 100 TB: one (source) agg + one broadcast-back join —
    // the group table is domain-sized, never corpus-sized.
    Q("split_group_kfold",
      """WITH g AS (SELECT source, min(doc_id) AS anchor, count(*) AS n_docs
        |           FROM documents GROUP BY 1)
        |SELECT source, CAST(anchor % 5 AS BIGINT) AS fold,
        |       CAST(n_docs AS BIGINT) AS n_docs
        |FROM g""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "documents")
        .groupBy("source")
        .agg(min("doc_id").as("anchor"), count(lit(1)).as("n_docs"))
        .select(col("source"), (col("anchor") % 5).cast("long").as("fold"),
          col("n_docs").cast("long").as("n_docs"))
    },

    // Sign-bit binary ANN (r9) — the sixth member of the search family
    // (flat / IVF / LSH / SQ8 / PQ / BINARY): binarize each embedding to
    // its 64 sign bits packed into two 32-bit BIGINT words, rank by
    // Hamming distance to the probe's code. The coarsest, fastest tier of
    // the quantization ladder — 8 bytes/vector (vs 64 for SQ8, 256 for
    // float), distance = 2 XORs + 2 popcounts, no multiplies at all; at
    // 100 TB it's the in-RAM pre-filter in front of SQ8/PQ rerank. Codes
    // are exact integer folds (bit i set iff v_i > 0 — same float compare
    // both engines); Hamming + (distance, vec_id) ranking are pure BIGINT.
    Q("sim_search_hamming",
      """WITH pos AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |w AS (SELECT vec_id,
        |             sum(CASE WHEN i <= 32 AND x > 0
        |                      THEN 1::BIGINT << (i - 1) ELSE 0 END) AS w_lo,
        |             sum(CASE WHEN i > 32 AND x > 0
        |                      THEN 1::BIGINT << (i - 33) ELSE 0 END) AS w_hi
        |      FROM pos GROUP BY 1),
        |p AS (SELECT w_lo AS p_lo, w_hi AS p_hi FROM w WHERE vec_id = 0)
        |SELECT w.vec_id,
        |       CAST(bit_count(xor(w_lo, p_lo)) + bit_count(xor(w_hi, p_hi))
        |            AS BIGINT) AS hamming
        |FROM w, p WHERE w.vec_id <> 0
        |ORDER BY hamming, w.vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val codes = signbitCodes(s, d)
      val probe = codes.filter(col("vec_id") === 0)
        .select(col("w_lo").as("p_lo"), col("w_hi").as("p_hi"))
      codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          (bit_count(col("w_lo").bitwiseXOR(col("p_lo"))) +
            bit_count(col("w_hi").bitwiseXOR(col("p_hi")))).cast("long").as("hamming"))
        .orderBy(col("hamming"), col("vec_id")).limit(10)
    },

    // PQ quantization-distortion audit (r9) — embed_cluster_inertia's
    // twin for the PRODUCT quantizer: per vector, the cosine between the
    // unit vector and its PQ reconstruction (concatenated assigned
    // centroids), summarized as mean/max distortion (1 − cos). THE
    // go/no-go number for the m/k choice: distortion here bounds the ADC
    // ranking error sim_search_pq lives with. Exactness rides the
    // pqAdcScores ladder exactly: per-(vec, sub) dot and csq are
    // DECIMAL(27,12) per-term sums cast double, each quantizes to
    // DECIMAL(18,6), the 4-subspace sums add exactly, and cos/distortion
    // are one IEEE tree quantized at the report boundary.
    Q("embed_pq_distortion", {
      val i = KMeansSql.PqIters
      s"""${KMeansSql.pqCtes()},
         |home AS (SELECT vec_id, sub, cell FROM sc$i WHERE rn = 1),
         |dsub AS (SELECT h.vec_id,
         |                CAST(d.dot AS DECIMAL(18,6)) AS dq,
         |                CAST(c.csq AS DECIMAL(18,6)) AS cq
         |         FROM home h
         |         JOIN dot$i d ON d.vec_id = h.vec_id AND d.sub = h.sub
         |                     AND d.cell = h.cell
         |         JOIN csq$i c ON c.sub = h.sub AND c.cell = h.cell),
         |pv AS (SELECT vec_id,
         |              CAST(CAST(1 - CAST(sum(dq) AS DOUBLE)
         |                            / sqrt(CAST(sum(cq) AS DOUBLE))
         |                   AS DECIMAL(18,6)) AS DOUBLE) AS dist
         |       FROM dsub GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |       round(CAST(sum(CAST(dist AS DECIMAL(18,6))) AS DOUBLE)
         |             / count(*), 5) AS mean_distortion,
         |       round(max(dist), 5) AS max_distortion
         |FROM pv""".stripMargin
    }) { (s, d) =>
      val dec2712 = DecimalType(27, 12)
      val dec186 = DecimalType(18, 6)
      val emb = Tables.cachedTable(s, d, "embeddings")
      val m = KMeansSql.PqM
      val dim = emb.agg(max(size(col("embedding")))).head().getInt(0)
      val subdim = dim / m
      val cent = KMeansSql.pqCodebook(s, d) // (sub, cell, sp, c) LocalRelation
      // unit-normalized subspace positions, inline (the nearest-centroid
      // idiom); sub/sp split mirrors pqCtes' 0-based arithmetic
      val pos0 = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x0")))
        .withColumn("x0", col("x0").cast("double"))
      val nsq = pos0.groupBy("vec_id")
        .agg(sum((col("x0") * col("x0")).cast(dec2712)).cast("double").as("n2"))
      val pos = pos0.join(nsq, "vec_id")
        .select(col("vec_id"), (col("p") / subdim).cast("int").as("sub"),
          (col("p") % subdim).cast("int").as("sp"),
          (col("x0") / sqrt(col("n2"))).as("x"))
      // home assignment, long form off the cached wide code index
      val codes = KMeansSql.pqCodesWide(s, d).selectExpr("vec_id",
        s"stack($m, ${(0 until m).map(i => s"$i, c$i").mkString(", ")}) AS (sub, cell)")
      // attach each position's ASSIGNED centroid component only: one
      // (vec, sub) join to the m-row-per-vector code list, then the tiny
      // broadcast codebook on (sub, cell, sp) — never the all-cells fanout
      val dsub = pos.join(codes, Seq("vec_id", "sub"))
        .join(broadcast(cent), Seq("sub", "cell", "sp"))
        .groupBy("vec_id", "sub", "cell")
        .agg(sum((col("x") * col("c")).cast(dec2712)).cast("double").as("dot"))
        .withColumn("dq", col("dot").cast(dec186))
      val cq = cent.groupBy("sub", "cell")
        .agg(sum((col("c") * col("c")).cast(dec2712)).cast("double").as("csq"))
        .withColumn("cq", col("csq").cast(dec186))
      val pv = dsub.join(broadcast(cq), Seq("sub", "cell"))
        .groupBy("vec_id")
        .agg(sum("dq").as("sd"), sum("cq").as("sc"))
        .select((lit(1) - col("sd").cast("double") / sqrt(col("sc").cast("double")))
          .cast(dec186).cast("double").as("dist"))
      pv.agg(count(lit(1)).as("n_vectors"),
          sum(col("dist").cast(dec186)).as("sdist"), max(col("dist")).as("mx"))
        .select(col("n_vectors").cast("long").as("n_vectors"),
          round(col("sdist").cast("double") / col("n_vectors"), 5).as("mean_distortion"),
          round(col("mx"), 5).as("max_distortion"))
    },

    // Media storage census (r9) — the capacity-planning readout a
    // multimodal lake publishes: per sample-rate cohort, object count and
    // exact byte totals of the stored payloads. Sizes come from
    // length(content) over REAL encoded WAV containers, and the canonical
    // RIFF layout makes them closed-form (44 header bytes + 2·n_samples)
    // — so the census doubles as a byte-exact pin on the ENCODER: one
    // padding byte or a wrong chunk size flips the hash. Payload bytes
    // never shuffle; only (rate, length) pairs reach the agg.
    Q("multimodal_storage_census",
      """WITH a AS (
        |  SELECT CAST(8000 + 100 * (n_nationkey % 3) AS BIGINT) AS sample_rate,
        |         CAST(44 + 2 * (160 + 32 * (n_nationkey % 5)) AS BIGINT) AS bytes
        |  FROM nation)
        |SELECT sample_rate, CAST(count(*) AS BIGINT) AS n_objects,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       CAST(max(bytes) AS BIGINT) AS max_bytes
        |FROM a GROUP BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val media = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val n = (160 + 32 * (id % 5)).toInt
          val samples = new Array[Short](n) // content-free: size is the test
          MediaRecord(id, "audio/wav",
            MultimodalOps.wavBytes(samples, (8000 + 100 * (id % 3)).toInt))
        }
      media.toDF()
        .select((lit(8000) + lit(100) * (col("id") % 3)).cast("long").as("sample_rate"),
          length(col("content")).cast("long").as("bytes"))
        .groupBy("sample_rate")
        .agg(count(lit(1)).as("n_objects"), sum("bytes").as("total_bytes"),
          max("bytes").as("max_bytes"))
        .select(col("sample_rate"), col("n_objects").cast("long").as("n_objects"),
          col("total_bytes").cast("long").as("total_bytes"),
          col("max_bytes").cast("long").as("max_bytes"))
    },

    // Image luminance entropy (r9) — the real-decoder content-complexity
    // gate: a near-zero-entropy image is a blank/solid placeholder (crawl
    // junk a multimodal curation pass drops), high entropy is textured
    // content. One genuine two-tone PNG per nation row (dark-row count is
    // closed-form), ImageIO-decoded back; the DECODER's per-pixel
    // luminance census feeds the two-level entropy, so a decode that
    // miscounts one pixel flips the hash. The ln terms run on exact
    // integer ratios in one identical IEEE tree, DECIMAL(18,6)-quantized
    // at the boundary (the text_entropy ladder).
    Q("multimodal_image_entropy",
      """WITH a AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
        |                  8 * (4 + n_nationkey % 5) AS n_pixels,
        |                  8 * (1 + n_nationkey % 3) AS n_dark
        |           FROM nation)
        |SELECT id, CAST(n_pixels AS BIGINT) AS n_pixels,
        |       CAST(n_dark AS BIGINT) AS n_dark,
        |       CAST(CAST(-(CAST(n_dark AS DOUBLE) / n_pixels
        |                     * ln(CAST(n_dark AS DOUBLE) / n_pixels)
        |                   + (1 - CAST(n_dark AS DOUBLE) / n_pixels)
        |                     * ln(1 - CAST(n_dark AS DOUBLE) / n_pixels))
        |            AS DECIMAL(18,6)) AS DOUBLE) AS entropy
        |FROM a""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.operators.{MediaRecord, MultimodalOps}
      val counts = Tables.cachedTable(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("id")).as[Long]
        .map { id =>
          val w = 8
          val h = (4 + id % 5).toInt
          val darkRows = (1 + id % 3).toInt
          MediaRecord(id, "image/png", MultimodalOps.pngBytes(w, h) { (_, y) =>
            val g = if (y < darkRows) 40 else 200
            (g << 16) | (g << 8) | g
          })
        }
        .map { m =>
          // the DECODER's census, not the fixture's: re-parse the PNG and
          // count dark pixels off the decoded raster
          val img = MultimodalOps.decodeImage(m.content).get
          var dark = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              if ((img.getRGB(x, y) & 0xff) < 128) dark += 1
              x += 1
            }
            y += 1
          }
          (m.id, img.getWidth.toLong * img.getHeight, dark)
        }
        .toDF("id", "n_pixels", "n_dark")
      val p = col("n_dark").cast("double") / col("n_pixels")
      counts.select(col("id"), col("n_pixels"), col("n_dark"),
        (-(p * log(p) + (lit(1) - p) * log(lit(1) - p)))
          .cast(DecimalType(18, 6)).cast("double").as("entropy"))
    },

    // Nearest-centroid classification eval (r9) — the cheapest supervised
    // probe of embedding quality (Rocchio): per-label unit-vector
    // centroids, classify every vector by max cosine affinity, report
    // per-label accuracy. An embedder whose labels aren't linearly
    // centroid-separable here won't cluster, dedup, or retrieve well —
    // the go/no-go eval BEFORE investing in ANN index builds. Mirrors
    // the IVF scoring ladder exactly (unit-normalize → DECIMAL(27,12)
    // per-term sums → dot/sqrt(csq) DESC ranking, label tie-break), so
    // the oracle replays step for step.
    Q("embed_nearest_centroid",
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pos0 AS (SELECT vec_id, label, unnest(generate_series(1, len(v))) AS p,
        |                unnest(v) AS x FROM e),
        |nsq AS (SELECT vec_id, CAST(sum(CAST(x*x AS DECIMAL(27,12))) AS DOUBLE) AS n2
        |        FROM pos0 GROUP BY 1),
        |pos AS (SELECT pos0.vec_id, label, p, x / sqrt(nsq.n2) AS x
        |        FROM pos0 JOIN nsq USING (vec_id)),
        |cent AS (SELECT label AS cell, p,
        |                CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE)/count(*) AS c
        |         FROM pos GROUP BY 1, 2),
        |csq AS (SELECT cell, CAST(sum(CAST(c*c AS DECIMAL(27,12))) AS DOUBLE) AS csq
        |        FROM cent GROUP BY 1),
        |dt AS (SELECT pos.vec_id, cent.cell,
        |              CAST(sum(CAST(pos.x*cent.c AS DECIMAL(27,12))) AS DOUBLE) AS dot
        |       FROM pos JOIN cent USING (p) GROUP BY 1, 2),
        |sc AS (SELECT d.vec_id, d.cell,
        |              row_number() OVER (PARTITION BY d.vec_id
        |                ORDER BY d.dot / sqrt(c.csq) DESC, d.cell) AS rn
        |       FROM dt d JOIN csq c USING (cell)),
        |pred AS (SELECT vec_id, cell FROM sc WHERE rn = 1)
        |SELECT e.label, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN pred.cell = e.label THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_correct,
        |       CAST(sum(CASE WHEN pred.cell = e.label THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS accuracy_ppm
        |FROM e JOIN pred USING (vec_id) GROUP BY 1""".stripMargin) { (s, d) =>
      val dec = DecimalType(27, 12)
      val emb = Tables.cachedTable(s, d, "embeddings")
      // the classifier build (centroids + full scoring pass) is one
      // deterministic artifact per (session, dir) — cache it like every
      // other shared scoring build (the embed_cluster_inertia lesson:
      // 2.98s/warm-call re-scoring vs a cache read)
      val pred = Tables.cached(s, s"$d/nearest-centroid-pred") {
        val pos0 = emb
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("p", "x0")))
          .withColumn("x0", col("x0").cast("double"))
        val nsq = pos0.groupBy("vec_id")
          .agg(sum((col("x0") * col("x0")).cast(dec)).cast("double").as("n2"))
        val pos = pos0.join(nsq, "vec_id")
          .select(col("vec_id"), col("label"), col("p"),
            (col("x0") / sqrt(col("n2"))).as("x"))
        // label centroids: classes×dim rows — broadcast-sized at any scale
        val cent = pos.groupBy(col("label").as("cell"), col("p"))
          .agg((sum(col("x").cast(dec)).cast("double") / count(lit(1))).as("c"))
        graft.operators.VectorOps.scoredCells(emb, cent, maxRn = 1)
      }
      emb.select("vec_id", "label")
        .join(pred.select(col("vec_id"), col("cell")), "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cell") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("label"), col("n").cast("long").as("n"),
          col("n_correct").cast("long").as("n_correct"),
          expr("n_correct * 1000000 div n").as("accuracy_ppm"))
    },

    // Binary-prefilter + exact rerank (r9) — the production two-stage read
    // path for the binary tier (the hamming sibling of sim_search_pq_refine):
    // the 16-byte sign-bit codes shortlist top-50 by Hamming distance, then
    // ONLY those 50 vectors decode to floats for an exact cosine rerank.
    // The 100 TB economics: stage 1 streams 8-byte words at memory
    // bandwidth over the whole corpus, stage 2 touches 50 float vectors —
    // the full-precision read is shortlist-sized, not corpus-sized.
    Q("sim_search_hamming_rerank",
      """WITH pos AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |w AS (SELECT vec_id,
        |             sum(CASE WHEN i <= 32 AND x > 0
        |                      THEN 1::BIGINT << (i - 1) ELSE 0 END) AS w_lo,
        |             sum(CASE WHEN i > 32 AND x > 0
        |                      THEN 1::BIGINT << (i - 33) ELSE 0 END) AS w_hi
        |      FROM pos GROUP BY 1),
        |p AS (SELECT w_lo AS p_lo, w_hi AS p_hi FROM w WHERE vec_id = 0),
        |short AS (
        |  SELECT w.vec_id,
        |         CAST(bit_count(xor(w_lo, p_lo)) + bit_count(xor(w_hi, p_hi))
        |              AS BIGINT) AS hamming
        |  FROM w, p WHERE w.vec_id <> 0
        |  ORDER BY hamming, w.vec_id LIMIT 50),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT s.vec_id, s.hamming,
        |       round(list_cosine_similarity(e.v, p2.pv), 5) AS cos_sim
        |FROM short s JOIN e ON e.vec_id = s.vec_id
        |CROSS JOIN (SELECT v AS pv FROM e WHERE vec_id = 0) p2
        |ORDER BY cos_sim DESC, s.vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val codes = signbitCodes(s, d)
      val probe = codes.filter(col("vec_id") === 0)
        .select(col("w_lo").as("p_lo"), col("w_hi").as("p_hi"))
      val short = codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          (bit_count(col("w_lo").bitwiseXOR(col("p_lo"))) +
            bit_count(col("w_hi").bitwiseXOR(col("p_hi")))).cast("long").as("hamming"))
        .orderBy(col("hamming"), col("vec_id")).limit(50)
      val emb = Tables.cachedTable(s, d, "embeddings")
      val pv = emb.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
      emb.join(broadcast(short), "vec_id")
        .crossJoin(broadcast(pv))
        .select(col("vec_id"), col("hamming"),
          round(VectorOps.cosineF(col("embedding"), col("pv")), 5).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    // HITS hubs & authorities (r9) — PageRank's bipartite sibling
    // (Kleinberg 1999) over the SAME cached kNN edge set: a good HUB
    // points at good authorities, a good AUTHORITY is pointed at by good
    // hubs — exactly the boilerplate-vs-canonical split a link-structured
    // corpus audit wants (hubs = aggregator pages, authorities = the
    // content worth keeping). Two unnormalized power rounds keep every
    // score an exact BIGINT (HITS is scale-invariant, so normalization is
    // presentation — deferred entirely): a1 = indegree, h1 = Σ_out a1,
    // a2 = Σ_in h1. Top-15 authorities by (a2 DESC, vec_id). 100 TB:
    // each round is one edge-keyed agg + join — O(E) shuffles, the
    // pagerank shape without the dangling-mass scalar.
    Q("graph_hits",
      """WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |       FROM eemb a JOIN eemb b
        |         ON a.label = b.label AND a.vec_id <> b.vec_id),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY src
        |                                    ORDER BY cos_sim DESC, dst) AS rank
        |       FROM pp),
        |e AS (SELECT src, dst FROM rr WHERE rank <= 3),
        |a1 AS (SELECT dst AS vec_id, count(*) AS a FROM e GROUP BY 1),
        |h1 AS (SELECT e.src AS vec_id, sum(a1.a) AS h
        |       FROM e JOIN a1 ON a1.vec_id = e.dst GROUP BY 1),
        |a2 AS (SELECT e.dst AS vec_id, sum(h1.h) AS a
        |       FROM e JOIN h1 ON h1.vec_id = e.src GROUP BY 1)
        |SELECT a2.vec_id, CAST(a2.a AS BIGINT) AS authority,
        |       CAST(coalesce(h1.h, 0) AS BIGINT) AS hub
        |FROM a2 LEFT JOIN h1 ON h1.vec_id = a2.vec_id
        |ORDER BY a2.a DESC, a2.vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val e = knn3(s, d).select("src", "dst")
      val a1 = e.groupBy(col("dst").as("vec_id")).agg(count(lit(1)).as("a"))
      val h1 = e.join(a1, e("dst") === a1("vec_id"))
        .groupBy(e("src").as("vec_id")).agg(sum("a").as("h"))
      val a2 = e.join(h1, e("src") === h1("vec_id"))
        .groupBy(e("dst").as("vec_id")).agg(sum("h").as("a"))
      a2.join(h1.withColumnRenamed("h", "hub0"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("a").cast("long").as("authority"),
          coalesce(col("hub0"), lit(0L)).cast("long").as("hub"))
        .orderBy(col("authority").desc, col("vec_id")).limit(15)
    },

    // kNN-graph reciprocity (r9) — the symmetry audit that motivates (or
    // waives) the symmetrization step label_prop/CC pay for: fraction of
    // directed kNN edges whose REVERSE edge also exists. Low reciprocity
    // is the hubness signature (hubs sit in many NN lists they don't
    // reciprocate — graph_degree_stats' diagnosis summarized to one
    // actionable ppm). One semi-join on the cached edge set, exact ints.
    Q("graph_reciprocity",
      """WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |       FROM eemb a JOIN eemb b
        |         ON a.label = b.label AND a.vec_id <> b.vec_id),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY src
        |                                    ORDER BY cos_sim DESC, dst) AS rank
        |       FROM pp),
        |e AS (SELECT src, dst FROM rr WHERE rank <= 3),
        |r AS (SELECT count(*) AS n_recip
        |      FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src),
        |n AS (SELECT count(*) AS n_edges FROM e)
        |SELECT CAST(n_edges AS BIGINT) AS n_edges,
        |       CAST(n_recip AS BIGINT) AS n_reciprocal,
        |       CAST(n_recip * 1000000 // n_edges AS BIGINT) AS reciprocity_ppm
        |FROM n, r""".stripMargin) { (s, d) =>
      val e = knn3(s, d).select("src", "dst")
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val nRecip = e.join(rev, Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("n_reciprocal"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(nRecip))
        .select(col("n_edges").cast("long").as("n_edges"),
          col("n_reciprocal").cast("long").as("n_reciprocal"),
          expr("n_reciprocal * 1000000 div n_edges").as("reciprocity_ppm"))
    },

    // Degree assortativity (r9) — Newman's r: do high-degree nodes attach
    // to other high-degree nodes (assortative, r > 0: clustered cliques —
    // the near-dup signature) or to low-degree ones (disassortative,
    // r < 0: hub-and-spoke — the boilerplate-template signature)? One
    // scalar that summarizes the whole degree-mixing structure. Pearson
    // over the (deg_u, deg_v) pairs of BOTH orientations of the
    // undirected edge set — all five moments exact BIGINTs, the final r
    // one IEEE tree, 5 dp. 100 TB: degrees are one edge agg; the moment
    // pass is one join of edges to the broadcast degree table.
    Q("graph_assortativity",
      """WITH eemb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pp AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |         round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |       FROM eemb a JOIN eemb b
        |         ON a.label = b.label AND a.vec_id <> b.vec_id),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY src
        |                                    ORDER BY cos_sim DESC, dst) AS rank
        |       FROM pp),
        |ud AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |       FROM rr WHERE rank <= 3),
        |bi AS (SELECT u, v FROM ud UNION ALL SELECT v, u FROM ud),
        |deg AS (SELECT u AS node, count(*) AS deg FROM bi GROUP BY 1),
        |pairs AS (SELECT du.deg AS x, dv.deg AS y
        |          FROM bi JOIN deg du ON du.node = bi.u
        |                  JOIN deg dv ON dv.node = bi.v),
        |m AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM pairs)
        |SELECT CAST(m / 2 AS BIGINT) AS n_edges,
        |       round(CAST(m * sxy - sx * sy AS DOUBLE) /
        |             (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |              sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 5) AS assortativity
        |FROM m""".stripMargin) { (s, d) =>
      // Shared cached symmetrized edge set (r16; replaces the r15 per-run
      // distinct + localCheckpoint): bi == distinct bidirected edges ==
      // knn3Sym exactly (the old least/greatest-distinct-then-mirror form
      // emits each unordered pair once per orientation, as does
      // distinct(e ∪ reverse(e)); kNN edges never self-loop). The two
      // broadcast degree subqueries and the final moment aggregate each
      // execute their own subtree — all three now read the ONE cached
      // V·k-bounded frame, also shared with graph_modularity.
      val bi = knn3Sym(s, d)
        .select(col("src").as("u"), col("dst").as("v"))
      val deg = bi.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      val pairs = bi
        .join(broadcast(deg.select(col("node").as("u"), col("deg").as("x"))), "u")
        .join(broadcast(deg.select(col("node").as("v"), col("deg").as("y"))), "v")
      pairs.agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select((col("m") / 2).cast("long").as("n_edges"),
          round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))), 5)
            .as("assortativity"))
    }
  )
}
