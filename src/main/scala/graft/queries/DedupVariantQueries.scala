package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{TextOps, VectorOps}

/** Dedup flavors beyond exact + anchor-blocked Jaccard (the brief's full
  * checklist): MinHash-LSH banding, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup. Thresholds were calibrated on the corpus
  * (sf0.01): minhash@0.9 → ~2.3k pairs, simhash hd<=4 → ~2.3k, bigram
  * jaccard@0.5 → 6, cosine@0.4 → 5.
  */
object DedupVariantQueries {

  private val DuckSortedTokens =
    "list_sort(list_distinct(string_split(lower(text), ' ')))"

  /** The capped winnow-fingerprint index as DuckDB CTEs (`f` = (doc_id,
    * fp)) — dedup_delta's oracle prefix, shared verbatim with
    * dedup_delta_bloom (the ClustersOracleSql composition rule: the bloom
    * variant's oracle references the same index, so the two cannot drift).
    * Mirrors TextOps.winnowFingerprints(k=3, w=4) + the df≤128 cap.
    */
  private val WinnowIndexCtes: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) < 3 THEN []
      |              ELSE list_transform(generate_series(1, len(toks) - 2),
      |                     i -> substr(sha256(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16))
      |         END AS hs
      |  FROM t),
      |f0 AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |           generate_series(1, greatest(len(hs) - 3, 1)),
      |           j -> list_min(hs[j : least(j + 3, len(hs))]))) AS fp
      |  FROM g WHERE len(hs) > 0),
      |keep AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 128),
      |f AS (SELECT f0.* FROM f0 JOIN keep USING (fp))""".stripMargin

  /** dedup_clusters' oracle SQL, shared verbatim with dedup_keep_best
    * (which embeds it as a subquery) — the KnnOracleSql composition rule:
    * the survivor policy's oracle references the clustering it selects
    * over, so the two cannot drift.
    */
  private val ClustersOracleSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang, list_distinct(string_split(lower(text), ' ')) AS s
      |  FROM documents),
      |p AS (
      |  SELECT a1.doc_id AS a, a2.doc_id AS b
      |  FROM t a1 JOIN t a2 ON a1.lang = a2.lang AND a1.doc_id < a2.doc_id
      |  WHERE CASE WHEN len(list_distinct(list_concat(a1.s, a2.s))) = 0 THEN 0.0
      |             ELSE CAST(len(list_filter(a1.s, x -> list_contains(a2.s, x))) AS DOUBLE)
      |                  / len(list_distinct(list_concat(a1.s, a2.s))) END >= 0.9),
      |e AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
      |reach AS (
      |  SELECT doc_id AS src, doc_id AS dst FROM documents
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst)
      |SELECT src AS doc_id, min(dst) AS cluster,
      |       CAST(CASE WHEN src = min(dst) THEN 1 ELSE 0 END AS BIGINT) AS is_rep
      |FROM reach GROUP BY src""".stripMargin

  /** Blocked exact-cosine pair list at the sweep floor τ=0.4, cached per
    * dir — one build shared by dedup_embed_cosine + dedup_threshold_sweep.
    */
  private def cosinePairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/embed-pairs-tau0.4") {
      VectorOps.cosineJoinThreshold(Tables.cachedTable(s, d, "embeddings"), tau = 0.4)
    }

  /** Trigram-containment pair list at τ=0.5, cached per dir — one build
    * shared by dedup_containment + dedup_method_venn.
    */
  private[queries] def containPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/contain-pairs/tau=0.5") {
      TextOps.containmentPairs(
        Tables.cachedTable(s, d, "documents").select("doc_id", "lang", "text"),
        minContainment = 0.5,
        tokenizer = c => array_distinct(TextOps.trigrams(TextOps.tokens(c))))
    }

  /** One word-token MinHash signature artifact per dir: (doc_id, lang, s
    * sorted token set, n, mh0..mh7), cached through `Tables.cached`.
    * dedup_minhash_lsh bands on the first 4 components and
    * dedup_minhash_estimate audits all 8, so the token explode + groupBy
    * shuffle (the dominant cold cost) is paid once for both. Columnar
    * `Tables.cached` beats a `localCheckpoint` row store here: the
    * checkpoint halved the cold build but tripled every warm consumer's
    * read (2.7→7.9 s estimate, 1.0→2.4 s lsh at sf0.1).
    */
  private def minhashSig(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/minhash-sig/k=8") {
      TextOps.minHashSignature(Tables.cachedTable(s, d, "documents"), bands = 8)
    }

  /** The df-capped winnowing index (fp, doc_id) — TextOps.winnowFingerprints
    * at k = 3, w = 4 with every fingerprint in more than 128 docs dropped —
    * cached per dir: dedup_winnow, dedup_delta and dedup_delta_bloom read
    * it, the same index WinnowIndexCtes spells out for their oracles.
    *
    * The cap makes the 1M-doc-boilerplate failure mode (one fingerprint
    * shared by 1M docs => 1M^2/2 pairs) structurally impossible: a
    * fingerprint in more than 128 docs is a stopword-fingerprint and is
    * dropped BEFORE any self-join, so per-fp fan-out is bounded by
    * 128^2/2. It sits far above the fixture max df (6 at sf0.01, 22 at
    * sf0.1), so the oracle results are unchanged. It is applied ONCE, at
    * index-build time (at 100 TB the index is written bucketed by fp with
    * the cap applied; nobody re-caps per query), as a broadcast ANTI-join
    * against the OVERFLOW set (df > 128). Anti against overflow, never semi
    * against survivors: survivors are nearly ALL fingerprints
    * (unbroadcastable at scale, and as a shuffle join it re-shuffles the
    * whole index per self-join branch — measured 0.19 s -> 1.1 s at
    * sf0.1), while the overflow set is tiny BY CONSTRUCTION: each member
    * needs > 128 distinct docs, so |overflow| <= fp occurrences / 128.
    */
  private[graft] def winnowCapped(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/winnow-capped/k=3/w=4/cap=128") {
      val fps = TextOps.winnowFingerprints(
        Tables.cachedTable(s, d, "documents").select("doc_id", "text"),
        k = 3, w = 4)
      val overflow = fps.groupBy("fp")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > 128)
        .select("fp")
      fps.join(broadcast(overflow), Seq("fp"), "left_anti")
    }

  /** The shared cluster frame (doc_id, cluster): CC over the cached
    * lossless near-dup pair list — dedup_clusters declares it,
    * dedup_keep_best selects survivors over it. Cached per (session, dir)
    * so the iterative CC runs once.
    */
  private def clusterFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.cached(s, s"$d/neardup-clusters") {
      val docs = Tables.cachedTable(s, d, "documents").select("doc_id", "lang", "text")
      val edges = PipelineQueries.sharedNearDupPairs(s, d)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.operators.GraphOps
        .connectedComponents(docs.select(col("doc_id").as("id")), edges)
    }

  def all: Seq[Q] = Seq(
    Q("dedup_minhash_lsh",
      s"""WITH t AS (SELECT doc_id, lang, $DuckSortedTokens AS s FROM documents),
         |m AS (SELECT doc_id, lang, s, len(s) AS n,
         |        list_min(list_transform(s, x -> sha256('0' || x))) AS mh0,
         |        list_min(list_transform(s, x -> sha256('1' || x))) AS mh1,
         |        list_min(list_transform(s, x -> sha256('2' || x))) AS mh2,
         |        list_min(list_transform(s, x -> sha256('3' || x))) AS mh3
         |      FROM t),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM m a JOIN m b
         |    ON a.lang = b.lang AND a.doc_id < b.doc_id
         |   AND (a.mh0 = b.mh0 OR a.mh1 = b.mh1 OR a.mh2 = b.mh2 OR a.mh3 = b.mh3)
         |   AND CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n) >= 0.9 - 1e-12),
         |v AS (
         |  SELECT c.doc_a, c.doc_b,
         |         CAST(len(list_filter(x.s, t -> list_contains(y.s, t))) AS DOUBLE)
         |           / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
         |  FROM cand c JOIN m x ON x.doc_id = c.doc_a JOIN m y ON y.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.9""".stripMargin) {
      (s, d) =>
        // Rides the shared 8-component signature artifact (first 4
        // components = these bands; identical salt scheme).
        TextOps.minHashSignaturePairs(minhashSig(s, d), minJaccard = 0.9, bands = 4)
    },

    // MinHash ESTIMATOR-quality audit — before trusting banded LSH
    // thresholds at 100 TB, measure the estimator itself: per candidate
    // pair, the 8-component match fraction IS the Jaccard estimate
    // (E[matches/k] = J); bucketed by match count, report the observed
    // mean exact Jaccard and the mean |estimate − exact| — the
    // calibration table that justifies (or re-tunes) the band/row choice.
    // Candidates ride the SAME one-bucket-join shape as dedup_minhash_lsh
    // (explode (component, mh), equi-join, count matches per pair);
    // pairs need ≥ 2 matching components (such a pair shares ≥ 2 buckets,
    // so the bucketed generation is provably lossless for the audited
    // population — the oracle is the NAIVE all-pairs formulation, house
    // convention). Means via per-term DECIMAL(18,6) quantize → exact sum.
    Q("dedup_minhash_estimate",
      """WITH t AS (SELECT doc_id, lang,
        |                  list_distinct(string_split(lower(text), ' ')) AS s
        |           FROM documents),
        |m AS (SELECT doc_id, lang, s,
        |        list_min(list_transform(s, x -> sha256('0' || x))) AS mh0,
        |        list_min(list_transform(s, x -> sha256('1' || x))) AS mh1,
        |        list_min(list_transform(s, x -> sha256('2' || x))) AS mh2,
        |        list_min(list_transform(s, x -> sha256('3' || x))) AS mh3,
        |        list_min(list_transform(s, x -> sha256('4' || x))) AS mh4,
        |        list_min(list_transform(s, x -> sha256('5' || x))) AS mh5,
        |        list_min(list_transform(s, x -> sha256('6' || x))) AS mh6,
        |        list_min(list_transform(s, x -> sha256('7' || x))) AS mh7
        |      FROM t),
        |p AS (
        |  SELECT (a.mh0 = b.mh0)::INT + (a.mh1 = b.mh1)::INT + (a.mh2 = b.mh2)::INT
        |       + (a.mh3 = b.mh3)::INT + (a.mh4 = b.mh4)::INT + (a.mh5 = b.mh5)::INT
        |       + (a.mh6 = b.mh6)::INT + (a.mh7 = b.mh7)::INT AS matches,
        |         CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
        |           / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |  FROM m a JOIN m b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT CAST(matches AS BIGINT) AS matches,
        |       CAST(matches * 125000 AS BIGINT) AS est_ppm,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(CAST(sum(CAST(jac AS DECIMAL(18,6))) AS DOUBLE) / count(*), 5)
        |         AS mean_jaccard,
        |       round(CAST(sum(CAST(abs(matches / 8.0 - jac) AS DECIMAL(18,6)))
        |                  AS DOUBLE) / count(*), 5) AS mean_abs_err
        |FROM p WHERE matches >= 2 GROUP BY matches""".stripMargin) { (s, d) =>
      val k = 8
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      // the shared signature dedup_minhash_lsh bands on: the estimator
      // audits the components the pairer uses
      val base = minhashSig(s, d)
      val pairs = TextOps.bucketSelfJoin(TextOps.signatureBands(base, k),
          Seq("lang", "band", "mh"), "doc_id")
        .groupBy(col("a_doc_id").as("doc_a"), col("b_doc_id").as("doc_b"))
        .agg(count(lit(1)).as("matches"))
        .filter(col("matches") >= 2)
      TextOps.exactInter(pairs, base, "doc_id")
        .select(col("matches"), TextOps.jaccardOf.as("jac"))
        .groupBy("matches")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jac").cast(dec)).as("sj"),
          sum(abs(col("matches") / lit(8.0) - col("jac")).cast(dec)).as("se"))
        .select(col("matches").cast("long").as("matches"),
          (col("matches") * 125000).cast("long").as("est_ppm"),
          col("n_pairs").cast("long").as("n_pairs"),
          round(col("sj").cast("double") / col("n_pairs"), 5).as("mean_jaccard"),
          round(col("se").cast("double") / col("n_pairs"), 5).as("mean_abs_err"))
    },

    // Shared-PREFIX boilerplate census (r9) — template headers ("sign up
    // for our newsletter …") share their opening tokens verbatim even when
    // the tails differ too much for whole-doc dedup to fire: group by the
    // first-5-token prefix, report every prefix shared by ≥ 2 docs with
    // its size and anchor doc — the census a boilerplate-stripping pass
    // (text_boilerplate's doc-level sibling) consumes. One map-side
    // combinable (prefix) agg — never a pair join.
    Q("dedup_prefix",
      """WITH t AS (
        |  SELECT doc_id,
        |         array_to_string(string_split(lower(text), ' ')[1:5], ' ') AS prefix
        |  FROM documents),
        |g AS (SELECT prefix, count(*) AS n_docs, min(doc_id) AS anchor_doc
        |      FROM t GROUP BY 1)
        |SELECT prefix, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(anchor_doc AS BIGINT) AS anchor_doc
        |FROM g WHERE n_docs >= 2""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"),
          array_join(expr("slice(split(lower(text), ' '), 1, 5)"), " ").as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("anchor_doc"))
        .filter(col("n_docs") >= 2)
        .select(col("prefix"), col("n_docs").cast("long").as("n_docs"),
          col("anchor_doc").cast("long").as("anchor_doc"))
    },

    Q("dedup_simhash",
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
        |  FROM documents),
        |hx AS (SELECT doc_id, lang, substr(sha256(tok), 1, 12) AS h FROM tok),
        |pos AS (SELECT doc_id, lang, p.p AS p,
        |               strpos('0123456789abcdef', substr(h, p.p + 1, 1)) - 1 AS dgt
        |        FROM hx, (SELECT unnest(generate_series(0, 11)) AS p) p),
        |bits AS (SELECT doc_id, lang, p,
        |           2 * sum((dgt >> 0) & 1) >= count(*) AS b0,
        |           2 * sum((dgt >> 1) & 1) >= count(*) AS b1,
        |           2 * sum((dgt >> 2) & 1) >= count(*) AS b2,
        |           2 * sum((dgt >> 3) & 1) >= count(*) AS b3
        |         FROM pos GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id, lang,
        |         CAST(sum((b0::BIGINT << (4*p)) + (b1::BIGINT << (4*p+1)) +
        |                  (b2::BIGINT << (4*p+2)) + (b3::BIGINT << (4*p+3))) AS BIGINT) AS simhash
        |       FROM bits GROUP BY 1, 2)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4""".stripMargin) {
      (s, d) =>
        TextOps.simHashPairs(
          Tables.cachedTable(s, d, "documents").select("doc_id", "lang", "text"),
          maxHamming = 4)
    },

    Q("dedup_ngram",
      """WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, lang,
        |        list_sort(list_distinct(CASE WHEN len(t) < 2 THEN []
        |          ELSE list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1]) END)) AS s
        |      FROM t),
        |m AS (SELECT doc_id, lang, s, len(s) AS n,
        |        list_min(list_transform(s, x -> sha256('0' || x))) AS mh0,
        |        list_min(list_transform(s, x -> sha256('1' || x))) AS mh1,
        |        list_min(list_transform(s, x -> sha256('2' || x))) AS mh2,
        |        list_min(list_transform(s, x -> sha256('3' || x))) AS mh3,
        |        list_min(list_transform(s, x -> sha256('4' || x))) AS mh4,
        |        list_min(list_transform(s, x -> sha256('5' || x))) AS mh5
        |      FROM g WHERE len(s) > 0),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM m a JOIN m b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |   AND (a.mh0 = b.mh0 OR a.mh1 = b.mh1 OR a.mh2 = b.mh2
        |     OR a.mh3 = b.mh3 OR a.mh4 = b.mh4 OR a.mh5 = b.mh5)
        |   AND CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n) >= 0.5 - 1e-12),
        |v AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(len(list_filter(x.s, t -> list_contains(y.s, t))) AS DOUBLE)
        |           / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
        |  FROM cand c JOIN m x ON x.doc_id = c.doc_a JOIN m y ON y.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5""".stripMargin) {
      (s, d) =>
        // Bigram shingles (far more discriminative than unigram sets on
        // word-soup text) through the LSH-banded candidate path — r2's
        // single-anchor blocking over bigrams admitted 760× more
        // candidates than true pairs; 6 one-row bands give
        // 1-(1-J)^6 ≈ 98.4% recall at the 0.5 threshold and candidates
        // only where a salted min-shingle collides.
        TextOps.minHashLshPairs(
          Tables.cachedTable(s, d, "documents").select("doc_id", "lang", "text"),
          minJaccard = 0.5, bands = 6,
          tokenizer = c => TextOps.bigrams(TextOps.tokens(c)))
    },

    Q("dedup_clusters", ClustersOracleSql) {
      (s, d) =>
        // The retention step every dedup pipeline ends with: collapse the
        // near-dup PAIR set into connected components and mark one
        // representative (min doc_id) per cluster. Edges come from the
        // provably-lossless prefix-filter nearDupPairs, so the oracle can
        // build the same edge set naively and close it with a recursive
        // CTE; the Spark side is iterative min-label propagation with
        // hooking and pointer jumping (see GraphOps.connectedComponents).
        // The edge set is the SHARED cached pair list dedup_near reports
        // on (PipelineQueries.sharedNearDupPairs), and the resulting
        // cluster frame is itself the SHARED cached [[clusterFrame]] that
        // dedup_keep_best's survivor policy selects over — in a real
        // pipeline both are persisted intermediates written once.
        clusterFrame(s, d)
          .select(
            col("id").as("doc_id"), col("cluster"),
            when(col("id") === col("cluster"), 1L).otherwise(0L).as("is_rep"))
    },

    Q("dedup_keep_best", {
      s"""WITH cl AS ($ClustersOracleSql),
         |m AS (SELECT cl.cluster, d.doc_id, d.n_chars
         |      FROM cl JOIN documents d USING (doc_id)),
         |s AS (SELECT cluster, doc_id, n_chars,
         |             row_number() OVER (PARTITION BY cluster
         |               ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM m)
         |SELECT cluster,
         |       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
         |       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS survivor_chars,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM s GROUP BY 1""".stripMargin
    }) { (s, d) =>
      // Quality-aware survivor selection — the C4/CCNet retention rule:
      // within each near-dup cluster keep the LONGEST member (longest ≈
      // most complete extraction; min-id keeps whichever crawled first),
      // ties by smallest doc_id. Composed on the SAME cached cluster
      // frame dedup_clusters declares and the oracle embeds its SQL — the
      // policy cannot drift from the clustering. Survivor via one
      // integer-exact struct-max hash agg (max(struct(n_chars, -doc_id)))
      // — the graph_label_prop lesson: a per-cluster row_number window
      // would sort; the agg form is map-side combinable. At 100 TB the
      // drop list (everything except survivors) anti-joins the corpus —
      // same shape as dedup_semantic's materialization.
      clusterFrame(s, d)
        .select(col("id").as("doc_id"), col("cluster"))
        .join(Tables.cachedTable(s, d, "documents").select("doc_id", "n_chars"),
          "doc_id")
        .groupBy("cluster")
        .agg(
          max(struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("best"),
          count(lit(1)).cast("long").as("n_members"))
        .select(col("cluster"),
          (-col("best.negid")).cast("long").as("survivor_id"),
          col("best.n_chars").cast("long").as("survivor_chars"),
          col("n_members"))
    },

    Q("dedup_winnow",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) < 3 THEN []
        |              ELSE list_transform(generate_series(1, len(toks) - 2),
        |                     i -> substr(sha256(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16))
        |         END AS hs
        |  FROM t),
        |f0 AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |           generate_series(1, greatest(len(hs) - 3, 1)),
        |           j -> list_min(hs[j : least(j + 3, len(hs))]))) AS fp
        |  FROM g WHERE len(hs) > 0),
        |keep AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 128),
        |f AS (SELECT f0.* FROM f0 JOIN keep USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) {
      (s, d) =>
        // Containment/plagiarism detection over the winnowing index:
        // pairs sharing >= 2 fingerprints. The join key is the 16-hex
        // fingerprint — a fingerprint-bucketed self-join + pair count, no
        // text and no token arrays on the wire; any shared token run of
        // >= w+k-1 tokens is guaranteed to surface (winnowing's coverage
        // bound). The df-capped index bounds per-fp fan-out (see
        // [[winnowCapped]]).
        TextOps.bucketSelfJoin(winnowCapped(s, d), Seq("fp"), "doc_id")
          .groupBy(col("a_doc_id").as("doc_a"), col("b_doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
    },

    Q("dedup_delta",
      s"""$WinnowIndexCtes
         |SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM f n JOIN f o ON n.fp = o.fp
         |WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) {
      (s, d) =>
        // Incremental-ingest dedup — the daily-batch shape of
        // dedup_winnow: today's arrivals (the deterministic 10% shard
        // doc_id % 10 = 7) are checked against the EXISTING corpus index
        // only, never against each other (within-batch dups are the
        // separate, much smaller dedup_winnow pass). Reads the SAME
        // per-(dir, params) cached capped fingerprint index as
        // dedup_winnow — at 100 TB that index is the bucketed-by-fp
        // table a daily job appends to, and the delta join probes it
        // with batch-sized fan-in (here the 10% fixture shard) instead
        // of corpus × corpus.
        val capped = winnowCapped(s, d)
        val newFps = capped.filter(col("doc_id") % 10 === 7)
          .select(col("doc_id").as("new_id"), col("fp"))
        val oldFps = capped.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id").as("old_id"), col("fp"))
        newFps.join(oldFps, Seq("fp"))
          .groupBy("new_id", "old_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
    },

    // Bloom-certified novelty (r8g) — dedup_delta's map-side short
    // circuit: a Bloom filter folded over the HISTORICAL index's
    // fingerprints broadcasts (~KBs) to the new batch, and arrivals with
    // ZERO bloom hits are certified novel WITHOUT touching the index at
    // all. Bloom has no false negatives, so the prefilter never drops a
    // true duplicate candidate; false positives survive to the exact fp
    // join, which kills them — output identical to the plain exact probe
    // (the oracle embeds the same WinnowIndexCtes and computes it
    // naively). 100 TB why: in steady state most of a daily batch is
    // novel, so this turns "every arrival probes a corpus-scale bucketed
    // index" into "a broadcast bitmap filters map-side and only the
    // suspected few shuffle" — the join_bloom_prefilter pattern pointed
    // at the dedup index. Per new doc: how many old docs it near-dups
    // (≥2 shared fingerprints), and the is_novel verdict.
    Q("dedup_delta_bloom",
      s"""$WinnowIndexCtes,
         |m AS (
         |  SELECT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM f n JOIN f o ON n.fp = o.fp
         |  WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |c AS (SELECT new_id, count(*) AS n_old_dups FROM m GROUP BY 1)
         |SELECT d.doc_id AS new_id,
         |       CAST(coalesce(c.n_old_dups, 0) AS BIGINT) AS n_old_dups,
         |       coalesce(c.n_old_dups, 0) = 0 AS is_novel
         |FROM documents d LEFT JOIN c ON c.new_id = d.doc_id
         |WHERE d.doc_id % 10 = 7""".stripMargin) { (s, d) =>
      val capped = winnowCapped(s, d)
      val oldFps = capped.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id").as("old_id"), col("fp"))
      // the broadcast bitmap: one bloom over every historical fingerprint
      val bloom = oldFps.agg(
        graft.functions.BloomFilter.agg(xxhash64(col("fp"))).as("bf"))
      val suspected = capped.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id").as("new_id"), col("fp"))
        .crossJoin(broadcast(bloom))
        .filter(graft.functions.BloomFilter
          .mightContain(col("bf"), xxhash64(col("fp"))))
        .select("new_id", "fp")
      val perNew = suspected.join(oldFps, Seq("fp"))
        .groupBy("new_id", "old_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .groupBy("new_id")
        .agg(count(lit(1)).as("n_old_dups"))
      Tables.cachedTable(s, d, "documents")
        .filter(col("doc_id") % 10 === 7)
        .select(col("doc_id").as("new_id"))
        .join(perNew, Seq("new_id"), "left")
        .select(col("new_id"),
          coalesce(col("n_old_dups"), lit(0L)).as("n_old_dups"),
          (coalesce(col("n_old_dups"), lit(0L)) === 0).as("is_novel"))
    },

    Q("dedup_embed_ivf",
      KMeansSql.codebookCtes() +
      s""",
        |assign AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()}
        |           WHERE rn <= ${KMeansSql.nProbeDedupSql}),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id)
        |SELECT c.vec_a, c.vec_b, round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
        |WHERE list_cosine_similarity(a.v, b.v) >= ${KMeansSql.DedupTau}""".stripMargin) {
      (s, d) =>
        // The 100 TB embed-dedup path: block on the deterministic
        // spherical k-means codebook (r5 — replaces the 10-given-label
        // placeholder whose recall capped at 56%; measured: 1.00 at
        // sf0.01, 0.91 at sf0.1 vs the all-pairs truth at tau=0.4). The
        // oracle replays the identical Lloyd iterations in SQL; this
        // query IS the cached shared pair list (KMeansSql.dedupPairs)
        // that dedup_semantic consumes.
        KMeansSql.dedupPairs(s, d)
    },

    // IVF tuning curve (r8): how many true near-dup pairs each extra probe
    // buys — the measurement behind the sqrt(n) nprobe rule (r8's recall
    // fix) and the knob a 100 TB operator reads before spending candidate
    // budget. Per verified pair, depth = the smallest probe count at which
    // the pair's cells collide (min over shared cells of max(rn_a, rn_b));
    // output is pairs-found per depth + the cumulative curve. Costs one
    // extra rn-keeping pass over the SAME shared assignment the dedup
    // family probes; the exact verify is the losslessness contract.
    Q("embed_nprobe_sweep",
      KMeansSql.codebookCtes() +
      s""",
        |a AS (SELECT vec_id, cell, rn FROM ${KMeansSql.scoredCte()}
        |      WHERE rn <= ${KMeansSql.nProbeDedupSql}),
        |pd AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
        |              min(greatest(x.rn, y.rn)) AS depth
        |       FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |       GROUP BY 1, 2),
        |vf AS (SELECT pd.depth FROM pd
        |       JOIN e ea ON ea.vec_id = pd.vec_a
        |       JOIN e eb ON eb.vec_id = pd.vec_b
        |       WHERE list_cosine_similarity(ea.v, eb.v) >= ${KMeansSql.DedupTau}),
        |ct AS (SELECT depth, CAST(count(*) AS BIGINT) AS n_new FROM vf GROUP BY 1)
        |SELECT CAST(depth AS BIGINT) AS nprobe, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY depth ROWS UNBOUNDED PRECEDING)
        |            AS BIGINT) AS n_cum
        |FROM ct""".stripMargin) { (s, d) =>
      val emb = Tables.cachedTable(s, d, "embeddings")
      val np = KMeansSql.nProbeDedup(emb.count())
      val a = KMeansSql.assignments(s, d).filter(col("rn") <= np)
        .select(col("vec_id"), col("cell"), col("rn"))
      val pd = TextOps.bucketSelfJoin(a, Seq("cell"), "vec_id")
        .groupBy(col("a_vec_id").as("vec_a"), col("b_vec_id").as("vec_b"))
        .agg(min(greatest(col("a_rn"), col("b_rn"))).as("depth"))
      val e = emb.select(col("vec_id"), col("embedding"))
      val vf = pd
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("va")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("vb")), "vec_b")
        .filter(VectorOps.cosineF(col("va"), col("vb")) >= KMeansSql.DedupTau)
        .select("depth")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("depth").rowsBetween(Long.MinValue, 0)
      vf.groupBy("depth").agg(count(lit(1)).as("n_new"))
        .select(col("depth").cast("long").as("nprobe"), col("n_new"),
          sum(col("n_new")).over(w).cast("long").as("n_cum"))
    },

    Q("dedup_semantic",
      KMeansSql.codebookCtes() +
      s""",
        |assign AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()}
        |           WHERE rn <= ${KMeansSql.nProbeDedupSql}),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id),
        |p AS (
        |  SELECT c.vec_a, c.vec_b
        |  FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
        |  WHERE list_cosine_similarity(a.v, b.v) >= ${KMeansSql.DedupTau})
        |SELECT vec_b AS vec_id, min(vec_a) AS dup_of FROM p GROUP BY 1""".stripMargin) {
      (s, d) =>
        // SemDeDup (Abbas et al. 2023) keep/drop materialization: a vector
        // is dropped iff a LOWER-id vector sits within cosine tau in its
        // IVF neighborhood; dup_of names its lowest-id such neighbor (the
        // kept representative — min-id is the house deterministic
        // canonical choice, cf. dedupExact). Consumes the ONE cached pair
        // list dedup_embed_ivf builds (KMeansSql.dedupPairs), so its
        // incremental cost is one (vec_b) partial-agg shuffle of id
        // pairs. At 100 TB the drop-list (ids only) is anti-joined
        // against the corpus — full vectors never reship.
        KMeansSql.dedupPairs(s, d)
          .groupBy(col("vec_b").as("vec_id"))
          .agg(min(col("vec_a")).as("dup_of"))
    },

    Q("dedup_delta_embed",
      KMeansSql.codebookCtes() +
      s""",
        |probe AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()}
        |          WHERE rn <= ${KMeansSql.nProbeDedupSql} AND vec_id % 10 = 7),
        |home AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()}
        |         WHERE rn = 1 AND vec_id % 10 <> 7)
        |SELECT p.vec_id AS new_id, h.vec_id AS old_id,
        |       round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |FROM probe p JOIN home h USING (cell)
        |JOIN e a ON a.vec_id = p.vec_id JOIN e b ON b.vec_id = h.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= ${KMeansSql.DedupTau}""".stripMargin) {
      (s, d) =>
        // Incremental-ingest embedding dedup (SemDeDup's daily shape):
        // today's shard probes the SHARED stored IVF index — see
        // KMeansSql.deltaPairs for the batch-broadcast / zero-index-
        // shuffle plan; within-batch dups are the separate (much
        // smaller) dedup_embed_ivf pass over the batch alone.
        KMeansSql.deltaPairs(s, d)
    },

    Q("embed_cluster_purity",
      KMeansSql.codebookCtes() +
      s""",
        |home AS (SELECT vec_id, cell FROM ${KMeansSql.scoredCte()} WHERE rn = 1),
        |jl AS (SELECT h.cell, emb.label FROM home h
        |       JOIN embeddings emb USING (vec_id)),
        |cl AS (SELECT cell, label, count(*) AS c FROM jl GROUP BY 1, 2),
        |r AS (SELECT cell, label, c,
        |             row_number() OVER (PARTITION BY cell
        |               ORDER BY c DESC, label) AS rn2,
        |             sum(c) OVER (PARTITION BY cell) AS n FROM cl)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(n AS BIGINT) AS n_vecs,
        |       CAST(label AS BIGINT) AS majority_label,
        |       CAST(c * 1000000 // n AS BIGINT) AS purity_ppm
        |FROM r WHERE rn2 = 1""".stripMargin) { (s, d) =>
      // Cluster-quality QA over the SHARED IVF assignment (zero extra
      // geometry): per k-means cell, size + majority label + purity —
      // the report that tells you whether the quantizer's cells align
      // with semantics (high purity ⇒ IVF probes stay label-coherent ⇒
      // dedup_embed_ivf recall holds; low purity flags a stale codebook).
      // Majority via one (cnt, -label) struct-max — deterministic ties,
      // no per-cell window. Cells-sized output; at 100 TB this is the
      // daily index-health dashboard, cost = one ids-only join + two aggs.
      val home = KMeansSql.assignments(s, d).filter(col("rn") === 1)
        .select(col("vec_id"), col("cell"))
      val lab = Tables.cachedTable(s, d, "embeddings").select(col("vec_id"), col("label"))
      home.join(lab, "vec_id")
        .groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(sum(col("c")).cast("long").as("n_vecs"),
          max(struct(col("c").as("c"), (lit(0L) - col("label")).as("nl"))).as("mx"))
        .select(col("cell"), col("n_vecs"),
          (lit(0L) - col("mx.nl")).cast("long").as("majority_label"),
          expr("mx.c * 1000000L div n_vecs").cast("long").as("purity_ppm"))
    },

    Q("dedup_embed_cosine",
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |       round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin) {
      (s, d) =>
        // Embedding-space near-dup: same blocked kernel as
        // sim_join_threshold at a dedup-grade threshold. Cached at the
        // SWEEP floor τ=0.4 and shared with dedup_threshold_sweep (the
        // pair-list-sharing convention, cf. KMeansSql.dedupPairs).
        cosinePairs(s, d)
    },

    Q("dedup_threshold_sweep",
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.label, round(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
        |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
        |SELECT label, tau_pct, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p CROSS JOIN (SELECT unnest([40, 60, 80, 90]) AS tau_pct) t
        |WHERE cos_sim >= tau_pct / 100.0
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      // Dedup-threshold tuning table (r7w15): cumulative near-dup pair
      // counts per (label, τ) over a τ grid — the artifact that decides
      // where to set the semantic-dedup knife before committing to a
      // corpus-wide drop. One blocked-cosine pair build at the grid FLOOR
      // (shared cache with dedup_embed_cosine), then a pairs×4 banded agg
      // — the expensive geometry runs once regardless of grid size; the
      // comparison uses the ROUNDED similarity so both engines band
      // identically. At 100 TB the pair list is the persisted artifact
      // and each re-tune is a metadata-scale agg.
      import s.implicits._
      val taus = Seq(40, 60, 80, 90).toDF("tau_pct")
      cosinePairs(s, d)
        .crossJoin(broadcast(taus))
        .filter(col("cos_sim") >= col("tau_pct") / 100.0)
        .groupBy(col("label"), col("tau_pct"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
    },

    Q("dedup_lines",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |ln AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(toks[i*3+1 : i*3+3], ' ') AS line
        |  FROM t, LATERAL unnest(range((len(toks)+2)//3)) AS u(i)),
        |g AS (SELECT line, count(*) AS cnt,
        |             min(doc_id*1000000 + pos) AS keeper
        |      FROM ln GROUP BY 1),
        |k AS (SELECT l.doc_id, l.pos, l.line,
        |        CASE WHEN g.cnt = 1 OR l.doc_id*1000000 + l.pos = g.keeper
        |             THEN 1 ELSE 0 END AS keep
        |      FROM ln l JOIN g USING (line))
        |SELECT doc_id, count(*) AS n_lines,
        |       CAST(sum(keep) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN keep = 1 THEN line END,
        |                           ' ' ORDER BY pos), '') AS clean_text
        |FROM k GROUP BY doc_id""".stripMargin) {
      (s, d) =>
        // Line-level corpus dedup (C4 span rule, see TextOps.dedupLines):
        // zero-kept docs get '' in both engines (DuckDB's NULL string_agg
        // coalesced to match Spark's empty array_join).
        TextOps.dedupLines(Tables.cachedTable(s, d, "documents"))
    },

    // CORPUS-GLOBAL REPEATED-SUBSTRING CENSUS (ExactSubstr, Lee et al.
    // 2022 "Deduplicating Training Data Makes Language Models Better"):
    // a positional 5-token shingle is "duplicated" when ANY OTHER doc
    // contains the same shingle; each doc reports its total shingle
    // positions, duplicated positions, and the exact-ppm duplicated
    // fraction — the signal ExactSubstr cuts spans on (their suffix
    // array finds byte-level matches; the token-shingle grid is the
    // Spark-shaped equivalent: one groupBy instead of a global suffix
    // sort). Distinct from text_boilerplate (per-SOURCE frequent spans)
    // and dedup_lines (fixed line grid, keep-one): this is cross-corpus,
    // position-dense, and reports fractions rather than rewriting.
    // Scale shape: two map-side-combinable aggs + one shingle-keyed
    // join — (doc, shingle) partial counts collapse multiplicity before
    // anything shuffles, the doc-frequency cut is vocabulary-sized, and
    // nothing is quadratic. At 100 TB the shingle grouping key would be
    // xxhash64(shingle) (8 bytes on the wire instead of ~40 — the
    // diff_two_phase trade); the string key here keeps the gate
    // collision-free by construction.
    Q("dedup_substring",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(t) - 4),
        |               i -> array_to_string(t[i:i+4], ' '))) AS s
        |      FROM t WHERE len(t) >= 5),
        |ds AS (SELECT doc_id, s, count(*) AS np FROM g GROUP BY 1, 2),
        |freq AS (SELECT s, count(*) AS nd FROM ds GROUP BY 1)
        |SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_pos,
        |       CAST(sum(CASE WHEN nd >= 2 THEN np ELSE 0 END) AS BIGINT)
        |         AS n_dup_pos,
        |       CAST(sum(CASE WHEN nd >= 2 THEN np ELSE 0 END) * 1000000
        |              // sum(np) AS BIGINT) AS dup_ppm
        |FROM ds JOIN freq USING (s) GROUP BY 1""".stripMargin) { (s, d) =>
      val g = Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"),
          explode(expr("transform(sequence(1, size(toks) - 4), " +
            "i -> concat_ws(' ', slice(toks, i, 5)))")).as("s"))
      val ds = g.groupBy("doc_id", "s").agg(count(lit(1)).as("np"))
      val freq = ds.groupBy("s").agg(count(lit(1)).as("nd"))
      ds.join(freq, "s")
        .groupBy("doc_id")
        .agg(sum("np").cast("long").as("n_pos"),
          sum(when(col("nd") >= 2, col("np")).otherwise(0L)).cast("long")
            .as("n_dup_pos"))
        .select(col("doc_id"), col("n_pos"), col("n_dup_pos"),
          expr("n_dup_pos * 1000000 div n_pos").as("dup_ppm"))
    },

    // Oracle is the naive in-block all-pairs containment (same discipline
    // as dedup_near: the prefix×postings candidate generation is provably
    // lossless, so matching the naive formulation IS the losslessness
    // check). Trigram shingles, not word sets: on this vocabulary-poor
    // fixture every long doc contains most of the 60-word vocabulary, so
    // word-set containment is degenerate (~all pairs); 3-token shingles
    // make containment mean "shares actual passages" (6 pairs at sf0.01,
    // 79 at sf0.1, calibrated).
    Q("dedup_containment",
      """WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id, lang,
        |        list_sort(list_distinct(CASE WHEN len(t) < 3 THEN []
        |          ELSE list_transform(generate_series(1, len(t) - 2),
        |                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS s
        |      FROM t),
        |m AS (SELECT doc_id, lang, s, len(s) AS n FROM g WHERE len(s) > 0),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
        |        least(a.n, b.n) AS mn
        |      FROM m a JOIN m b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / mn AS containment
        |FROM p WHERE CAST(inter AS DOUBLE) / mn >= 0.5""".stripMargin) {
      (s, d) =>
        // Quote/subset detection: a short doc fully embedded in a long one
        // scores high containment but low Jaccard (union dominated by the
        // long side), so this is the contamination-adjacent dedup flavor
        // the Jaccard family misses. See TextOps.containmentPairs for the
        // prefix×postings candidate path and its losslessness argument.
        // Cached + shared with dedup_method_venn (the pair-list-sharing
        // convention).
        containPairs(s, d)
    },

    Q("dedup_method_venn",
      s"""WITH dt AS (SELECT doc_id, lang, lower(trim(text)) AS lt,
         |                   list_distinct(string_split(lower(text), ' ')) AS ws,
         |                   string_split(lower(text), ' ') AS t
         |            FROM documents),
         |ex AS (SELECT doc_id FROM (
         |         SELECT doc_id, count(*) OVER (PARTITION BY sha256(lt)) AS nc FROM dt)
         |       WHERE nc > 1),
         |jp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM dt a JOIN dt b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |       WHERE len(list_distinct(list_concat(a.ws, b.ws))) > 0
         |         AND CAST(len(list_filter(a.ws, x -> list_contains(b.ws, x))) AS DOUBLE)
         |             / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
         |jd AS (SELECT doc_a AS doc_id FROM jp UNION SELECT doc_b FROM jp),
         |g AS (SELECT doc_id, lang,
         |        list_sort(list_distinct(CASE WHEN len(t) < 3 THEN []
         |          ELSE list_transform(generate_series(1, len(t) - 2),
         |                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS s
         |      FROM dt),
         |m AS (SELECT doc_id, lang, s, len(s) AS n FROM g WHERE len(s) > 0),
         |cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM m a JOIN m b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |       WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
         |             / least(a.n, b.n) >= 0.5),
         |cd AS (SELECT doc_a AS doc_id FROM cp UNION SELECT doc_b FROM cp),
         |sets AS (SELECT DISTINCT 'exact' AS method, doc_id FROM ex
         |         UNION SELECT 'jaccard', doc_id FROM jd
         |         UNION SELECT 'containment', doc_id FROM cd),
         |tot AS (SELECT method, CAST(count(*) AS BIGINT) AS n FROM sets GROUP BY 1)
         |SELECT a.method AS method_a, b.method AS method_b,
         |       ta.n AS n_a, tb.n AS n_b, CAST(count(*) AS BIGINT) AS n_both
         |FROM sets a JOIN sets b USING (doc_id)
         |JOIN tot ta ON ta.method = a.method
         |JOIN tot tb ON tb.method = b.method
         |GROUP BY 1, 2, ta.n, tb.n""".stripMargin) { (s, d) =>
      // Dedup-method Venn (r7w21) — the capstone QA across the family:
      // which docs does each method flag, and how much do the methods
      // agree? Exact (hash groups >1), Jaccard ≥0.9, trigram containment
      // ≥0.5 — the EXACT formulations only (the banded approximations are
      // lossless replays of these, so including them would be tautology).
      // All three flag sets ride already-cached builds (hash window;
      // sharedNearDupPairs; containPairs) → incremental cost is three
      // ids-only projections + one doc_id self-join of the tagged set.
      // At 100 TB the flag sets ARE the persisted dedup verdicts and the
      // matrix is a metadata-scale report.
      val docs = Tables.cachedTable(s, d, "documents")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      val ex = docs.select(col("doc_id"), TextOps.normHash(col("text")).as("h"))
        .withColumn("nc", count(lit(1)).over(w))
        .filter(col("nc") > 1).select(col("doc_id"))
      def pairIds(p: org.apache.spark.sql.DataFrame) =
        p.select(col("doc_a").as("doc_id"))
          .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
      val jd = pairIds(PipelineQueries.sharedNearDupPairs(s, d))
      val cd = pairIds(containPairs(s, d))
      // ONE lazy checkpoint: the tagged set feeds both self-join sides AND
      // the totals — uncut, the hash-window subtree evaluates three times
      // (measured 2.8s → 0.9s at sf0.1)
      val sets = ex.select(lit("exact").as("method"), col("doc_id"))
        .unionByName(jd.select(lit("jaccard").as("method"), col("doc_id")))
        .unionByName(cd.select(lit("containment").as("method"), col("doc_id")))
        .distinct()
        .localCheckpoint(false)
      val tot = sets.groupBy(col("method")).agg(count(lit(1)).cast("long").as("n"))
      sets.alias("a").join(sets.alias("b"), "doc_id")
        .groupBy(col("a.method").as("method_a"), col("b.method").as("method_b"))
        .agg(count(lit(1)).cast("long").as("n_both"))
        .join(tot.select(col("method").as("method_a"), col("n").as("n_a")), "method_a")
        .join(tot.select(col("method").as("method_b"), col("n").as("n_b")), "method_b")
        .select(col("method_a"), col("method_b"), col("n_a"), col("n_b"), col("n_both"))
    },

    // Entity-resolution dedup: ed<=2 Levenshtein pairs over customer names
    // (the record-linkage flavor — typo'd near-identical NAMES, not
    // near-identical documents), nation-scoped. r8 rewrite of the
    // candidate space: the old form self-joined whole nation blocks
    // (block² pairs — 4.5M bounded-DP probes at sf0.1, and the one plan
    // the r7 verdict called weak-for-scale since blocks grow linearly
    // with the corpus). Candidates now come from the LOSSLESS SymSpell
    // delete-neighborhood filter ([[TextOps.editDeleteCandidates]]):
    // every ed<=2 pair must share a delete-<=2 variant, and variant keys
    // always retain the distinctive characters, so blocks are keyed on
    // near-unique 64-bit variant hashes instead of nation — corpus
    // growth widens the variant vocabulary, not the blocks (a gram-
    // prefix filter provably degenerates on shared-affix names; see the
    // operator's scaladoc). The bounded DP
    // (affix-trimming banded kernel, O(len·k)) then verifies only the
    // survivors, and the census equals the naive block² oracle exactly
    // because the filter is complete, not heuristic. Output is the
    // per-(nation, distance) pair census — block-sized, not pair-sized.
    Q("dedup_edit",
      """SELECT a.c_nationkey, CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist,
        |       count(*) AS n_pairs
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        val c = Tables.cachedTable(s, d, "customer")
          .select("c_custkey", "c_name", "c_nationkey")
        val cand = TextOps.editDeleteCandidates(c, k = 2,
          idCol = "c_custkey", nameCol = "c_name",
          blockCols = Seq("c_nationkey"))
        // Fetch names only for surviving pairs (ids ride the pair join).
        cand
          .join(c.select(col("c_custkey").as("a_id"),
            col("c_name").as("a_name"), col("c_nationkey")), "a_id")
          .join(c.select(col("c_custkey").as("b_id"),
            col("c_name").as("b_name")), "b_id")
          .withColumn("dist",
            TextOps.boundedLevenshtein(col("a_name"), col("b_name"), 2))
          .filter(col("dist") >= 0)
          .groupBy("c_nationkey", "dist")
          .agg(count(lit(1)).as("n_pairs"))
    },

    // URL-canonicalization dedup (r8b) — the step a crawl pipeline runs
    // BEFORE any content dedup: the same page arrives as
    // HTTPS://Host:443/p/1/?utm_source=x#frag and https://host/p/1, and
    // canonicalizing (lowercase host, drop the default port, strip the
    // fragment, drop utm_* tracking params, trim the trailing slash)
    // collapses them without reading a byte of content. URLs here are
    // messy closed-form constructions over customer keys; Spark REALLY
    // parses them (parse_url HOST/PATH/QUERY — the port and fragment
    // vanish because HOST and FILE-less rebuild exclude them), while the
    // oracle rebuilds the canonical form arithmetically — so a parse,
    // case, port, or param-filter bug flips the hash. Exact-URL groups
    // then dedup with the usual keep = min id rule.
    Q("dedup_url_normalize",
      """WITH u AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |         'https://www.site' || CAST(c_custkey % 50 AS VARCHAR) ||
        |           '.example.com/p/' || CAST(c_custkey % 100 AS VARCHAR) ||
        |           CASE WHEN c_custkey % 5 <= 1
        |                THEN '?ref=' || CAST(c_custkey % 7 AS VARCHAR)
        |                ELSE '' END AS normalized
        |  FROM customer)
        |SELECT id, normalized,
        |       min(id) OVER (PARTITION BY normalized) AS keep_id,
        |       CAST(count(*) OVER (PARTITION BY normalized) AS BIGINT) AS group_n
        |FROM u""".stripMargin) { (s, d) =>
      // 100 TB shape: normalization is row-local string arithmetic (all
      // codegen'd builtins, no UDF); only the canonical-URL key shuffles
      // for the group — the census that decides which of a trillion crawl
      // records even enter content dedup.
      val messy = Tables.cachedTable(s, d, "customer")
        .select(col("c_custkey").cast("long").as("id"))
        .withColumn("url", concat(
          lit("https://"),
          when(col("id") % 2 === 0, lit("WWW.Site")).otherwise(lit("www.site")),
          (col("id") % 50).cast("string"),
          when(col("id") % 3 === 0, lit(".Example.COM")).otherwise(lit(".example.com")),
          when(col("id") % 3 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), (col("id") % 100).cast("string"),
          when(col("id") % 4 === 0, lit("/")).otherwise(lit("")),
          when(col("id") % 5 === 0,
            concat(lit("?utm_source=feed&ref="), (col("id") % 7).cast("string")))
            .when(col("id") % 5 === 1,
              concat(lit("?ref="), (col("id") % 7).cast("string")))
            .otherwise(lit("")),
          when(col("id") % 6 === 0, lit("#frag")).otherwise(lit(""))))
      val parsed = messy
        .withColumn("host", lower(expr("parse_url(url, 'HOST')")))
        .withColumn("path",
          expr("CASE WHEN parse_url(url, 'PATH') LIKE '%/' " +
            "THEN substring(parse_url(url, 'PATH'), 1, " +
            "length(parse_url(url, 'PATH')) - 1) " +
            "ELSE parse_url(url, 'PATH') END"))
        .withColumn("params",
          expr("array_join(array_sort(filter(" +
            "split(coalesce(parse_url(url, 'QUERY'), ''), '&'), " +
            "p -> p != '' AND p NOT LIKE 'utm\\\\_%')), '&')"))
        .withColumn("normalized", concat(lit("https://"), col("host"), col("path"),
          when(col("params") =!= "", concat(lit("?"), col("params")))
            .otherwise(lit(""))))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("normalized")
      parsed.select(col("id"), col("normalized"))
        .withColumn("keep_id", min(col("id")).over(w))
        .withColumn("group_n", count(lit(1)).over(w))
    }
  )
}
