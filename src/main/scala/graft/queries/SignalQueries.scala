package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Corpus/behavior signal extraction: token-distribution entropy,
  * collocation mining (PMI), rank-frequency fits, feature hashing, event
  * transition matrices and time-series windows — the profiling signals a
  * training-data pipeline computes alongside its quality gates. The text
  * keys read the shared cached token counts and bigram occurrences
  * ([[TextAnalysisQueries.tfidfTf]], [[TextAnalysisQueries.bigramOcc]]),
  * the event keys [[graft.Tables.events]], so each key's marginal cost is
  * group-sized aggs. Capability surface per SURVEY.md §2.C.
  */
object SignalQueries {

  def all: Seq[Q] = Seq(

    // -- text_entropy ------------------------------------------------------
    // Unigram token entropy per document — the template/gibberish detector:
    // near-zero entropy = one token repeated (boilerplate); the gate keeps
    // docs above a floor that scales with length (a 3-token doc can't reach
    // ln(8)). Exactness ladder (house discipline, cf. quality_perplexity):
    // each term's probability c/n is ONE IEEE division of exact bigints;
    // ln() is quantized per ROW to DECIMAL(18,6); c·lnq is decimal×bigint
    // (exact); the per-doc sum is an exact decimal sum; entropy is ONE
    // division of that sum's exact double cast by n. Both engines run the
    // identical ladder, so the doubles are bit-equal.
    Q("text_entropy",
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |             CAST(count(*) AS BIGINT) AS n_distinct
        |      FROM tf GROUP BY 1),
        |h AS (SELECT tf.doc_id,
        |        CAST(c * CAST(ln(c * 1.0 / n_tokens) AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS term
        |      FROM tf JOIN n USING (doc_id))
        |SELECT n.doc_id, n.n_tokens, n.n_distinct,
        |       -(CAST(sum(term) AS DOUBLE) / n.n_tokens) AS entropy,
        |       CAST(CASE WHEN -(CAST(sum(term) AS DOUBLE) / n.n_tokens) >= 2.0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM h JOIN n USING (doc_id)
        |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      // 100 TB shape: the (doc_id, tok) frame IS the shared tfidfTf cache
      // (one corpus explode + partial agg, shared with text_idf/text_bm25);
      // everything after is doc-keyed — one doc-sized agg + one join, no
      // second corpus pass.
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      val n = tf.groupBy("doc_id").agg(
        sum("tf").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"))
      val h = tf.join(n, "doc_id")
        .withColumn("term",
          (col("tf") * log(col("tf") * lit(1.0) / col("n_tokens"))
            .cast("decimal(18,6)")).cast("decimal(38,6)"))
      val ent = -(sum(col("term")).cast("double") / col("n_tokens"))
      h.groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(ent.as("entropy"))
        .withColumn("keep",
          when(col("entropy") >= 2.0, 1L).otherwise(0L))
    },

    // -- text_pmi ----------------------------------------------------------
    // Collocation mining: pointwise mutual information over adjacent token
    // pairs — the phrase detector (word2vec/fastText preprocessing). PMI =
    // ln(p(ab)/(p(a)p(b))) with unigram probabilities over token
    // occurrences and the pair probability over bigram occurrences. The
    // argument is built as a product of three exact-input IEEE divisions —
    // (n_ab/n_a)·(n_tok/n_b)·(n_tok/n_big) — identical association order in
    // both engines, no bigint product ever exceeds 2^53; ln() quantized to
    // DECIMAL(18,6) per row (house rule), then cast DOUBLE for the output.
    // Deterministic top-100 by (pmi DESC, bg) with a min-support gate.
    Q("text_pmi",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |u AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS n_w FROM u GROUP BY 1),
        |nt AS (SELECT count(*) AS n_tok FROM u),
        |occ AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                  i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |  FROM t),
        |bc AS (SELECT bg, count(*) AS n_ab FROM occ GROUP BY 1),
        |nb AS (SELECT count(*) AS n_big FROM occ)
        |SELECT bg, n_ab, a.n_w AS n_a, b.n_w AS n_b,
        |       CAST(CAST(ln((n_ab * 1.0 / a.n_w) * (n_tok * 1.0 / b.n_w)
        |                    * (n_tok * 1.0 / n_big)) AS DECIMAL(18,6)) AS DOUBLE) AS pmi
        |FROM bc
        |JOIN uc a ON a.tok = split_part(bg, ' ', 1)
        |JOIN uc b ON b.tok = split_part(bg, ' ', 2)
        |CROSS JOIN nt CROSS JOIN nb
        |WHERE n_ab >= 5
        |ORDER BY pmi DESC, bg LIMIT 100""".stripMargin) { (s, d) =>
      // 100 TB shape: unigram counts derive from the SAME cached tfidfTf
      // partial agg (map-side combinable, vocab-sized result); bigram
      // counts from the SAME cached bigramOcc explode shared with
      // text_ngram_lm/quality_perplexity — no new corpus pass. The two
      // scalar totals broadcast; the two unigram fetch joins are
      // vocab-sized (broadcast at scale); top-k is TakeOrderedAndProject
      // (per-partition top-k + merge), never a global sort.
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      val uc = tf.groupBy("tok").agg(sum("tf").as("n_w"))
      val nt = tf.agg(sum("tf").as("n_tok"))
      val occ = TextAnalysisQueries.bigramOcc(s, d)
      val bc = occ.groupBy("bg").agg(count(lit(1)).as("n_ab"))
      val nb = occ.agg(count(lit(1)).as("n_big"))
      bc.filter(col("n_ab") >= 5)
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
        .join(uc.select(col("tok").as("w1"), col("n_w").as("n_a")), "w1")
        .join(uc.select(col("tok").as("w2"), col("n_w").as("n_b")), "w2")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
        .withColumn("pmi",
          log((col("n_ab") * lit(1.0) / col("n_a"))
            * (col("n_tok") * lit(1.0) / col("n_b"))
            * (col("n_tok") * lit(1.0) / col("n_big")))
            .cast("decimal(18,6)").cast("double"))
        .select("bg", "n_ab", "n_a", "n_b", "pmi")
        .orderBy(col("pmi").desc, col("bg"))
        .limit(100)
    },

    // -- sample_weighted ---------------------------------------------------
    // Efraimidis–Spirakis weighted sampling without replacement (2006):
    // rank every doc by ln(u)/w with u a uniform hash draw and w the doc's
    // weight (chars here; quality score or DSIR importance in production) —
    // the top-k under that key IS an exact weighted sample, computable as
    // a pure projection + top-k with no sequential reservoir. The sampling
    // identity u^(1/w) is rank-equivalent to ln(u)/w, which needs no pow().
    // Determinism: u = (h + 0.5)/2^32 from the sha256 id hash (same
    // engine-portable draw as split_assign — never rand()); ln quantized
    // per row to DECIMAL(18,6); key = lnq/w ONE exact-input IEEE division.
    Q("sample_weighted",
      """WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang, n_chars,
        |         CAST(CAST(ln((hv + 0.5) / 4294967296.0) AS DECIMAL(18,6)) AS DOUBLE)
        |           / n_chars AS skey
        |  FROM h)
        |SELECT doc_id, lang, n_chars, skey
        |FROM k ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      // 100 TB shape: zero joins, zero shuffles — one projection over the
      // corpus scan and a TakeOrderedAndProject top-k (per-partition heads
      // + driver merge of 100-row heaps). Per-group variants reuse the
      // two-phase topKPerGroup form.
      Tables.cachedTable(s, d, "documents")
        .withColumn("hv", expr(
          "CAST(conv(substr(sha2(CAST(doc_id AS STRING), 256), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("skey",
          log((col("hv") + lit(0.5)) / lit(4294967296.0))
            .cast("decimal(18,6)").cast("double") / col("n_chars"))
        .select("doc_id", "lang", "n_chars", "skey")
        .orderBy(col("skey").desc, col("doc_id")).limit(100)
    },

    // -- sample_reservoir --------------------------------------------------
    // Distributed PER-GROUP reservoir sampling (uniform k per stratum) as
    // min-k-by-hash: ranking rows by a uniform deterministic hash and
    // keeping the k smallest IS a uniform sample without replacement, and
    // unlike the textbook sequential reservoir it is mergeable — each
    // partition keeps its local k smallest, merging keeps the global k
    // smallest, which is exactly the two-phase topKPerGroup plan. The
    // properties that matter at 100 TB: deterministic (hash of the stable
    // id, never rand() — speculative execution and stage retries replay a
    // task and rand()-based sampling silently double-draws), mergeable
    // (no sequential scan), and per-group without a per-group window
    // funnel. Complements sample_weighted (global, weighted) and
    // sample_stratified (fraction-per-stratum): this is exact-k per
    // stratum — the eval-set carve-out shape.
    Q("sample_reservoir",
      """WITH h AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         ('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
        |           AS hv
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, hv,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY hv, o_orderkey) AS rank
        |  FROM h)
        |SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank, o_orderkey
        |FROM r WHERE rank <= 20""".stripMargin) { (s, d) =>
      val h = Tables.cachedTable(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"))
        .withColumn("hv", expr(
          "CAST(conv(substr(sha2(CAST(o_orderkey AS STRING), 256), 1, 8), 16, 10) AS BIGINT)"))
      graft.operators.TextOps.topKPerGroup(
        h, Seq("o_orderpriority"),
        Seq(col("hv").asc, col("o_orderkey").asc), k = 20,
        bucketOn = col("o_orderkey"))
        .select("o_orderpriority", "rank", "o_orderkey")
    },

    // -- bpe_train_pairs ---------------------------------------------------
    // The first iteration of BPE tokenizer training: count adjacent symbol
    // (character) pairs across the corpus, weighted by word frequency —
    // the top pair is the first merge rule. The classic scaling trick is
    // HERE, not in the counts: pairs are enumerated over the VOCAB
    // (distinct words × their occurrence count), so after the one shared
    // corpus tf pass the work is vocab-sized regardless of corpus size —
    // a 100 TB corpus with a 10M-word vocab does its pair counting on 10M
    // rows. Single-char words carry no pairs (explicit len ≥ 2 guard:
    // Spark's sequence(1, 0) DESCENDS where DuckDB's generate_series is
    // empty — the guard keeps both engines off that divergence).
    Q("bpe_train_pairs",
      """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |uc AS (SELECT tok, count(*) AS n_w FROM t GROUP BY 1),
        |pr AS (SELECT unnest(list_transform(generate_series(1, len(tok) - 1),
        |                i -> substr(tok, i, 2))) AS pair, n_w
        |       FROM uc WHERE len(tok) >= 2)
        |SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_pair
        |FROM pr GROUP BY 1
        |ORDER BY n_pair DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
      // Word counts derive from the SAME cached tfidfTf partial agg —
      // no new corpus pass; the pair explode inflates vocab×(len−1) rows
      // into one map-side-combinable agg; top-50 is TakeOrderedAndProject.
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      tf.groupBy("tok").agg(sum("tf").as("n_w"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))"))
          .as("pair"), col("n_w"))
        .groupBy("pair").agg(sum("n_w").cast("long").as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair"))
        .limit(50)
    },

    // -- text_feature_hash -------------------------------------------------
    // Feature hashing (Weinberger et al. 2009, the fastText featurizer):
    // hash every token into one of 16 signed buckets and sum — a fixed-
    // width dense representation with NO vocabulary table, the bridge from
    // the text family to the vector family (train a linear quality
    // classifier on these, then dedup/search with the vector ops).
    // Integer-exact end to end: the engine-portable sha256-prefix hash
    // (house rule, cf. split_assign — never xxhash64/hash(), which exist
    // in only one engine), bucket = h mod 16, sign from the next hash bit,
    // feature value = Σ sign·tf over the doc's tokens — all BIGINT.
    Q("text_feature_hash",
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |h AS (SELECT doc_id, tf,
        |             ('0x' || substr(sha256(tok), 1, 8))::BIGINT AS hv
        |      FROM tf)
        |SELECT doc_id, hv % 16 AS bucket,
        |       CAST(sum((1 - 2 * ((hv // 16) % 2)) * tf) AS BIGINT) AS fval
        |FROM h GROUP BY 1, 2""".stripMargin) { (s, d) =>
      // 100 TB shape: rides the SAME cached tfidfTf partial agg (no new
      // corpus pass); one hash + one (doc, bucket)-keyed map-side-
      // combinable agg — output is 16 rows per doc regardless of corpus
      // size. At cluster scale the hash runs on the vocab-sized DISTINCT
      // (doc, tok) frame, never the raw token stream.
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      tf.withColumn("hv",
          expr("CAST(conv(substr(sha2(tok, 256), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("bucket", col("hv") % 16)
        .withColumn("sgn", lit(1L) - lit(2L) * (expr("hv div 16") % 2))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn") * col("tf")).cast("long").as("fval"))
    },

    // -- quality_fasttext_score --------------------------------------------
    // Linear quality-classifier SCORING at corpus scale — the fastText
    // filter step of CCNet/LLaMA data curation: a model trained offline
    // (here a closed-form weight per hashed bucket, w(b) = b − 8, so the
    // oracle can recompute it) is applied as score = Σ_b w(b)·feature(b)
    // over text_feature_hash's 16 signed hashed-tf buckets; keep =
    // score ≥ 0. Integer-exact end to end — the score is a BIGINT dot
    // product, so the keep/drop frontier cannot drift between engines.
    Q("quality_fasttext_score",
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |h AS (SELECT doc_id, tf,
        |             ('0x' || substr(sha256(tok), 1, 8))::BIGINT AS hv
        |      FROM tf),
        |f AS (SELECT doc_id, hv % 16 AS bucket,
        |             sum((1 - 2 * ((hv // 16) % 2)) * tf) AS fval
        |      FROM h GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum((bucket - 8) * fval) AS BIGINT) AS score_raw,
        |       CAST(CASE WHEN sum((bucket - 8) * fval) >= 0 THEN 1 ELSE 0 END
        |            AS BIGINT) AS keep_flag
        |FROM f GROUP BY 1""".stripMargin) { (s, d) =>
      // 100 TB shape: same cached vocab-sized tf frame as
      // text_feature_hash (no new corpus pass); inference is a 16-rows-
      // per-doc weighted sum — model application costs one map-side-
      // combinable agg, which is why the fastText filter runs over
      // CommonCrawl at all. Real learned weights would arrive as a
      // 16-row broadcast instead of a closed form; nothing else changes.
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      tf.withColumn("hv",
          expr("CAST(conv(substr(sha2(tok, 256), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("bucket", col("hv") % 16)
        .withColumn("sgn", lit(1L) - lit(2L) * (expr("hv div 16") % 2))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn") * col("tf")).as("fval"))
        .groupBy("doc_id")
        .agg(sum((col("bucket") - 8) * col("fval")).cast("long").as("score_raw"))
        .select(col("doc_id"), col("score_raw"),
          when(col("score_raw") >= 0, 1L).otherwise(0L).as("keep_flag"))
    },

    // -- window_gaps_islands -----------------------------------------------
    // Gaps-and-islands: per-user consecutive-active-day streaks (the
    // engagement-streak / churn-gap report). The classic trick — island id
    // = day − row_number() over the user's distinct active days — turns
    // run detection into pure integer window arithmetic: consecutive days
    // share one (day − rn) value, any gap starts a new island. All-bigint
    // end to end (epoch-µs integer day buckets), so the hash gate is
    // trivially exact.
    Q("window_gaps_islands",
      """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |g AS (SELECT user_id, day,
        |             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
        |      FROM a),
        |st AS (SELECT user_id, isl, count(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id,
        |       CAST(sum(len) AS BIGINT) AS n_active_days,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS max_streak_days
        |FROM st GROUP BY 1""".stripMargin) { (s, d) =>
      // 100 TB shape: see CurateOps.streaks — ONE user-hash shuffle feeds
      // the distinct, the per-user window, and both aggs. The operator's
      // bucket-neutral column names are re-aliased to the day-grain names
      // this declared query promises.
      graft.operators.CurateOps.streaks(
        Tables.events(s, d), bucketUs = 86400000000L)
        .select(col("user_id"),
          col("n_active_buckets").as("n_active_days"),
          col("n_streaks"),
          col("max_streak").as("max_streak_days"))
    },

    // -- text_zipf ---------------------------------------------------------
    // Zipf's-law fit per language: OLS slope of ln(freq) on ln(rank) over
    // the top-100 tokens — the corpus-health signal (natural text slopes
    // ≈ −1; synthetic/template corpora flatten, boilerplate-heavy ones
    // steepen). Ranks are deterministic (freq DESC, token); both ln's are
    // per-row DECIMAL(18,6)-quantized, the OLS moments are exact decimal
    // sums of those quantized pairs, and the closed-form slope/intercept/r²
    // is one identical IEEE chain (the agg_corr discipline).
    Q("text_zipf",
      """WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |uc AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, c,
        |             row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk
        |      FROM uc),
        |x AS (SELECT lang,
        |             CAST(ln(rk) AS DECIMAL(18,6)) AS lx,
        |             CAST(ln(c) AS DECIMAL(18,6)) AS ly
        |      FROM r WHERE rk <= 100),
        |m AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
        |             CAST(sum(CAST(lx * ly AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |             CAST(sum(CAST(lx * lx AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |             CAST(sum(CAST(ly * ly AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |      FROM x GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n_ranks,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 5) AS zipf_slope,
        |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 5)
        |         AS intercept,
        |       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 5) AS r2
        |FROM m""".stripMargin) { (s, d) =>
      // 100 TB shape: rank-frequency derives from the SAME cached tfidfTf
      // partial agg summed up to (lang, tok) — no new corpus pass; the
      // per-lang ranking runs the two-phase topKPerGroup (a lang-only
      // window would sort each language's whole vocabulary in one task);
      // the OLS is a lang-sized agg over ≤100 rows per language.
      val docs = Tables.cachedTable(s, d, "documents")
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      val uc = tf.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok").agg(sum("tf").as("c"))
      val ranked = graft.operators.TextOps.topKPerGroup(
        uc, Seq("lang"), Seq(col("c").desc, col("tok")), k = 100,
        bucketOn = col("tok"))
      val x = ranked.select(col("lang"),
        log(col("rank")).cast("decimal(18,6)").as("lx"),
        log(col("c")).cast("decimal(18,6)").as("ly"))
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 12)
      val m = x.groupBy("lang").agg(
        count(lit(1)).cast("double").as("n"),
        sum("lx").cast("double").as("sx"), sum("ly").cast("double").as("sy"),
        sum((col("lx") * col("ly")).cast(dec38)).cast("double").as("sxy"),
        sum((col("lx") * col("lx")).cast(dec38)).cast("double").as("sxx"),
        sum((col("ly") * col("ly")).cast(dec38)).cast("double").as("syy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      m.select(col("lang"), col("n").cast("long").as("n_ranks"),
        round(slope, 5).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 5).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy"))
          * (col("n") * col("sxy") - col("sx") * col("sy")))
          / ((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 5).as("r2"))
    },

    // -- events_dau_wau ----------------------------------------------------
    // DAU / trailing-7-day WAU / stickiness — the engagement headline
    // metric. The scalable trick is the OFFSET EXPLODE: a sliding count
    // distinct has no partial-aggregatable form, but each (user, day)
    // activity row contributes to exactly 7 trailing windows, so exploding
    // it into (user, day+0..6) turns WAU into a plain per-day distinct
    // count — day-grain bounded (7×|user-days| rows), never a window over
    // the event stream. Stickiness = DAU/WAU as exact integer ppm.
    // Epoch micros assumed >= 0 (div truncates, // floors — they agree
    // only for nonnegative timestamps; cf. CurateOps.streaks).
    Q("events_user_entropy",
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS t,
        |             CAST(count(*) AS BIGINT) AS n_types FROM c GROUP BY 1),
        |term AS (SELECT c.user_id, c.n,
        |           CAST(ln(CAST(c.n AS DOUBLE) / t.t) AS DECIMAL(18,6)) AS lq
        |         FROM c JOIN t USING (user_id))
        |SELECT tm.user_id, t.t AS n_events, t.n_types,
        |       round(-CAST(sum(tm.n * tm.lq) AS DOUBLE) / t.t, 5) AS entropy_nats
        |FROM term tm JOIN t USING (user_id)
        |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      // Behavioral entropy per user: H(event-type distribution) — the
      // bot/anomaly signal a funnel can't see (a scripted account hammers
      // one type → H≈0; organic users mix). Same determinism ladder as
      // text_kl_sources: ln of an exact integer ratio quantized per term
      // to DECIMAL(18,6), H·t = −Σ n·ln_q exact and order-free, ONE
      // division at the end. Shape: two (user, type)-grained partial
      // aggs + a users-sized join — nothing wider than the type marginals.
      val c = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
      val t = c.groupBy(col("user_id"))
        .agg(sum(col("n")).cast("long").as("t"), count(lit(1)).cast("long").as("n_types"))
      c.join(t, "user_id")
        .withColumn("lq",
          log(col("n").cast("double") / col("t"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .groupBy(col("user_id"), col("t"), col("n_types"))
        .agg((round((sum(col("n") * col("lq")) * -1).cast("double") / col("t"), 5))
          .as("entropy_nats"))
        .select(col("user_id"), col("t").as("n_events"), col("n_types"),
          col("entropy_nats"))
    },

    // Inter-event-time regularity (r8b) — the bot signal entropy can't
    // see: a scripted account fires on a TIMER, so its gap distribution
    // is abnormally regular (coefficient of variation ≪ 1), while
    // organic arrivals are bursty (CV ≈ 1 for Poisson). Flag = m ≥ 5
    // gaps AND CV < 0.7, evaluated as the cross-multiplied integer
    // inequality 100·(m·Σg² − (Σg)²) < 49·(Σg)² — exact BIGINT
    // second-granular arithmetic end to end, no float frontier to drift.
    Q("events_bot_score",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id,
        |             (ts_us - lag(ts_us) OVER
        |               (PARTITION BY user_id ORDER BY ts_us, event_id))
        |               // 1000000 AS gp
        |      FROM e),
        |a AS (SELECT user_id, CAST(count(gp) AS BIGINT) AS m,
        |             CAST(sum(gp) AS BIGINT) AS sg,
        |             CAST(sum(gp * gp) AS BIGINT) AS sg2
        |      FROM g WHERE gp IS NOT NULL GROUP BY 1)
        |SELECT user_id, m, sg, sg2,
        |       CAST(CASE WHEN m >= 5 AND sg > 0
        |                  AND 100 * (m * sg2 - sg * sg) < 49 * sg * sg
        |                 THEN 1 ELSE 0 END AS BIGINT) AS bot_flag
        |FROM a""".stripMargin) { (s, d) =>
      // Shape: ONE user-keyed exchange feeds the lag window, then a
      // user-grained partial agg — the sessionize plan. Gaps are DIV'd
      // to seconds before squaring so Σg² stays far from BIGINT range
      // at any corpus scale (µs² would overflow at day-long gaps).
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("gp",
          expr("(ts_us - lag(ts_us) OVER (PARTITION BY user_id " +
            "ORDER BY ts_us, event_id)) div 1000000"))
        .filter(col("gp").isNotNull)
        .groupBy("user_id")
        .agg(count(col("gp")).cast("long").as("m"),
          sum(col("gp")).cast("long").as("sg"),
          sum(col("gp") * col("gp")).cast("long").as("sg2"))
        .select(col("user_id"), col("m"), col("sg"), col("sg2"),
          when(col("m") >= 5 && col("sg") > 0 &&
            lit(100) * (col("m") * col("sg2") - col("sg") * col("sg")) <
              lit(49) * col("sg") * col("sg"), 1L)
            .otherwise(0L).as("bot_flag"))
    },

    Q("events_dau_wau",
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |w AS (SELECT ud.user_id, ud.day + o.o AS day
        |      FROM ud, (SELECT unnest(generate_series(0, 6)) AS o) o),
        |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM w GROUP BY 1)
        |SELECT d.day, d.dau, w2.wau,
        |       (d.dau * 1000000) // w2.wau AS stickiness_micro
        |FROM dau d JOIN wau w2 USING (day)""".stripMargin) { (s, d) =>
      val dayUs = 86400000000L
      val ud = Tables.cached(s, s"$d/user-days") {
        Tables.events(s, d)
          .select(col("user_id"), expr(s"ts_us div $dayUs").as("day")).distinct()
      }
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(lit(0L), lit(6L))).as("o"),
          col("day"))
        .select(col("user_id"), (col("day") + col("o")).as("day"))
        .groupBy("day").agg(countDistinct("user_id").as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau").cast("long").as("dau"),
          col("wau").cast("long").as("wau"),
          expr("(dau * 1000000L) div wau").as("stickiness_micro"))
    },

    // -- events_top_paths --------------------------------------------------
    // Top 3-step event-type paths — the user-journey report product
    // analytics runs daily (onboarding funnels, rage-click detection):
    // each user's stream ordered by (ts_us, event_id) yields double-lag
    // trigram paths; top-25 by count, ties by path string. Same per-user
    // window shape as events_markov (one user-hash shuffle), then a
    // types³-bounded agg — path cardinality is independent of corpus size.
    // NULL-type universe pinned in BOTH engines: rows with a NULL
    // event_type are dropped BEFORE the lags — downstream, Spark's
    // concat_ws would silently SKIP a null step (emitting a fake 2-step
    // path) where DuckDB's || propagates NULL, so the two would disagree
    // on exactly the malformed rows.
    Q("events_top_paths",
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type IS NOT NULL),
        |p AS (SELECT event_type,
        |             lag(event_type, 1) OVER w AS t1,
        |             lag(event_type, 2) OVER w AS t2
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |c AS (SELECT t2 || ' > ' || t1 || ' > ' || event_type AS path,
        |             CAST(count(*) AS BIGINT) AS n_paths
        |      FROM p WHERE t2 IS NOT NULL GROUP BY 1)
        |SELECT path, n_paths FROM c
        |ORDER BY n_paths DESC, path LIMIT 25""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .filter(col("event_type").isNotNull)
        .select(col("event_type"),
          lag("event_type", 1).over(w).as("t1"),
          lag("event_type", 2).over(w).as("t2"))
        .filter(col("t2").isNotNull)
        .select(concat_ws(" > ", col("t2"), col("t1"), col("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).cast("long").as("n_paths"))
        .orderBy(col("n_paths").desc, col("path"))
        .limit(25)
    },

    // -- events_markov -----------------------------------------------------
    // Event-type transition matrix — the Markov-chain session model
    // (next-action prediction, bot detection via improbable transitions).
    // Each user's stream ordered by (ts_us, event_id) — the house
    // determinism rule — yields lag-pairs; the matrix is the pair count
    // plus an integer-micro row-conditional probability (n·10⁶ div n_from,
    // exact bigint division, no floats anywhere).
    Q("events_markov",
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events),
        |p AS (SELECT event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts_us, event_id) AS prev_type
        |      FROM e),
        |c AS (SELECT prev_type, event_type, count(*) AS n_trans
        |      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT c.prev_type, c.event_type, n_trans, n_from,
        |       (n_trans * 1000000) // n_from AS p_micro
        |FROM c JOIN f USING (prev_type)""".stripMargin) { (s, d) =>
      // 100 TB shape: ONE user_id hash partition + (ts_us, event_id) sort
      // feeds the lag (transitions are per-user state — the sessionize
      // shape), then a types²-sized partial agg; the row-marginal join is
      // against a types-sized frame (broadcast at scale). Never a global
      // window, never a self-join of the event stream.
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val pairs = Tables.events(s, d)
        .select(col("event_type"), lag("event_type", 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
      val c = pairs.groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n_trans"))
      val f = c.groupBy("prev_type").agg(sum("n_trans").cast("long").as("n_from"))
      c.join(broadcast(f), "prev_type")
        .withColumn("p_micro", expr("(n_trans * 1000000L) div n_from"))
        .select("prev_type", "event_type", "n_trans", "n_from", "p_micro")
    },

    // Seasonality-adjusted spike detection (r8g): events_spike compares
    // against the trailing week, which fires every Monday morning on any
    // weekday-seasonal stream; this compares each (type, hour) cell
    // against the mean of its OWN weekday-hour slot across the corpus
    // (the events_heatmap baseline applied as an anomaly denominator).
    // Exactness: the 2× test is cross-multiplied integers — n·n_slots >
    // 2·slot_total — no float mean ever computed. Baseline is over
    // observed same-slot hours (zero-event hours absent by construction;
    // the spike's own hour included — conservative, documented). Shape:
    // one (type, hour) agg, then a slot-keyed agg joined back — two
    // group-sized exchanges, no windows at all.
    Q("events_spike_seasonal",
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events),
        |hc AS (SELECT event_type, hr, count(*) AS n FROM e GROUP BY 1, 2),
        |sl AS (SELECT event_type, hr, n,
        |              ((hr // 24) + 4) % 7 AS dow, hr % 24 AS hod
        |       FROM hc),
        |base AS (SELECT event_type, dow, hod,
        |                sum(n) AS slot_total, count(*) AS n_slots
        |         FROM sl GROUP BY 1, 2, 3)
        |SELECT sl.event_type, CAST(sl.hr AS BIGINT) AS hr,
        |       CAST(sl.n AS BIGINT) AS n,
        |       CAST(b.slot_total AS BIGINT) AS slot_total,
        |       CAST(b.n_slots AS BIGINT) AS n_slots,
        |       CASE WHEN sl.n * b.n_slots > 2 * b.slot_total THEN 1 ELSE 0 END
        |         AS is_spike
        |FROM sl JOIN base b
        |  ON b.event_type = sl.event_type AND b.dow = sl.dow AND b.hod = sl.hod"""
        .stripMargin) { (s, d) =>
      val hc = Tables.events(s, d)
        .select(col("event_type"), expr("ts_us div 3600000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
        .withColumn("dow", expr("((hr div 24) + 4) % 7"))
        .withColumn("hod", expr("hr % 24"))
      val base = hc.groupBy("event_type", "dow", "hod")
        .agg(sum("n").as("slot_total"), count(lit(1)).as("n_slots"))
      hc.join(base, Seq("event_type", "dow", "hod"))
        .select(col("event_type"), col("hr"), col("n"),
          col("slot_total"), col("n_slots"),
          when(col("n") * col("n_slots") > lit(2) * col("slot_total"), 1)
            .otherwise(0).as("is_spike"))
    },

    // Hysteresis alerting (r8g) — the Schmitt-trigger every monitoring
    // system needs: alert ON when value crosses 90, OFF only below 70, so
    // noise oscillating inside [70, 90] cannot flap the alert. The state
    // machine LOOKS recursive (state depends on previous state) but
    // compiles to pure windows: state = the LAST crossing's direction —
    // last_value(flag IGNORE NULLS) over the unbounded-preceding frame
    // (the window_fill_forward LOCF trick) — and episodes are then
    // gaps-islands run-length groups (state-change markers summed). One
    // user-keyed exchange, bounded frames; per-user output = alert
    // episodes with start/end/peak.
    Q("events_alert_hysteresis",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |           FROM events),
        |f AS (SELECT user_id, event_id, ts_us, value,
        |        CASE WHEN value > 90 THEN 1 WHEN value < 70 THEN 0 END AS crossing
        |      FROM e),
        |st AS (SELECT user_id, event_id, ts_us, value,
        |         coalesce(last_value(crossing IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS UNBOUNDED PRECEDING), 0) AS state
        |       FROM f),
        |mk AS (SELECT user_id, event_id, ts_us, value, state,
        |         CASE WHEN coalesce(lag(state) OVER (
        |                PARTITION BY user_id ORDER BY ts_us, event_id), 0) <> state
        |              THEN 1 ELSE 0 END AS flip
        |       FROM st),
        |ep AS (SELECT user_id, ts_us, event_id, value, state,
        |         sum(flip) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS episode
        |       FROM mk)
        |SELECT user_id, CAST(episode AS BIGINT) AS episode,
        |       CAST(min(ts_us) AS BIGINT) AS t_start_us,
        |       CAST(max(ts_us) AS BIGINT) AS t_end_us,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       max(value) AS peak_value
        |FROM ep WHERE state = 1 GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val run = byUser.rowsBetween(Long.MinValue, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("crossing",
          when(col("value") > 90, 1).when(col("value") < 70, 0))
        .withColumn("state",
          coalesce(last(col("crossing"), ignoreNulls = true).over(run), lit(0)))
        .withColumn("flip",
          when(coalesce(lag(col("state"), 1).over(byUser), lit(0)) =!= col("state"),
            1L).otherwise(0L))
        .withColumn("episode", sum(col("flip")).over(run))
        .filter(col("state") === 1)
        .groupBy("user_id", "episode")
        .agg(min("ts_us").as("t_start_us"), max("ts_us").as("t_end_us"),
          count(lit(1)).as("n_events"), max("value").as("peak_value"))
    },

    // Activity heatmap (r8g): the hour-of-day × day-of-week event grid —
    // the first chart on every ops/abuse dashboard and the seasonality
    // profile batch schedulers are tuned against. Pure epoch integer
    // arithmetic (hour = µs div 3.6e9 mod 24; dow anchored at epoch day 0
    // = Thursday, so +4 lands Sunday=0) — identical in both engines, no
    // timezone/calendar library in the gate. One scan into a ≤168-cell
    // partial agg: map-side combine collapses everything; at 100 TB this
    // is the cheapest full-corpus profile there is.
    Q("events_heatmap",
      """WITH e AS (SELECT epoch_us(ts) AS t FROM events)
        |SELECT CAST(((t // 86400000000) + 4) % 7 AS BIGINT) AS dow,
        |       CAST((t // 3600000000) % 24 AS BIGINT) AS hod,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(
          expr("((ts_us div 86400000000) + 4) % 7").as("dow"),
          expr("(ts_us div 3600000000) % 24").as("hod"))
        .groupBy("dow", "hod")
        .agg(count(lit(1)).as("n"))
    },

    // Inter-arrival-time profile (r8h): per-user event-gap distribution +
    // Goh–Barabási burstiness B = (σ−μ)/(σ+μ) ∈ [−1, 1] — the behavioral
    // fingerprint that separates humans (bursty, B → 1) from schedulers
    // and replay bots (periodic, B → −1); the natural companion feature to
    // events_bot_score. Determinism: gaps are exact µs bigints off the
    // lag window (ties broken on event_id); power sums ride the DECIMAL
    // ladder (gap² as DECIMAL(19,0)×DECIMAL(19,0) — int128 lane in
    // DuckDB, exact at 38 digits in both engines);
    // μ, σ, B are identical IEEE formulas on the exact-sum doubles, each
    // rounded on output. 100 TB shape: ONE user-keyed exchange feeds both
    // the lag window and the per-user agg (same partitioning, no second
    // shuffle); per-user window partitions are bounded by per-user event
    // counts, never corpus-sized.
    Q("events_interarrival",
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |g AS (SELECT user_id,
        |             t - lag(t) OVER (PARTITION BY user_id
        |                              ORDER BY t, event_id) AS gap
        |      FROM o),
        |s AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(CAST(gap AS DECIMAL(27,0))) AS DOUBLE) AS s1,
        |             CAST(sum(CAST(gap AS DECIMAL(19,0))
        |                      * CAST(gap AS DECIMAL(19,0))) AS DOUBLE) AS s2
        |      FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 5)
        |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
        |       round(s1 / n, 2) AS mean_gap_us,
        |       round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 2) AS std_gap_us,
        |       round((sqrt(s2 / n - (s1 / n) * (s1 / n)) - s1 / n)
        |             / (sqrt(s2 / n - (s1 / n) * (s1 / n)) + s1 / n), 5)
        |         AS burstiness
        |FROM s""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val g = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("gap").isNotNull)
      val st = g.groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("gap").cast("decimal(27,0)")).cast("double").as("s1"),
          sum(col("gap").cast("decimal(19,0)")
            * col("gap").cast("decimal(19,0)")).cast("double").as("s2"))
        .filter(col("n") >= 5)
      val mu = col("s1") / col("n")
      val sd = sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
      st.select(col("user_id"), col("n").cast("long").as("n_gaps"),
        round(mu, 2).as("mean_gap_us"),
        round(sd, 2).as("std_gap_us"),
        round((sd - mu) / (sd + mu), 5).as("burstiness"))
    },

    // Heaps'-law vocabulary growth (r8h): |vocab(n)| sampled at 10
    // ingest-order checkpoints + the log-log OLS exponent β (V ≈ K·n^β) —
    // the corpus-health curve that says whether more data still buys new
    // vocabulary (β holding ~0.5) or the crawl has saturated / started
    // re-ingesting itself (β → 0, the macro-scale dedup smell). Ingest
    // order is the dense doc_id (+1), so NO global ordering window exists
    // anywhere; a token's first-occurrence rank is a plain min over the
    // shared (doc, token) tf frame. vocab(ckpt) counts first-ranks ≤ each
    // checkpoint via a 10-row broadcast theta-join — vocab-sized work, and
    // vocabulary ≪ corpus at any scale. β rides the text_zipf ladder: ln
    // quantized to DECIMAL(18,6) per checkpoint BEFORE the exact-decimal
    // OLS sums, one identical IEEE slope formula both engines.
    Q("text_heaps",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |o AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |f AS (SELECT tok, min(doc_id) + 1 AS fr FROM o GROUP BY 1),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |cp AS (SELECT k, CAST(k * nd.nd // 10 AS BIGINT) AS ckpt
        |       FROM (SELECT unnest(generate_series(1, 10)) AS k), nd),
        |v AS (SELECT cp.k, cp.ckpt, CAST(count(*) AS BIGINT) AS vocab
        |      FROM cp JOIN f ON f.fr <= cp.ckpt GROUP BY 1, 2),
        |x AS (SELECT k, ckpt, vocab,
        |             CAST(ln(ckpt) AS DECIMAL(18,6)) AS lx,
        |             CAST(ln(vocab) AS DECIMAL(18,6)) AS ly
        |      FROM v),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |             CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
        |             CAST(sum(CAST(lx * ly AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |             CAST(sum(CAST(lx * lx AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |      FROM x)
        |SELECT CAST(x.k AS BIGINT) AS k, x.ckpt AS docs_seen,
        |       x.vocab AS vocab_size,
        |       round((m.n * m.sxy - m.sx * m.sy)
        |             / (m.n * m.sxx - m.sx * m.sx), 5) AS heaps_beta
        |FROM x, m""".stripMargin) { (s, d) =>
      val docs = Tables.cachedTable(s, d, "documents")
      val tf = TextAnalysisQueries.tfidfTf(s, d)
      val f = tf.groupBy("tok").agg((min("doc_id") + 1).as("fr"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      val cp = s.range(1, 11).toDF("k").crossJoin(broadcast(nd))
        .select(col("k"), expr("k * nd div 10").cast("long").as("ckpt"))
      val v = f.join(broadcast(cp), col("fr") <= col("ckpt"))
        .groupBy("k", "ckpt").agg(count(lit(1)).cast("long").as("vocab"))
      val x = v.select(col("k"), col("ckpt"), col("vocab"),
        log(col("ckpt")).cast("decimal(18,6)").as("lx"),
        log(col("vocab")).cast("decimal(18,6)").as("ly"))
      val m = x.agg(count(lit(1)).cast("double").as("n"),
        sum("lx").cast("double").as("sx"), sum("ly").cast("double").as("sy"),
        sum((col("lx") * col("ly")).cast("decimal(38,12)")).cast("double").as("sxy"),
        sum((col("lx") * col("lx")).cast("decimal(38,12)")).cast("double").as("sxx"))
      x.crossJoin(broadcast(m))
        .select(col("k").cast("long").as("k"), col("ckpt").as("docs_seen"),
          col("vocab").as("vocab_size"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 5).as("heaps_beta"))
    },

    // Lag-1 autocorrelation of the per-type daily volume series (r9) —
    // the persistence diagnostic that separates trending metrics
    // (autocorr → 1: yesterday predicts today, alert thresholds must
    // detrend first) from memoryless ones (→ 0). Pearson over the
    // (x_t, x_{t+1}) lag pairs built by ONE type-keyed window; all five
    // moments are exact BIGINTs (daily counts — no decimal needed), and
    // the correlation is one identical IEEE tree, 5 dp at the boundary.
    // 100 TB: the day-grain pre-agg collapses the corpus map-side;
    // everything after is days×types rows.
    Q("window_autocorr",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, x,
        |             lead(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |      FROM dc),
        |m AS (SELECT event_type, count(*) AS m,
        |             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |             sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
        |       round(CAST(m * sxy - sx * sy AS DOUBLE) /
        |             (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |              sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 5) AS autocorr
        |FROM m""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      dc.withColumn("y", lead(col("x"), 1).over(w))
        .filter(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("m"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("m").cast("long").as("n_pairs"),
          round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))), 5)
            .as("autocorr"))
    },

    // CUSUM changepoint localization (r9) — events_spike finds level
    // OUTLIERS; this finds the STRUCTURAL BREAK: the day t* maximizing
    // |Σ_{i≤t}(x_i − mean)|, the classic single-changepoint estimator
    // (the max-|CUSUM| statistic). Division-free: the deviation prefix
    // cross-multiplies by n (c_t = n·prefix_t − t·total — exact BIGINTs),
    // so argmax and ties are integer decisions; tie-break earliest day.
    // 100 TB: day-grain pre-agg map-side, ONE type-keyed window, a
    // types-sized argmax — the same shape as window_cusum with the argmax
    // folded in.
    Q("events_changepoint",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, count(*) AS n, sum(x) AS total FROM dc GROUP BY 1),
        |c AS (SELECT dc.event_type, day,
        |             t.n * sum(x) OVER (PARTITION BY dc.event_type ORDER BY day)
        |               - (row_number() OVER (PARTITION BY dc.event_type ORDER BY day))
        |                 * t.total AS cus
        |      FROM dc JOIN t USING (event_type)),
        |r AS (SELECT event_type, day, cus,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY abs(cus) DESC, day) AS rn
        |      FROM c)
        |SELECT event_type, CAST(day AS BIGINT) AS change_day,
        |       CAST(cus AS BIGINT) AS cusum_scaled
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val t = dc.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("total"))
      val c = dc.join(broadcast(t), "event_type")
        .withColumn("cus",
          col("n") * sum(col("x")).over(wOrd.rowsBetween(Long.MinValue, 0)) -
            row_number().over(wOrd) * col("total"))
      c.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy(abs(col("cus")).desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").cast("long").as("change_day"),
          col("cus").cast("long").as("cusum_scaled"))
    },

    // Theil–Sen robust trend (r9) — window_slope's OLS line is dragged by
    // one bad day (an outage, a backfill spike); the median of all
    // pairwise slopes has a 29% breakdown point and is the estimator an
    // alerting baseline should trend on. Day-grain pre-agg first, so the
    // pair fan-out is days², NEVER corpus² (30 days → 435 pairs/type);
    // each slope is ONE IEEE division of exact ints (identical both
    // engines), the median is the rank-(⌈m/2⌉) element under the total
    // order (slope, day_i, day_j) — lower median, integer-deterministic,
    // no mid-pair averaging.
    Q("window_theil_sen",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |             CAST(b.x - a.x AS DOUBLE) / (b.day - a.day) AS slope,
        |             a.day AS d1, b.day AS d2
        |      FROM dc a JOIN dc b
        |        ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (SELECT event_type, slope,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY slope, d1, d2) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS m
        |      FROM p)
        |SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
        |       round(slope, 5) AS theil_slope
        |FROM r WHERE rn = (m + 1) // 2""".stripMargin) { (s, d) =>
      // r12 (clearing the r11 `weak`): the banded order-statistic fetch
      // now lives in CurateOps.theilSenSlopes WITH hot-band refinement —
      // an adaptive second banding level normalized to the hot band's
      // observed span, plus a single-value escape at both levels, so the
      // degenerate constant-slope signal (every pairwise slope identical)
      // emits DIRECTLY with no window at all instead of funneling all m
      // pairs through one task. Rank arithmetic is unchanged (lower
      // median, (slope, d1, d2) total order), so the rn = (m+1)//2 oracle
      // above stays byte-identical; CuratePropSpec pins the op against a
      // brute-force reference including the constant-slope fixture.
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      graft.operators.CurateOps.theilSenSlopes(dc)
    },

    // Burstiness / Fano factor (r9) — the dispersion pair window_autocorr
    // (memory) and events_changepoint (break) don't answer: is the daily
    // volume POISSON-like (Fano ≈ 1, B ≈ −?) or bursty (Fano ≫ 1, B → 1,
    // Goh–Barabási)? Decides whether rate alerts can assume a Poisson
    // band or need a burst-aware envelope. Moments are exact BIGINTs; the
    // population σ enters via one correctly-rounded sqrt; both reports
    // are one IEEE tree each, 5 dp at the boundary.
    Q("events_burstiness",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
        |      FROM dc GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |       round((CAST(n * sxx - sx * sx AS DOUBLE) / n) / sx, 5) AS fano,
        |       round((sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n - CAST(sx AS DOUBLE) / n)
        |             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n + CAST(sx AS DOUBLE) / n),
        |             5) AS burstiness
        |FROM m""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n").cast("long").as("n_days"),
          round(((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
            col("n")) / col("sx"), 5).as("fano"),
          round((sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
            col("n") - col("sx").cast("double") / col("n")) /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
              col("n") + col("sx").cast("double") / col("n")), 5).as("burstiness"))
    },

    // Rolling 7-day correlation between two metric series (r9) — the
    // coupling monitor: clicks and views normally co-move (corr ≈ 1); a
    // window where the correlation collapses is a tracking regression on
    // ONE of the pipes even when both totals look healthy. Day-grain
    // join of the two series (0-filled), then all five moments as
    // trailing 7-day RANGE windows over exact integer counts — the
    // per-day corr is one IEEE tree on exact ints, 5 dp. Degenerate
    // windows (either series constant — denominator 0) report NULL, not
    // a NaN that engines render differently.
    Q("window_rolling_corr",
      """WITH days AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events),
        |cx AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS x
        |       FROM events WHERE event_type = 'click' GROUP BY 1),
        |cy AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS y
        |       FROM events WHERE event_type = 'view' GROUP BY 1),
        |s AS (SELECT days.day, coalesce(cx.x, 0) AS x, coalesce(cy.y, 0) AS y
        |      FROM days LEFT JOIN cx USING (day) LEFT JOIN cy USING (day)),
        |w AS (SELECT day,
        |             count(*) OVER win AS m,
        |             sum(x) OVER win AS sx, sum(y) OVER win AS sy,
        |             sum(x * y) OVER win AS sxy,
        |             sum(x * x) OVER win AS sxx, sum(y * y) OVER win AS syy
        |      FROM s
        |      WINDOW win AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT CAST(day AS BIGINT) AS day, CAST(m AS BIGINT) AS n_window,
        |       CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0 THEN NULL
        |            ELSE round(CAST(m * sxy - sx * sy AS DOUBLE) /
        |                       (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |                        sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 5)
        |       END AS rolling_corr
        |FROM w""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      val days = ev.select("day").distinct()
      def series(t: String, out: String) =
        ev.filter(col("event_type") === t).groupBy("day")
          .agg(count(lit(1)).as(out))
      val joined = days
        .join(series("click", "x"), Seq("day"), "left")
        .join(series("view", "y"), Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val win = org.apache.spark.sql.expressions.Window
        .orderBy("day").rangeBetween(-6, 0)
      val w = joined.select(col("day"),
        count(lit(1)).over(win).as("m"),
        sum("x").over(win).as("sx"), sum("y").over(win).as("sy"),
        sum(col("x") * col("y")).over(win).as("sxy"),
        sum(col("x") * col("x")).over(win).as("sxx"),
        sum(col("y") * col("y")).over(win).as("syy"))
      val dx = col("m") * col("sxx") - col("sx") * col("sx")
      val dy = col("m") * col("syy") - col("sy") * col("sy")
      w.select(col("day").cast("long").as("day"), col("m").cast("long").as("n_window"),
        when(dx === 0 || dy === 0, lit(null))
          .otherwise(round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 5))
          .as("rolling_corr"))
    },

    // Forecast-error baseline (MASE denominator pair, r9) — before
    // shipping events_forecast anywhere, the question is whether it beats
    // the free baselines: per type, the seasonal-naive error Σ|x_t−x_{t−7}|
    // and the naive error Σ|x_t−x_{t−1}| over the daily series, plus
    // their ratio (Hyndman's MASE scaling, here baseline-vs-baseline: a
    // ratio ≪ 1e6 says the series is strongly weekly-seasonal and any
    // model must beat the SEASONAL baseline, not the lag-1 one). All
    // errors exact BIGINTs off two lag windows on ONE type-keyed
    // exchange; the ratio is one integer cross-multiplied floor — no
    // float anywhere.
    Q("events_forecast_error",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, x,
        |              lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
        |              lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x7
        |       FROM dc),
        |m AS (SELECT event_type,
        |             sum(CASE WHEN x1 IS NULL THEN 0 ELSE abs(x - x1) END) AS nae,
        |             sum(CASE WHEN x1 IS NULL THEN 0 ELSE 1 END) AS nn,
        |             sum(CASE WHEN x7 IS NULL THEN 0 ELSE abs(x - x7) END) AS sae,
        |             sum(CASE WHEN x7 IS NULL THEN 0 ELSE 1 END) AS ns
        |      FROM lg GROUP BY 1)
        |SELECT event_type, CAST(nae AS BIGINT) AS naive_abs_err,
        |       CAST(sae AS BIGINT) AS seasonal_abs_err,
        |       CAST(nn AS BIGINT) AS n_naive, CAST(ns AS BIGINT) AS n_seasonal,
        |       CAST(1000000 * sae * nn // greatest(ns * nae, 1) AS BIGINT)
        |         AS seasonal_vs_naive_ppm
        |FROM m""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("x1", lag(col("x"), 1).over(w))
        .withColumn("x7", lag(col("x"), 7).over(w))
        .groupBy("event_type")
        .agg(
          sum(when(col("x1").isNull, 0L).otherwise(abs(col("x") - col("x1")))).as("nae"),
          sum(when(col("x1").isNull, 0L).otherwise(1L)).as("nn"),
          sum(when(col("x7").isNull, 0L).otherwise(abs(col("x") - col("x7")))).as("sae"),
          sum(when(col("x7").isNull, 0L).otherwise(1L)).as("ns"))
        .select(col("event_type"),
          col("nae").cast("long").as("naive_abs_err"),
          col("sae").cast("long").as("seasonal_abs_err"),
          col("nn").cast("long").as("n_naive"),
          col("ns").cast("long").as("n_seasonal"),
          expr("CAST(1000000 * sae * nn div greatest(ns * nae, 1) AS BIGINT)")
            .as("seasonal_vs_naive_ppm"))
    },

    // Maximum drawdown (r9) — the peak-to-trough loss finance runs on
    // equity curves, equally the right "how far did this metric fall from
    // its best" report for retention/volume series: over each type's
    // cumulative daily volume... deliberately NOT cumulative here — the
    // raw daily series IS the level; drawdown_t = runmax_{i≤t}(x_i) − x_t,
    // max over t, with the day it bottomed (earliest tie). Two windows
    // (running max + argmax) on ONE type-keyed exchange, all BIGINTs.
    Q("window_drawdown",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, x,
        |             max(x) OVER (PARTITION BY event_type ORDER BY day) - x AS dd
        |      FROM dc),
        |a AS (SELECT event_type, day, dd,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY dd DESC, day) AS rn
        |      FROM r)
        |SELECT event_type, CAST(dd AS BIGINT) AS max_drawdown,
        |       CAST(day AS BIGINT) AS trough_day
        |FROM a WHERE rn = 1""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dd",
          max(col("x")).over(w.rowsBetween(Long.MinValue, 0)) - col("x"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy(col("dd").desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("dd").cast("long").as("max_drawdown"),
          col("day").cast("long").as("trough_day"))
    },

    // Min-max feature scaling (r9) — the normalization step a
    // cross-series dashboard or model feature pipe applies before
    // comparing differently-sized metrics: per type, daily volume scaled
    // to [0, 10⁶] ppm against that type's own min/max. Integer-exact:
    // scaled = (x − min)·10⁶ // (max − min); a constant series (max =
    // min) reports NULL, never a divide-by-zero or an engine-specific
    // NaN. One type-keyed agg broadcast back over the day frame.
    Q("window_minmax_scale",
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                   count(*) AS x
        |            FROM events GROUP BY 1, 2),
        |mm AS (SELECT event_type, min(x) AS mn, max(x) AS mx FROM dc GROUP BY 1)
        |SELECT dc.event_type, CAST(day AS BIGINT) AS day, CAST(x AS BIGINT) AS x,
        |       CAST(CASE WHEN mx = mn THEN NULL
        |                 ELSE (x - mn) * 1000000 // (mx - mn) END AS BIGINT)
        |         AS scaled_ppm
        |FROM dc JOIN mm USING (event_type)""".stripMargin) { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val mm = dc.groupBy("event_type").agg(min("x").as("mn"), max("x").as("mx"))
      dc.join(broadcast(mm), "event_type")
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("x").cast("long").as("x"),
          when(col("mx") === col("mn"), lit(null))
            .otherwise(expr("((x - mn) * 1000000) div (mx - mn)"))
            .cast("long").as("scaled_ppm"))
    },

    // Latency-SLO percentile report (r9) — the exact p50/p95/p99 per
    // event type over the metric value: the SRE readout where the TAIL is
    // the contract and an approximate sketch under-reporting p99 by one
    // bucket hides an SLO breach. Rides CurateOps.exactQuantilesByGroup
    // (banded two-phase order-statistic fetch — no per-group value
    // buffers, the agg_percentile discipline) on its SECOND carrier
    // table, proving the operator generalizes past the lineitem fixture.
    Q("events_latency_slo",
      """SELECT event_type,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.95) AS p95,
        |       quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      graft.operators.CurateOps.exactQuantilesByGroup(
        Tables.events(s, d)
          .select("event_type", "value", "event_id"),
        groupCols = Seq("event_type"),
        valueCol = "value",
        tieCol = "event_id",
        band = floor(col("value") / 10).cast("long"),
        qs = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))
    },

    // Out-of-order arrival audit (r9; de-funneled r10) — the event-time vs
    // arrival-order census that sizes streaming WATERMARKS: within each
    // type, walking events in arrival order (event_id — the fixture's
    // append order), how many arrive with an EARLIER timestamp than their
    // predecessor, and how late (max regression, µs)? The answer decides
    // withWatermark's delay budget; a rising inversion rate is an
    // upstream buffering bug.
    //
    // 100 TB shape (r10, the r9-verdict de-funnel): a lag needs only
    // ADJACENT rows, so a raw-row `PARTITION BY event_type` window — one
    // task per low-cardinality type — is never necessary. Band by
    // event_id range (event_id div 65536): the lag window is keyed on
    // (event_type, band) so each 65536-id slice is its own task, and the
    // only cross-band information a lag needs is each band's boundary —
    // stitch by lagging each band's TAIL (max-id row's ts) onto the next
    // band's HEAD over the bands-sized frame (n/65536 rows — the one
    // extra small exchange). The naive global-window DuckDB oracle below
    // is unchanged; the hash match IS the losslessness proof of the
    // decomposition (plus the PlanSpec pin on the (event_type, band)
    // window key).
    Q("events_out_of_order",
      """WITH o AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT event_type, ts_us,
        |             lag(ts_us) OVER (PARTITION BY event_type ORDER BY event_id)
        |               AS prev_ts
        |      FROM o)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN prev_ts IS NOT NULL AND ts_us < prev_ts
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
        |       CAST(coalesce(max(CASE WHEN prev_ts IS NOT NULL AND ts_us < prev_ts
        |                              THEN prev_ts - ts_us END), 0) AS BIGINT)
        |         AS max_regression_us
        |FROM l GROUP BY 1""".stripMargin) { (s, d) =>
      val banded = Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"))
        .withColumn("band", expr("event_id div 65536"))
      // Phase 1: local lag within (type, band) — parallel across bands.
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "band").orderBy("event_id")
      val perBand = banded
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(wLocal))
        .groupBy("event_type", "band")
        .agg(count(lit(1)).as("bn"),
          sum(when(col("prev_ts").isNotNull && col("ts_us") < col("prev_ts"), 1L)
            .otherwise(0L)).as("binv"),
          coalesce(max(when(col("prev_ts").isNotNull && col("ts_us") < col("prev_ts"),
            col("prev_ts") - col("ts_us"))), lit(0L)).as("bmaxreg"),
          min(struct(col("event_id"), col("ts_us"))).getField("ts_us").as("head_ts"),
          max(struct(col("event_id"), col("ts_us"))).getField("ts_us").as("tail_ts"))
      // Phase 2: stitch band boundaries over the bands-sized frame — the
      // previous band's tail is this band's missing `prev_ts` for its head.
      val wStitch = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("band")
      perBand
        .withColumn("prev_tail", lag(col("tail_ts"), 1).over(wStitch))
        .groupBy("event_type")
        .agg(sum("bn").as("n"),
          (sum("binv") + sum(when(col("prev_tail").isNotNull &&
            col("head_ts") < col("prev_tail"), 1L).otherwise(0L))).as("n_inversions"),
          greatest(max("bmaxreg"),
            coalesce(max(when(col("prev_tail").isNotNull &&
              col("head_ts") < col("prev_tail"), col("prev_tail") - col("head_ts"))),
              lit(0L))).as("max_regression_us"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("n_inversions").cast("long").as("n_inversions"),
          col("max_regression_us").cast("long").as("max_regression_us"))
    },

    // Freshness lag audit (r9) — the staleness census an ingestion SLA
    // dashboard reads: per event type, how many days behind the global
    // high-water mark is this feed's newest event? A pipe whose lag grows
    // is silently dead upstream long before volume alarms fire. Pure
    // integer day arithmetic off two max() aggs; verdict at lag > 2 days.
    Q("quality_freshness",
      """WITH d AS (SELECT event_type, max(epoch_us(ts) // 86400000000) AS max_day
        |           FROM events GROUP BY 1),
        |g AS (SELECT max(max_day) AS global_day FROM d)
        |SELECT event_type, CAST(max_day AS BIGINT) AS max_day,
        |       CAST(global_day AS BIGINT) AS global_day,
        |       CAST(global_day - max_day AS BIGINT) AS lag_days,
        |       CAST(CASE WHEN global_day - max_day > 2 THEN 1 ELSE 0 END AS BIGINT)
        |         AS stale
        |FROM d, g""".stripMargin) { (s, d) =>
      val byType = Tables.events(s, d)
        .groupBy("event_type")
        .agg(max(expr("ts_us div 86400000000")).as("max_day"))
      val g = byType.agg(max("max_day").as("global_day"))
      byType.crossJoin(broadcast(g))
        .select(col("event_type"), col("max_day").cast("long").as("max_day"),
          col("global_day").cast("long").as("global_day"),
          (col("global_day") - col("max_day")).cast("long").as("lag_days"),
          when(col("global_day") - col("max_day") > 2, 1L).otherwise(0L).as("stale"))
    },

    // EWMA crossover detection (r9) — the MACD-style trend-change signal:
    // a fast (half-life-1, 3 lags) and a slow (0.8-decay, 7 lags)
    // truncated EWMA over each type's daily volume; a day where
    // sign(fast − slow) flips is a trend change (fast crossing above =
    // momentum up). Both EWMAs are the window_ewma closed form (lag
    // columns × literal weights — no recursion), identical IEEE trees in
    // both engines; the sign/flip logic is pure integer CASEs on ONE
    // type-keyed exchange. Reports per type: crossover count + first
    // crossover day.
    Q("window_ewma_crossover", {
      // every weight is CAST(... AS DOUBLE): DuckDB parses bare numeric
      // literals as DECIMAL and sums them EXACTLY, diverging from Spark's
      // double-chained arithmetic at the 16th digit (caught at sf0.001)
      def ewmaSql(ws: Seq[Double]) = {
        val num = ws.zipWithIndex.map { case (p, j) =>
          s"coalesce(x${j + 1} * CAST($p AS DOUBLE), 0)" }.mkString(" + ")
        val den = ws.zipWithIndex.map { case (p, j) =>
          s"CASE WHEN x${j + 1} IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST($p AS DOUBLE) END" }
          .mkString(" + ")
        s"(x + $num) / (CAST(1 AS DOUBLE) + $den)"
      }
      val fast = ewmaSql((1 to 3).map(j => math.pow(0.5, j)))
      val slow = ewmaSql((1 to 7).map(j => math.pow(0.8, j)))
      s"""WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |                   CAST(count(*) AS DOUBLE) AS x
         |            FROM events GROUP BY 1, 2),
         |lg AS (SELECT event_type, day, x,
         |              ${(1 to 7).map(j => s"lag(x, $j) OVER w AS x$j").mkString(", ")}
         |       FROM dc WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |sg AS (SELECT event_type, day,
         |              CASE WHEN $fast > $slow THEN 1
         |                   WHEN $fast < $slow THEN -1 ELSE 0 END AS sgn
         |       FROM lg),
         |cr AS (SELECT event_type, day, sgn,
         |              lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS ps
         |       FROM sg)
         |SELECT event_type,
         |       CAST(sum(CASE WHEN sgn <> 0 AND ps <> 0 AND sgn <> ps
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_crossovers,
         |       CAST(min(CASE WHEN sgn <> 0 AND ps <> 0 AND sgn <> ps
         |                     THEN day END) AS BIGINT) AS first_crossover_day
         |FROM cr GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      // DOUBLE from the start: DuckDB's 0.5-style literals are DECIMAL, and
      // BIGINT×DECIMAL stays DECIMAL (different rounding than double) —
      // window_ewma dodges this because `value` is already DOUBLE
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val lagged = (1 to 7).foldLeft(dc) { (df, j) =>
        df.withColumn(s"x$j", lag(col("x"), j).over(wOrd))
      }
      def ewma(ws: Seq[Double]) = {
        val num = ws.zipWithIndex.foldLeft(col("x")) {
          case (acc, (p, j)) => acc + coalesce(col(s"x${j + 1}") * lit(p), lit(0.0))
        }
        val den = ws.zipWithIndex.foldLeft(lit(1.0)) {
          case (acc, (p, j)) =>
            acc + when(col(s"x${j + 1}").isNull, lit(0.0)).otherwise(lit(p))
        }
        num / den
      }
      val fast = ewma((1 to 3).map(j => math.pow(0.5, j)))
      val slow = ewma((1 to 7).map(j => math.pow(0.8, j)))
      lagged
        .withColumn("sgn", when(fast > slow, 1).when(fast < slow, -1).otherwise(0))
        .withColumn("ps", lag(col("sgn"), 1).over(wOrd))
        .groupBy("event_type")
        .agg(
          sum(when(col("sgn") =!= 0 && col("ps") =!= 0 && col("sgn") =!= col("ps"),
            1L).otherwise(0L)).as("n_crossovers"),
          min(when(col("sgn") =!= 0 && col("ps") =!= 0 && col("sgn") =!= col("ps"),
            col("day"))).cast("long").as("first_crossover_day"))
    }
  )
}
