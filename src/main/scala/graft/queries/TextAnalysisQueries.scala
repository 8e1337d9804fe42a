package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Tables}
import graft.operators.TextOps

/** Text-analysis surface beyond counts/ngrams: quality scoring, n-gram
  * language identification, and BPE-ish regex tokenization (the brief's
  * training-data-pipeline checklist).
  *
  * Determinism: every ratio is a quotient of exact integers (identical
  * doubles in both engines); ranks are tie-broken on a unique column.
  */
object TextAnalysisQueries {

  /** Fixed stopword list (multi-language, matches the corpus langs). */
  private val Stopwords = Seq(
    "the", "of", "and", "a", "in", "to", "is",
    "de", "la", "el", "le", "et", "und", "der", "die")
  private def duckStop = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Character classes outside [a-z0-9 ] count as "punctuation-ish". */
  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** text_scrub_blocklist: terms to mask (word-bounded alternation — the
    * dialect-neutral subset of Java regex and RE2) and the mask token.
    */
  private val ScrubPattern = "\\b(customer|spark|vector)\\b"
  private val ScrubMask = "[SCRUBBED]"

  /** The per-doc token counts (doc_id, tok, tf): one corpus explode and
    * one (doc, token) partial agg, cached per (session, dir). The tf-based
    * keys of this file and of SignalQueries (idf, BM25, Gopher, OOV,
    * entropy, PMI, Zipf, Heaps, feature hashing, fastText) all read it, so
    * the corpus is tokenized once for all of them.
    */
  private[graft] def tfidfTf(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, s"$d/tfidf-tf") {
      Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    }

  /** The bigram occurrences (doc_id, bg, w1): one row per adjacent token
    * pair, `w1` its first word, cached per (session, dir). The bigram LM
    * family (text_ngram_lm, quality_perplexity, dsir_importance), PMI,
    * novelty and the coverage curve count over it.
    */
  private[graft] def bigramOcc(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, s"$d/bigram-occ") {
      Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(TextOps.bigrams(col("toks"))).as("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
    }

  /** Per-doc add-1-smoothed bigram LM score (sc_doc_id, n_bigrams,
    * avg_logp) under the corpus's own LM — built ONCE per (session, dir)
    * over the shared [[bigramOcc]] frame and consumed by both
    * quality_perplexity (the keep/drop gate) and domain_ppl_buckets (the
    * CCNet head/middle/tail split). Per-row DECIMAL(18,6) ln quantization
    * keeps the cross-row sum order-free and engine-exact.
    */
  private def docLogp(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, s"$d/doc-avg-logp") {
      val docs = Tables.cachedTable(s, d, "documents")
      val t = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val occ = bigramOcc(s, d)
      val c2 = occ.groupBy("bg").agg(count(lit(1)).as("n2"))
      val c1 = occ.groupBy("w1").agg(count(lit(1)).as("n1"))
      val v = t.select(explode(col("toks")).as("tok"))
        .agg(countDistinct(col("tok")).as("vocab"))
      occ.join(c2, "bg").join(c1, "w1").crossJoin(broadcast(v))
        .withColumn("lp",
          log((col("n2") + lit(1.0)) / (col("n1") + col("vocab")))
            .cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("lp")).cast("double") / count(lit(1))).as("avg_logp"))
        .withColumnRenamed("doc_id", "sc_doc_id")
    }

  /** The SQL chain computing the same per-doc scores — CTEs ending in
    * `sc(doc_id, n_bigrams, avg_logp)`; consumers append their tail.
    */
  private val DocLogpCtes: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
      |           ELSE list_transform(generate_series(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1]) END) AS bg
      |  FROM t),
      |o AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM occ),
      |c2 AS (SELECT bg, count(*) AS n2 FROM o GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS n1 FROM o GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS vocab
      |      FROM (SELECT unnest(toks) AS tok FROM t)),
      |lp AS (SELECT o.doc_id,
      |         CAST(ln((c2.n2 + 1.0) / (c1.n1 + v.vocab)) AS DECIMAL(18,6)) AS lp
      |       FROM o JOIN c2 USING (bg) JOIN c1 USING (w1), v),
      |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |              CAST(sum(lp) AS DOUBLE) / count(*) AS avg_logp
      |       FROM lp GROUP BY 1)""".stripMargin

  /** text_langid's per-doc prediction CTEs (through `pred`) — shared
    * verbatim with text_langid_confusion, the KnnOracleSql composition
    * rule: the eval's oracle references the same classification it
    * evaluates.
    */
  private val LangidPredCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
      |  FROM documents),
      |freq AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |prof AS (
      |  SELECT lang AS p_lang, tok
      |  FROM (SELECT lang, tok,
      |               row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn
      |        FROM freq)
      |  WHERE rn <= 30),
      |overlap AS (
      |  SELECT t.doc_id, t.lang, p.p_lang, count(*) AS n_shared
      |  FROM tok t JOIN prof p ON t.tok = p.tok
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT doc_id, lang, p_lang,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, p_lang) AS rn
      |  FROM overlap)""".stripMargin

  /** Shared per-doc language prediction (doc_id, lang, p_lang) — the
    * cached build text_langid and text_langid_confusion both read.
    * Profiles rank via two-phase top-k (a lang-only window would sort
    * each language's whole vocabulary in one task at scale) and
    * BROADCAST into the overlap join (langs × 30 rows); per-doc argmax
    * is a partial-aggregatable min-of-struct, not a row_number window.
    */
  private def langidPred(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, s"$d/langid-pred") {
      val tok = Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokenSet(col("text"))).as("tok"))
      val prof = TextOps.topKPerGroup(
        tok.groupBy("lang", "tok").agg(count(lit(1)).as("c")),
        Seq("lang"), Seq(col("c").desc, col("tok")), k = 30, bucketOn = col("tok"))
        .select(col("lang").as("p_lang"), col("tok"))
      tok.join(broadcast(prof), "tok")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(count(lit(1)).as("n_shared"))
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("n_shared")).as("neg"), col("p_lang"))).as("best"))
        .select(col("doc_id"), col("lang"), col("best.p_lang").as("p_lang"))
    }

  def all: Seq[Q] = Seq(
    Q("text_quality",
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, n_chars,
         |         string_split(lower(text), ' ') AS toks
         |  FROM documents)
         |SELECT doc_id, lang,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(n_chars - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
         |       CAST(length(lower(text)) - length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_nonalpha,
         |       CAST(len(list_filter(toks, x -> list_contains($duckStop, x))) AS BIGINT) AS n_stop,
         |       CAST(n_chars AS DOUBLE) / len(toks) AS avg_token_len,
         |       CAST(len(list_filter(toks, x -> list_contains($duckStop, x))) AS DOUBLE) / len(toks) AS stop_ratio
         |FROM t""".stripMargin) {
      (s, d) =>
        val stopArr = array(Stopwords.map(lit): _*)
        Tables.cachedTable(s, d, "documents")
          .withColumn("toks", TextOps.tokens(col("text")))
          .select(
            col("doc_id"), col("lang"),
            size(col("toks")).cast("long").as("n_tokens"),
            (col("n_chars") - length(regexp_replace(col("text"), " ", "")))
              .cast("long").as("n_spaces"),
            (length(lower(col("text"))) -
              length(regexp_replace(lower(col("text")), "[^a-z]", "")))
              .cast("long").as("n_nonalpha"),
            size(filter(col("toks"), t => array_contains(stopArr, t)))
              .cast("long").as("n_stop"),
            (col("n_chars").cast("double") / size(col("toks"))).as("avg_token_len"),
            (size(filter(col("toks"), t => array_contains(stopArr, t))).cast("double")
              / size(col("toks"))).as("stop_ratio"))
    },

    Q("text_langid",
      LangidPredCtes +
      """
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN p_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM pred WHERE rn = 1 GROUP BY lang""".stripMargin) {
      (s, d) =>
        // Self-supervised n-gram language ID: per-lang top-30 token
        // profiles from the corpus itself, classify each doc by max
        // profile overlap (ties -> lexicographic lang), report per-lang
        // accuracy. Per-doc predictions come from the shared cached
        // frame [[langidPred]] (text_langid_confusion reads the same
        // build).
        langidPred(s, d)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("p_lang") === col("lang"), 1).otherwise(0))
              .cast("long").as("n_correct"))
    },

    // Language-ID CONFUSION MATRIX (r8b) — the eval artifact per-class
    // accuracy hides: WHICH languages leak into which (es↔fr confusion
    // reads very differently from es→en), the report that decides
    // whether to fix the classifier or drop the ambiguous slice. Same
    // shared cached prediction build as text_langid; the oracle embeds
    // the same CTEs (composition rule — the eval cannot drift from the
    // classifier it evaluates).
    Q("text_langid_confusion",
      LangidPredCtes +
      """
        |SELECT lang, p_lang, CAST(count(*) AS BIGINT) AS n
        |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        langidPred(s, d)
          .groupBy("lang", "p_lang")
          .agg(count(lit(1)).as("n"))
    },

    Q("text_tokens_bpe",
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(lower(text), '$BpePattern')) AS BIGINT) AS n_bpe,
         |       CAST(len(list_distinct(regexp_extract_all(lower(text), '$BpePattern'))) AS BIGINT) AS n_bpe_distinct
         |FROM documents""".stripMargin) {
      (s, d) =>
        // BPE-ish tokenization: split into letter runs / digit runs /
        // single symbols (the GPT-2 pre-tokenizer shape, minus unicode
        // categories), counted per doc. The regex is class-only, so Java
        // and RE2 dialects agree.
        // group index 0 (whole match) is explicit: Spark defaults to group
        // 1 and throws on group-free patterns, DuckDB defaults to 0.
        Tables.cachedTable(s, d, "documents").select(
          col("doc_id"),
          size(expr(s"regexp_extract_all(lower(text), '$BpePattern', 0)"))
            .cast("long").as("n_bpe"),
          size(array_distinct(expr(s"regexp_extract_all(lower(text), '$BpePattern', 0)")))
            .cast("long").as("n_bpe_distinct"))
    },

    Q("text_repetition",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd,
        |         CASE WHEN len(toks) < 2 THEN []
        |              ELSE list_transform(generate_series(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1]) END AS bg
        |  FROM t),
        |top AS (
        |  SELECT doc_id, max(c) AS top_cnt FROM (
        |    SELECT doc_id, count(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |    GROUP BY doc_id, tok) GROUP BY doc_id)
        |SELECT b.doc_id,
        |       CAST(n AS BIGINT) AS n_tokens,
        |       CAST(n - nd AS BIGINT) AS n_dup_tokens,
        |       CAST(n - nd AS DOUBLE) / n AS dup_token_ratio,
        |       CASE WHEN len(bg) = 0 THEN 0.0
        |            ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
        |       END AS dup_bigram_ratio,
        |       CAST(top.top_cnt AS DOUBLE) / n AS top_token_ratio
        |FROM b JOIN top USING (doc_id)""".stripMargin) {
      (s, d) =>
        // Within-doc repetition signals (the Gopher/C4 pretraining-quality
        // family): ALL per-row HOF arithmetic, zero shuffles. The
        // most-frequent-token count is a run-length fold over the SORTED
        // token array (longest equal run of a sorted array = max
        // multiplicity) — r7: this was an explode + two keyed aggs + join
        // before, three shuffle stages of pure job overhead at toy scale
        // and a corpus×tokens row inflation through the exchange at 100 TB.
        // Null-safe prev compare (<=>): the run state seeds with NULL,
        // which no real token (including '') equals.
        val docs = Tables.cachedTable(s, d, "documents")
        val base = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .withColumn("n", size(col("toks")))
          .withColumn("nd", size(array_distinct(col("toks"))))
          .withColumn("bg", TextOps.bigrams(col("toks")))
          .withColumn("nb", size(col("bg")))
          .withColumn("nbd", size(array_distinct(col("bg"))))
          .withColumn("top_cnt", expr(
            """aggregate(array_sort(toks),
              |  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
              |  (acc, x) -> named_struct(
              |    'prev', x,
              |    'run', IF(x <=> acc.prev, acc.run + 1, 1),
              |    'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),
              |  acc -> acc.best)""".stripMargin))
        base.select(
          col("doc_id"),
          col("n").cast("long").as("n_tokens"),
          (col("n") - col("nd")).cast("long").as("n_dup_tokens"),
          ((col("n") - col("nd")).cast("double") / col("n")).as("dup_token_ratio"),
          when(col("nb") === 0, lit(0.0))
            .otherwise((col("nb") - col("nbd")).cast("double") / col("nb"))
            .as("dup_bigram_ratio"),
          (col("top_cnt").cast("double") / col("n")).as("top_token_ratio"))
    },

    Q("text_winnow",
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) < 3 THEN []
        |              ELSE list_transform(generate_series(1, len(toks) - 2),
        |                     i -> substr(sha256(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16))
        |         END AS hs
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
        |           j -> list_min(hs[j : least(j + 3, len(hs))])) AS fps
        |  FROM g WHERE len(hs) > 0)
        |SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f""".stripMargin) {
      (s, d) =>
        // Winnowing fingerprints (k=3 token shingles, window w=4): the
        // rolling-hash document fingerprinting scheme; see
        // TextOps.winnowFingerprints for the guarantee and scale shape.
        TextOps.winnowFingerprints(
          Tables.cachedTable(s, d, "documents").select("doc_id", "text"),
          k = 3, w = 4)
    },

    Q("text_kl_sources",
      """WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tk
        |             FROM documents),
        |ns AS (SELECT source, tk, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(sum(n) AS BIGINT) AS t,
        |              CAST(count(*) AS BIGINT) AS vs FROM ns GROUP BY 1),
        |nc AS (SELECT tk, CAST(sum(n) AS BIGINT) AS n FROM ns GROUP BY 1),
        |tc AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM nc),
        |term AS (SELECT ns.source, ns.n,
        |           CAST(ln(CAST(ns.n * tc.t AS DOUBLE) / CAST(ts.t * nc.n AS DOUBLE))
        |                AS DECIMAL(18,6)) AS lq
        |         FROM ns JOIN ts USING (source) JOIN nc USING (tk), tc),
        |agg AS (SELECT source, CAST(sum(n * lq) AS DOUBLE) AS s FROM term GROUP BY 1)
        |SELECT a.source, ts.t AS n_tokens, ts.vs AS vocab,
        |       round(a.s / ts.t, 5) AS kl_nats
        |FROM agg a JOIN ts USING (source)""".stripMargin) { (s, d) =>
      // Per-source vocabulary divergence from the corpus mix — KL(P_src ‖
      // P_corpus) over unigrams, the domain-mixing QA that flags a source
      // whose language drifted from the blend it was weighted into
      // (corpus ⊇ source ⇒ p_corpus > 0 wherever p_src > 0, so KL is
      // finite by construction). Determinism follows the text_ngram_lm
      // ladder: the probability ratio is ONE IEEE division of exact
      // integer products, ln is the only transcendental and is quantized
      // per term to DECIMAL(18,6); KL·T = Σ n·ln_q is then an exact
      // integer×decimal sum (order-free), divided once at the end. Shape:
      // one token explode into vocab-sized partial aggs; term join keyed
      // by token — the text_idf budget.
      val tok = Tables.cachedTable(s, d, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tk"))
      val ns = tok.groupBy(col("source"), col("tk"))
        .agg(count(lit(1)).cast("long").as("n"))
      val ts = ns.groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("t"), count(lit(1)).cast("long").as("vs"))
      val nc = ns.groupBy(col("tk")).agg(sum(col("n")).cast("long").as("nc"))
      val tc = nc.agg(sum(col("nc")).cast("long").as("tc"))
      val term = ns.join(ts, "source").join(nc, "tk").crossJoin(broadcast(tc))
        .withColumn("lq",
          log((col("n") * col("tc")).cast("double")
            / (col("t") * col("nc")).cast("double")).cast(DecimalType(18, 6)))
      term.groupBy(col("source"))
        .agg(sum(col("n") * col("lq")).cast("double").as("s"))
        .join(ts, "source")
        .select(col("source"), col("t").as("n_tokens"), col("vs").as("vocab"),
          round(col("s") / col("t"), 5).as("kl_nats"))
    },

    Q("text_ngram_lm",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                  i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |  FROM t),
        |o AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM occ),
        |c2 AS (SELECT bg, count(*) AS n2 FROM o GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS n1 FROM o GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vocab
        |      FROM (SELECT unnest(toks) AS tok FROM t)),
        |lp AS (SELECT o.doc_id,
        |         CAST(ln((c2.n2 + 1.0) / (c1.n1 + v.vocab)) AS DECIMAL(18,6)) AS lp
        |       FROM o JOIN c2 USING (bg) JOIN c1 USING (w1), v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(lp) AS DOUBLE) / count(*) AS avg_logp
        |FROM lp GROUP BY 1""".stripMargin) {
      (s, d) =>
        // Corpus-trained bigram LM quality score (the KenLM-style
        // perplexity filter of CCNet/Gopher pipelines, self-trained):
        // avg log P(w2|w1) per doc under add-one smoothing,
        // P = (c(w1 w2)+1)/(c(w1·)+V). Cross-engine determinism: the
        // probability is one IEEE division of exact counts; ln() is the
        // only transcendental and is immediately quantized per ROW to
        // DECIMAL(18,6) (absorbing any last-ulp libm difference), so the
        // per-doc sum is an exact order-free decimal sum — never a
        // float sum across rows — and the final avg is ONE division.
        // 100 TB shape: the count tables c1/c2 are vocab-sized (≪ corpus,
        // Zipf), built by map-side partial aggs; the score join shuffles
        // occurrences by bigram once. The occurrence frame is built once
        // and shared by the three consumers (per-plan-hash cache).
        val t = Tables.cachedTable(s, d, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        val occ = bigramOcc(s, d)
        val c2 = occ.groupBy("bg").agg(count(lit(1)).as("n2"))
        val c1 = occ.groupBy("w1").agg(count(lit(1)).as("n1"))
        val v = t.select(explode(col("toks")).as("tok"))
          .agg(countDistinct(col("tok")).as("vocab"))
        occ.join(c2, "bg").join(c1, "w1").crossJoin(broadcast(v))
          .withColumn("lp",
            log((col("n2") + lit(1.0)) / (col("n1") + col("vocab")))
              .cast(DecimalType(18, 6)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            (sum(col("lp")).cast("double") / count(lit(1))).as("avg_logp"))
    },

    Q("quality_perplexity",
      s"""$DocLogpCtes
        |SELECT d.doc_id, d.lang,
        |       coalesce(sc.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |       sc.avg_logp,
        |       CAST(CASE WHEN sc.doc_id IS NULL THEN 0
        |                 WHEN sc.avg_logp >= -3.425 THEN 1 ELSE 0 END AS BIGINT) AS keep,
        |       CASE WHEN sc.doc_id IS NULL THEN 'no_bigrams'
        |            WHEN sc.avg_logp >= -3.425 THEN 'ok'
        |            ELSE 'high_perplexity' END AS reason
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin) {
      (s, d) =>
        // The CCNet/Wenzek perplexity gate, self-trained: score every doc
        // by its avg bigram log-probability under the corpus LM (the SAME
        // per-row-quantized decimal-sum discipline as text_ngram_lm,
        // sharing its cached [[bigramOcc]] frame) and keep docs above
        // a fixed threshold (-3.425 ≈ the fixture's 10th percentile; a
        // production run recalibrates per corpus). Docs too short to have
        // bigrams can't be scored and are dropped with their own reason.
        // Determinism: the keep verdict compares identically-computed
        // doubles (exact decimal sum / count, ONE division) against a
        // constant — engine-exact. 100 TB shape: vocab-sized count tables
        // + one occurrence shuffle (all shared with text_ngram_lm), then a
        // doc-keyed left join back to the corpus scan.
        val docs = Tables.cachedTable(s, d, "documents")
        val sc = docLogp(s, d)
        docs.select(col("doc_id"), col("lang"))
          .join(sc, col("doc_id") === col("sc_doc_id"), "left")
          .select(
            col("doc_id"), col("lang"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            col("avg_logp"),
            when(col("sc_doc_id").isNull, 0L)
              .when(col("avg_logp") >= -3.425, 1L).otherwise(0L).as("keep"),
            when(col("sc_doc_id").isNull, "no_bigrams")
              .when(col("avg_logp") >= -3.425, "ok")
              .otherwise("high_perplexity").as("reason"))
    },

    // CCNet head/middle/tail split (r8, Wenzek et al. 2020): per language,
    // docs bucket into perplexity TERCILES (head = least perplex third —
    // the slice CCNet keeps for LM pretraining; tail = the noisy third).
    // Unlike quality_perplexity's fixed threshold this is the
    // self-calibrating form — thresholds are exact per-lang percentiles of
    // the corpus's own scores, so the split survives domain shift without
    // retuning. Rides the ONE cached per-doc LM score frame (docLogp);
    // thresholds are a langs-sized broadcast; census + ppm share are
    // integer-exact. 100 TB: score pass is shared, percentile is per-lang
    // (the agg_percentile machinery), bucket assignment is a projection.
    Q("domain_ppl_buckets",
      s"""$DocLogpCtes,
        |sl AS (SELECT d.doc_id, d.lang, sc.avg_logp
        |       FROM documents d LEFT JOIN sc USING (doc_id)),
        |th AS (SELECT lang, quantile_cont(avg_logp, 1.0/3) AS q1,
        |              quantile_cont(avg_logp, 2.0/3) AS q2
        |       FROM sl WHERE avg_logp IS NOT NULL GROUP BY 1),
        |bk AS (SELECT sl.lang,
        |              CASE WHEN sl.avg_logp IS NULL THEN 'unscored'
        |                   WHEN sl.avg_logp >= th.q2 THEN 'head'
        |                   WHEN sl.avg_logp >= th.q1 THEN 'middle'
        |                   ELSE 'tail' END AS bucket
        |       FROM sl LEFT JOIN th USING (lang)),
        |ct AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM bk GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(n_docs) AS t FROM ct GROUP BY 1)
        |SELECT ct.lang, ct.bucket, ct.n_docs,
        |       CAST(ct.n_docs * 1000000 // tot.t AS BIGINT) AS ppm
        |FROM ct JOIN tot USING (lang)""".stripMargin) { (s, d) =>
      val docs = Tables.cachedTable(s, d, "documents")
      val sl = docs.select(col("doc_id"), col("lang"))
        .join(docLogp(s, d), col("doc_id") === col("sc_doc_id"), "left")
        .select(col("lang"), col("avg_logp"))
      val th = sl.filter(col("avg_logp").isNotNull).groupBy("lang")
        .agg(percentile(col("avg_logp"), lit(1.0 / 3)).as("q1"),
          percentile(col("avg_logp"), lit(2.0 / 3)).as("q2"))
      val bk = sl.join(broadcast(th), Seq("lang"), "left")
        .select(col("lang"),
          when(col("avg_logp").isNull, "unscored")
            .when(col("avg_logp") >= col("q2"), "head")
            .when(col("avg_logp") >= col("q1"), "middle")
            .otherwise("tail").as("bucket"))
      val ct = bk.groupBy("lang", "bucket").agg(count(lit(1)).as("n_docs"))
      val tot = ct.groupBy("lang").agg(sum("n_docs").as("t"))
      ct.join(broadcast(tot), "lang")
        .select(col("lang"), col("bucket"), col("n_docs"),
          expr("CAST(n_docs * 1000000 DIV t AS BIGINT)").as("ppm"))
    },

    Q("text_idf",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |o AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM o GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.tok,
        |         CAST(tf.tf * ln((nd.n_docs * 1.0) / dfq.df) AS DECIMAL(18,6)) AS score
        |       FROM tf JOIN dfq USING (tok), nd),
        |r AS (SELECT doc_id, tok, score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, tok) AS rank
        |      FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok,
        |       CAST(score AS DOUBLE) AS score
        |FROM r WHERE rank <= 3""".stripMargin) {
      (s, d) =>
        // TF-IDF top-3 characteristic terms per doc (keyword extraction /
        // domain tagging). Determinism: tf and N/df are exact integers;
        // tf·ln(N/df) is one transcendental + one multiply per ROW,
        // quantized to DECIMAL(18,6) BEFORE ranking so both engines order
        // identical values (ties broken on the token). 100 TB shape: tf is
        // a (doc, token) partial agg; df is vocab-sized off tf (never a
        // second corpus pass); ranking windows are per-doc (bounded
        // partitions) — the n_docs scalar broadcasts.
        val docs = Tables.cachedTable(s, d, "documents")
        // tf feeds BOTH the score join and the df derivation; it is the
        // cached [[tfidfTf]], so the corpus explode+agg runs once.
        val tf = tfidfTf(s, d)
        val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val byDoc = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("tok"))
        tf.join(dfq, "tok").crossJoin(broadcast(nd))
          .withColumn("score",
            (col("tf") * log(col("n_docs") * lit(1.0) / col("df")))
              .cast(DecimalType(18, 6)))
          .withColumn("rank", row_number().over(byDoc).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("tok"),
            col("score").cast("double").as("score"))
    },

    Q("quality_gopher",
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS c
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
         |tp AS (SELECT doc_id, max(c) AS topn FROM tf GROUP BY 1),
         |m AS (SELECT doc_id, len(toks) AS n,
         |        len(list_filter(toks, x -> list_contains($duckStop, x))) AS nstop
         |      FROM t)
         |SELECT m.doc_id, CAST(n AS BIGINT) AS n_tokens,
         |       CAST(topn AS BIGINT) AS top_tok_n, CAST(nstop AS BIGINT) AS n_stop,
         |       CASE WHEN n < 12 THEN 'too_short'
         |            WHEN n > 90 THEN 'too_long'
         |            WHEN topn * 5 > n THEN 'repetition'
         |            WHEN nstop < 2 THEN 'few_stopwords'
         |            ELSE 'ok' END AS reason,
         |       CAST(CASE WHEN n >= 12 AND n <= 90 AND topn * 5 <= n
         |                  AND nstop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM m JOIN tp USING (doc_id)""".stripMargin) {
      (s, d) =>
        // The Gopher-rules document gate (Rae et al. 2021 §A1.1, adapted to
        // the fixture's ranges): length bounds, a max-token-repetition cap
        // (top token ≤ 20% of the doc), and a minimum stopword count —
        // the rule family C4's quality_filter doesn't cover. First failing
        // rule (fixed order) becomes the reject reason, so the report
        // doubles as a per-rule loss audit. Determinism: every gate is an
        // integer compare (repetition via cross-multiplication, never a
        // ratio). 100 TB shape: the (doc, token) tf agg is SHARED with
        // text_idf (same cache key -> one corpus explode serves both), the
        // top-count is a doc-keyed max over it, and the row-local counts
        // ride the corpus scan; one doc_id join, everything partial-aggs.
        val docs = Tables.cachedTable(s, d, "documents")
        val tf = tfidfTf(s, d)
        val tp = tf.groupBy("doc_id").agg(max("tf").as("topn"))
        val stopArr = array(Stopwords.map(lit): _*)
        val m = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
            size(filter(col("toks"), t => array_contains(stopArr, t)))
              .cast("long").as("nstop"))
        val reason = graft.operators.CurateOps.gopherVerdict(
          minTokens = 12, maxTokens = 90, repDen = 5, minStop = 2)
        m.join(tp, "doc_id")
          .select(col("doc_id"), col("n").as("n_tokens"),
            col("topn").cast("long").as("top_tok_n"), col("nstop").as("n_stop"),
            reason.as("reason"),
            (reason === "ok").cast("long").as("keep"))
    },

    // PII detection + redaction (r8) — the privacy gate every training
    // corpus runs before release (emails, phone numbers; production adds
    // SSNs/credit cards to the same pattern table). The fixture corpus is
    // digit-free, so the query first plants synthetic PII as a CLOSED-FORM
    // function of doc_id (the multimodal_decode trick) — both engines
    // build the identical dirty text, then both run the identical
    // leftmost-longest regexes, so the oracle checks the DETECTOR, not
    // the plant. Patterns stay in the RE2 ∩ java.util.regex common
    // dialect (no lookaround/backrefs). 100 TB shape: pure per-row
    // projection — regex scan + replace, zero shuffles; the pattern table
    // broadcasts as a constant.
    Q("text_pii_scrub", {
      val email = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
      val phone = "\\d{3}-\\d{4}"
      s"""WITH dirty AS (
         |  SELECT doc_id, lang,
         |         text ||
         |         CASE WHEN doc_id % 3 = 0
         |              THEN ' contact user' || doc_id || '@example.com now'
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 5 = 0
         |              THEN ' call 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
         |                   || ' today'
         |              ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id, lang,
         |       CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
         |       CAST(length(t) AS BIGINT) AS len_raw,
         |       CAST(length(regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
         |                                  '$phone', '<PHONE>', 'g')) AS BIGINT)
         |         AS len_scrubbed
         |FROM dirty""".stripMargin
    }) { (s, d) =>
      val email = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
      val phone = "\\d{3}-\\d{4}"
      val dirty = Tables.cachedTable(s, d, "documents").select(
        col("doc_id"), col("lang"),
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-01"),
              lpad((col("doc_id") % 100).cast("string"), 2, "0"),
              lit(" today"))).otherwise(lit(""))).as("t"))
      dirty.select(
        col("doc_id"), col("lang"),
        size(regexp_extract_all(col("t"), lit(email), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0)))
          .cast("long").as("n_phones"),
        length(col("t")).cast("long").as("len_raw"),
        length(regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
          phone, "<PHONE>")).cast("long").as("len_scrubbed"))
    },

    Q("text_scrub_blocklist",
      s"""SELECT doc_id, lang,
         |       CAST(len(regexp_extract_all(text, '$ScrubPattern')) AS BIGINT)
         |         AS n_redacted,
         |       regexp_replace(text, '$ScrubPattern', '$ScrubMask', 'g')
         |         AS clean_text
         |FROM documents""".stripMargin) {
      (s, d) =>
        // Blocklist term scrubbing — the C4/CCNet "clean before train"
        // masking step (the same machinery a PII pass uses: swap the term
        // alternation for email/phone/IP patterns; this fixture has no
        // synthetic PII, so the blocklist targets terms that actually
        // occur). Every doc is emitted with its redaction count and the
        // masked text, so downstream stages can gate on n_redacted or
        // consume clean_text directly. Regex is dialect-neutral (word
        // boundaries + a literal alternation — identical in Java regex and
        // RE2), replacement is global in both engines (Spark
        // regexp_replace is always global; DuckDB needs the 'g' flag).
        // 100 TB shape: a pure per-row projection — zero shuffles, zero
        // joins, codegen'd end to end (PlanSpec-pinned), so it rides along
        // any scan at IO cost.
        graft.operators.CurateOps
          .scrub(Tables.cachedTable(s, d, "documents"), ScrubPattern, ScrubMask)
          .select("doc_id", "lang", "n_redacted", "clean_text")
    },

    // Weighted-cosine all-pairs similarity join (r8i; Bayardo, Ma & Srikant
    // 2007 / PPJoin symmetric prefix) — the SPARSE-vector sibling of
    // sim_join_threshold's dense-embedding join and the weighted upgrade of
    // dedup_near's set Jaccard: 3-gram tf-weighted cosine ≥ 0.9 over the
    // corpus. Dims are word TRIGRAMS, not unigrams, for the same reason
    // every dedup family here shingles: prefix filtering prunes through
    // DIMENSIONALITY, and this corpus's 31-word unigram vocabulary makes
    // every posting bucket corpus-sized (measured: 11.9M candidates and
    // 19.5s at sf0.1 on unigrams vs 110K candidates on trigrams — max
    // prefix bucket 8). The oracle is deliberately the NAIVE all-pairs
    // formulation — TextOps.cosinePairs' norm-prefix candidate generation
    // is provably lossless (rarest-first global order; a pair missed by
    // both prefixes has all shared weight in a tail with ‖tail‖ < τ‖x‖,
    // Cauchy–Schwarz kills it), so matching the naive oracle is exactly
    // the losslessness claim under test. Integer determinism ladder: tf
    // weights → exact BIGINT dot/norms², division-free τ gate
    // (den²·dot² ≥ num²·na²·nb²), cosine = one IEEE sqrt/mul/div tree.
    Q("sim_join_sparse",
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id,
        |               unnest(CASE WHEN len(w) < 3 THEN []
        |                           ELSE list_transform(
        |                             list_zip(w[1:-3], w[2:-2], w[3:-1]),
        |                             x -> x[1] || ' ' || x[2] || ' ' || x[3])
        |                      END) AS token
        |        FROM d),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |n2 AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM tf GROUP BY 1),
        |dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |               SUM(a.tf * b.tf) AS dot
        |        FROM tf a JOIN tf b
        |          ON a.token = b.token AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
        |       CAST(x.n2 AS BIGINT) AS na2, CAST(y.n2 AS BIGINT) AS nb2,
        |       CAST(dot AS DOUBLE) /
        |         (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS cos_sim
        |FROM dot JOIN n2 x ON doc_a = x.doc_id JOIN n2 y ON doc_b = y.doc_id
        |WHERE 100 * dot * dot >= 81 * x.n2 * y.n2""".stripMargin) { (s, d) =>
      TextOps.cosinePairs(
        Tables.cachedTable(s, d, "documents").select("doc_id", "text"),
        tauNum = 9, tauDen = 10,
        dims = c => TextOps.trigrams(TextOps.tokens(c)))
    },

    Q("text_bm25",
      """WITH q(query_id, qtext) AS (VALUES
        |    (1, 'spark customer query'), (2, 'vector data'), (3, 'merge sort window')),
        |qt AS (SELECT CAST(query_id AS BIGINT) AS query_id,
        |              unnest(string_split(qtext, ' ')) AS tok FROM q),
        |tf AS (SELECT doc_id, tok, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |             FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total FROM dl),
        |term AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(CAST(ln((n_docs - df + 0.5) / (df + 0.5)) AS DECIMAL(18,6)) AS DOUBLE)
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl * n_docs) / total)))
        |      AS sraw
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok) JOIN dl USING (doc_id), sc),
        |agg AS (SELECT query_id, doc_id, sum(CAST(sraw AS DECIMAL(18,6))) AS score
        |        FROM term GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY score DESC, doc_id) AS rank
        |      FROM agg)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       CAST(score AS DOUBLE) AS score
        |FROM r WHERE rank <= 5""".stripMargin) {
      (s, d) =>
        // BM25 top-k retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75) —
        // the lexical ranking a curation pipeline uses to pull
        // domain-targeted documents (and the lexical half of any
        // hybrid-retrieval fusion). Fixed 3-query fixture; score per
        // (query, doc) sums idf(t)·tf-saturation(t) over matched terms.
        // Cross-engine determinism: ln() — the only transcendental — is
        // quantized per row to DECIMAL(18,6) the moment it is computed;
        // every other op is an identically-parenthesized IEEE double
        // product/quotient of exact integers, so the per-term score is
        // bit-identical, the per-(query,doc) sum is an exact decimal sum,
        // and ranking ties break on doc_id. 100 TB shape: tf is the SAME
        // cached (doc, token) agg text_idf/quality_gopher share; dl and
        // the (n_docs, total) scalar derive off it (no second corpus
        // pass); df is vocab-sized; the query side broadcasts into the
        // posting join and top-k is the two-phase bucketed form — no
        // global sort, no driver-side state.
        TextOps.topKPerGroup(bm25Scores(s, d), Seq("query_id"),
            Seq(col("score").desc, col("doc_id")), k = 5, bucketOn = col("doc_id"))
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("score").cast("double").as("score"))
    },

    Q("rank_fusion",
      """WITH q(query_id, qtext) AS (VALUES
        |    (1, 'spark customer query'), (2, 'vector data'), (3, 'merge sort window')),
        |qt AS (SELECT CAST(query_id AS BIGINT) AS query_id,
        |              unnest(string_split(qtext, ' ')) AS tok FROM q),
        |tf AS (SELECT doc_id, tok, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |             FROM documents) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total FROM dl),
        |term AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(CAST(ln((n_docs - df + 0.5) / (df + 0.5)) AS DECIMAL(18,6)) AS DOUBLE)
        |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl * n_docs) / total)))
        |      AS sraw
        |  FROM qt JOIN tf USING (tok) JOIN dfq USING (tok) JOIN dl USING (doc_id), sc),
        |bagg AS (SELECT query_id, doc_id, sum(CAST(sraw AS DECIMAL(18,6))) AS score
        |         FROM term GROUP BY 1, 2),
        |bt AS (SELECT query_id, doc_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, doc_id) AS r
        |       FROM bagg QUALIFY r <= 20),
        |jm AS (SELECT query_id, tf.doc_id, count(*) AS m
        |       FROM qt JOIN tf USING (tok) GROUP BY 1, 2),
        |nd AS (SELECT doc_id, count(*) AS nd FROM tf GROUP BY 1),
        |nq AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY 1),
        |jt AS (SELECT query_id, doc_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY CAST(m AS DOUBLE) / (nq + nd - m) DESC,
        |                                     doc_id) AS r
        |       FROM jm JOIN nd USING (doc_id) JOIN nq USING (query_id)
        |       QUALIFY r <= 20),
        |u AS (SELECT coalesce(b.query_id, j.query_id) AS query_id,
        |             coalesce(b.doc_id, j.doc_id) AS doc_id,
        |             CAST(b.r AS BIGINT) AS bm25_rank, CAST(j.r AS BIGINT) AS jac_rank
        |      FROM bt b FULL OUTER JOIN jt j
        |        ON b.query_id = j.query_id AND b.doc_id = j.doc_id),
        |f AS (SELECT *, coalesce(1000000000000 // (60 + bm25_rank), 0)
        |              + coalesce(1000000000000 // (60 + jac_rank), 0) AS rrf
        |      FROM u),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY rrf DESC, doc_id) AS rank
        |      FROM f)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       CAST(rrf AS BIGINT) AS rrf, bm25_rank, jac_rank
        |FROM r WHERE rank <= 10""".stripMargin) {
      (s, d) =>
        // Reciprocal-rank fusion (Cormack et al. SIGIR'09) of two
        // retrieval systems over the same query fixture: BM25 (term
        // saturation) and query-token Jaccard (set overlap) — the hybrid
        // merge every lexical+X retrieval stack needs. Each system
        // contributes floor(1e12 / (60 + rank)) for its top-20; absent
        // docs contribute 0. Scaled-integer floor division makes the
        // fused score BIGINT-exact in both engines — no float summation
        // anywhere. Jaccard's ingredients all derive off the shared tf
        // cache (m = posting hits, nd = distinct tokens/doc, nq
        // broadcast); its one double division of exact integers is
        // IEEE-identical cross-engine, ties on doc_id. 100 TB shape: two
        // rank lists (each two-phase top-k per query), one
        // (query, doc)-keyed full-outer join of 20-row-per-query frames,
        // one more bounded top-k — nothing corpus-sized past the posting
        // joins.
        // The merged rank-list frame is this key's retrieval "index"
        // (two top-20 legs per query, ≤120 rows): built once per dir and
        // cached like the other shared intermediates (tfidfTf,
        // bm25-scores, knn3), so the steady-state cost is the bounded
        // fused top-k alone — the shape a serving layer would hit.
        val u = Tables.cached(s, s"$d/fusion-ranks") {
          val tf = tfidfTf(s, d)
          val qt = queryTerms(s)
          val bt = TextOps.topKPerGroup(bm25Scores(s, d), Seq("query_id"),
              Seq(col("score").desc, col("doc_id")), k = 20, bucketOn = col("doc_id"))
            .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
          val jm = broadcast(qt).join(tf, "tok")
            .groupBy("query_id", "doc_id").agg(count(lit(1)).as("m"))
          val nd = tf.groupBy("doc_id").agg(count(lit(1)).as("nd"))
          val nq = qt.groupBy("query_id").agg(count(lit(1)).as("nq"))
          val jac = jm.join(nd, "doc_id").join(broadcast(nq), "query_id")
            .withColumn("jac",
              col("m").cast("double") / (col("nq") + col("nd") - col("m")))
          val jt = TextOps.topKPerGroup(jac, Seq("query_id"),
              Seq(col("jac").desc, col("doc_id")), k = 20, bucketOn = col("doc_id"))
            .select(col("query_id"), col("doc_id"), col("rank").as("jac_rank"))
          bt.join(jt, Seq("query_id", "doc_id"), "full_outer")
            .withColumn("rrf",
              coalesce(expr("1000000000000 div (60 + bm25_rank)"), lit(0L)) +
                coalesce(expr("1000000000000 div (60 + jac_rank)"), lit(0L)))
        }
        TextOps.topKPerGroup(u, Seq("query_id"),
            Seq(col("rrf").desc, col("doc_id")), k = 10, bucketOn = col("doc_id"))
          .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
            col("bm25_rank"), col("jac_rank"))
    },

    Q("dsir_importance",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                  i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |  FROM t),
        |o AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM occ),
        |tl AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |tocc AS (SELECT o.* FROM o JOIN tl USING (doc_id)),
        |c2r AS (SELECT bg, count(*) AS n2r FROM o GROUP BY 1),
        |c1r AS (SELECT w1, count(*) AS n1r FROM o GROUP BY 1),
        |c2t AS (SELECT bg, count(*) AS n2t FROM tocc GROUP BY 1),
        |c1t AS (SELECT w1, count(*) AS n1t FROM tocc GROUP BY 1),
        |v AS (SELECT
        |        (SELECT count(DISTINCT tok)
        |         FROM (SELECT unnest(toks) AS tok FROM t)) AS vocab_r,
        |        (SELECT count(DISTINCT tok)
        |         FROM (SELECT unnest(toks) AS tok FROM t JOIN tl USING (doc_id)))
        |          AS vocab_t),
        |lr AS (SELECT o.doc_id,
        |         CAST(ln((coalesce(n2t, 0) + 1.0) / (coalesce(n1t, 0) + vocab_t))
        |              AS DECIMAL(18,6))
        |       - CAST(ln((n2r + 1.0) / (n1r + vocab_r)) AS DECIMAL(18,6)) AS lr
        |       FROM o JOIN c2r USING (bg) JOIN c1r USING (w1)
        |         LEFT JOIN c2t USING (bg) LEFT JOIN c1t USING (w1), v),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(sum(lr) AS DOUBLE) / count(*) AS avg_logratio
        |       FROM lr GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |       coalesce(sc.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |       sc.avg_logratio,
        |       CAST(CASE WHEN sc.avg_logratio >= 0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS keep
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin) {
      (s, d) =>
        // DSIR importance weights (Xie et al. 2023): per-doc average
        // log-ratio of a TARGET-domain bigram LM (here: the en subset
        // standing in for "high-quality target distribution") against the
        // raw-corpus LM, both add-one smoothed with their own vocab — the
        // hashed-ngram importance-resampling selector that picks
        // target-like documents out of a web crawl. keep = ratio >= 0
        // (more target-like than corpus-average). Determinism: the
        // quality_perplexity ladder twice — each ln is one IEEE division
        // of exact counts quantized per ROW to DECIMAL(18,6); the
        // log-ratio is an exact decimal difference, the per-doc sum an
        // exact decimal sum, the avg ONE division. 100 TB shape: the
        // occurrence frame is the SAME cached bigram explode
        // text_ngram_lm/quality_perplexity share; all four count tables
        // are vocab-sized map-side partial aggs (target counts off the
        // filtered occurrences — the corpus is never re-scanned); the
        // scalar vocab pair broadcasts.
        val docs = Tables.cachedTable(s, d, "documents")
        val t = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        val occ = bigramOcc(s, d)
        val target = docs.filter(col("lang") === "en").select("doc_id")
        val tocc = occ.join(target, "doc_id")
        val c2r = occ.groupBy("bg").agg(count(lit(1)).as("n2r"))
        val c1r = occ.groupBy("w1").agg(count(lit(1)).as("n1r"))
        val c2t = tocc.groupBy("bg").agg(count(lit(1)).as("n2t"))
        val c1t = tocc.groupBy("w1").agg(count(lit(1)).as("n1t"))
        val vr = t.select(explode(col("toks")).as("tok"))
          .agg(countDistinct(col("tok")).as("vocab_r"))
        val vt = t.join(target, "doc_id").select(explode(col("toks")).as("tok"))
          .agg(countDistinct(col("tok")).as("vocab_t"))
        val lr = occ
          .join(c2r, "bg").join(c1r, "w1")
          .join(c2t, Seq("bg"), "left").join(c1t, Seq("w1"), "left")
          .crossJoin(broadcast(vr.crossJoin(vt)))
          .withColumn("lr",
            log((coalesce(col("n2t"), lit(0L)) + lit(1.0)) /
                (coalesce(col("n1t"), lit(0L)) + col("vocab_t")))
              .cast(DecimalType(18, 6))
            - log((col("n2r") + lit(1.0)) / (col("n1r") + col("vocab_r")))
              .cast(DecimalType(18, 6)))
        val perDoc = lr.groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            (sum(col("lr")).cast("double") / count(lit(1))).as("avg_logratio"))
        docs.select("doc_id", "lang").join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            col("avg_logratio"),
            when(col("avg_logratio") >= 0, lit(1L)).otherwise(lit(0L)).as("keep"))
    },

    // FORCAST readability (Caylor et al. 1973): grade = 20 − mono/10 per
    // 150 words — the one classic readability formula that needs NO
    // sentence boundaries, which is exactly this fixture (word-soup text,
    // zero [.!?] anywhere — verified). Syllable proxy = maximal vowel
    // runs per token, the standard heuristic. Score kept integer-exact:
    // grade_micro = 20e6 − (mono·15e6) div words (truncating BIGINT
    // division, identical in both engines).
    Q("text_readability",
      """WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
        |           FROM documents)
        |SELECT doc_id, lang,
        |       CAST(len(toks) AS BIGINT) AS n_words,
        |       CAST(list_sum(list_transform(toks,
        |              w -> len(regexp_extract_all(w, '[aeiou]+')))) AS BIGINT)
        |         AS n_syllables,
        |       CAST(len(list_filter(toks,
        |              w -> len(regexp_extract_all(w, '[aeiou]+')) = 1)) AS BIGINT)
        |         AS n_mono,
        |       20000000 - (CAST(len(list_filter(toks,
        |              w -> len(regexp_extract_all(w, '[aeiou]+')) = 1)) AS BIGINT)
        |            * 15000000) // CAST(len(toks) AS BIGINT) AS grade_micro
        |FROM t""".stripMargin) {
      (s, d) =>
        // Pure per-row HOF arithmetic — zero shuffles, zero joins, stays
        // inside whole-stage codegen; the 100 TB cost is one corpus scan.
        val sylls = (w: org.apache.spark.sql.Column) =>
          size(regexp_extract_all(w, lit("[aeiou]+"), lit(0)))
        Tables.cachedTable(s, d, "documents")
          .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("lang"),
            size(col("toks")).cast("long").as("n_words"),
            aggregate(transform(col("toks"), w => sylls(w)), lit(0L),
              (acc, x) => acc + x).as("n_syllables"),
            size(filter(col("toks"), w => sylls(w) === 1)).cast("long").as("n_mono"))
          .withColumn("grade_micro",
            lit(20000000L) - expr("(n_mono * 15000000L) div n_words"))
    },

    // Tokenizer-fertility report (r7) — the tokenizer-efficiency audit a
    // multilingual pipeline runs before committing to a vocabulary (Rust
    // et al. 2021): per language, subword tokens per whitespace word
    // (fertility) and chars per subword token. High fertility on a
    // language means its text costs proportionally more context budget —
    // the signal behind per-language token accounting and vocab rebalance.
    // Subword model = max-4-char chunks, ⌈len(w)/4⌉ per word (a fixed
    // char-chunk tokenizer; the BPE regex is degenerate on this all-lower
    // single-space fixture — it reproduces whitespace tokens exactly, so
    // its fertility is identically 1). Integer-exact: BIGINT sums, each
    // reported ratio ONE integer ppm division.
    // Corpus-saturation / novelty curve (r8) — "is more data still adding
    // anything new": per doc (in ingest = doc_id order), the fraction of
    // its distinct bigrams appearing for the FIRST time in the corpus.
    // The macro signal behind data-scaling decisions (novelty decaying to
    // ~0 ⇒ the source is mined out ⇒ stop crawling it); reported per
    // source so the decision is actionable. First-occurrence attribution
    // is a bigram-keyed min(doc_id) — one vocab-sized agg on the SAME
    // cached [[bigramOcc]] frame the LM family shares; novelty is an
    // integer ppm ratio.
    Q("text_ngram_novelty",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                  i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |  FROM t),
        |db AS (SELECT DISTINCT doc_id, bg FROM occ),
        |fo AS (SELECT bg, min(doc_id) AS first_doc FROM db GROUP BY 1),
        |nv AS (SELECT db.doc_id,
        |              count(*) AS n_bigrams,
        |              sum(CASE WHEN fo.first_doc = db.doc_id THEN 1 ELSE 0 END) AS n_new
        |       FROM db JOIN fo USING (bg) GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(nv.n_bigrams) AS BIGINT) AS n_bigrams,
        |       CAST(sum(nv.n_new) AS BIGINT) AS n_new,
        |       CAST(sum(nv.n_new) * 1000000 // sum(nv.n_bigrams) AS BIGINT)
        |         AS novelty_ppm
        |FROM nv JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.cachedTable(s, d, "documents")
      val occ = bigramOcc(s, d)
      val db = occ.select("doc_id", "bg").distinct()
      val fo = db.groupBy("bg").agg(min("doc_id").as("first_doc"))
      val nv = db.join(fo, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
      nv.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_bigrams").cast("long").as("n_bigrams"),
          sum("n_new").cast("long").as("n_new"))
        .withColumn("novelty_ppm",
          expr("CAST(n_new * 1000000 DIV n_bigrams AS BIGINT)"))
    },

    // Vocabulary-coverage / OOV-rate eval (r8) — the tokenizer-QA twin of
    // tokenizer_fertility: fix the vocab to the corpus's top-20 tokens by
    // total frequency (ties by token — deterministic) and report, per
    // language, how many token OCCURRENCES and distinct TYPES fall
    // outside it. The production question is "does my tokenizer's vocab
    // cover the incoming language mix"; rising oov_ppm per lang is the
    // drift alarm. Integer-exact: counts + ppm by integer division.
    // 100 TB shape: rides the shared cached (doc, tok) tf frame; the
    // vocab is a top-k (TakeOrderedAndProject) broadcast as a tiny
    // coverage map; one lang-keyed agg.
    Q("tokenizer_oov",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |o AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM o GROUP BY 1, 2),
        |tot AS (SELECT tok, sum(tf) AS n FROM tf GROUP BY 1),
        |voc AS (SELECT tok FROM tot ORDER BY n DESC, tok LIMIT 20),
        |x AS (SELECT d.lang, tf.tok, tf.tf,
        |             CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM tf JOIN documents d USING (doc_id)
        |      LEFT JOIN voc v ON v.tok = tf.tok)
        |SELECT lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN oov = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(count(DISTINCT CASE WHEN oov = 1 THEN tok END) AS BIGINT)
        |         AS n_oov_types,
        |       CAST(sum(CASE WHEN oov = 1 THEN tf ELSE 0 END) * 1000000
        |            // sum(tf) AS BIGINT) AS oov_ppm
        |FROM x GROUP BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.cachedTable(s, d, "documents")
      val tf = tfidfTf(s, d)
      val voc = tf.groupBy("tok").agg(sum("tf").as("n"))
        .orderBy(col("n").desc, col("tok")).limit(20)
        .select(col("tok"), lit(1).as("in_voc"))
      val x = tf.join(docs.select("doc_id", "lang"), "doc_id")
        .join(broadcast(voc), Seq("tok"), "left")
      x.groupBy("lang")
        .agg(sum("tf").cast("long").as("n_tokens"),
          sum(when(col("in_voc").isNull, col("tf")).otherwise(lit(0L)))
            .cast("long").as("n_oov"),
          countDistinct(when(col("in_voc").isNull, col("tok")))
            .cast("long").as("n_oov_types"))
        .withColumn("oov_ppm",
          expr("CAST(n_oov * 1000000 DIV n_tokens AS BIGINT)"))
    },

    Q("tokenizer_fertility",
      """WITH t AS (
        |  SELECT lang,
        |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws,
        |         CAST(list_aggregate(list_transform(string_split(lower(text), ' '),
        |                                            w -> (length(w) + 3) // 4),
        |                             'sum') AS BIGINT) AS n_sub,
        |         CAST(n_chars AS BIGINT) AS nc
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
        |       CAST(sum(n_sub) AS BIGINT) AS subword_tokens,
        |       CAST(sum(n_sub) * 1000000 // sum(n_ws) AS BIGINT) AS fertility_ppm,
        |       CAST(sum(nc) * 1000000 // sum(n_sub) AS BIGINT) AS chars_per_token_ppm
        |FROM t GROUP BY lang""".stripMargin) {
      (s, d) =>
        // Pure per-row HOF counting riding one corpus scan (the token
        // arrays never exist as rows — no explode) into a langs-sized
        // map-side-combinable agg.
        Tables.cachedTable(s, d, "documents")
          .select(col("lang"), TextOps.tokens(col("text")).as("toks"),
                  col("n_chars").cast("long").as("nc"))
          .select(col("lang"), col("nc"),
            size(col("toks")).cast("long").as("n_ws"),
            aggregate(transform(col("toks"),
                w => floor((length(w) + lit(3)) / lit(4)).cast("long")),
              lit(0L), (acc, x) => acc + x).as("n_sub"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum("n_ws").cast("long").as("ws_tokens"),
               sum("n_sub").cast("long").as("subword_tokens"),
               sum("nc").cast("long").as("sum_nc"))
          .select(col("lang"), col("n_docs"), col("ws_tokens"), col("subword_tokens"),
            expr("subword_tokens * 1000000 div ws_tokens").as("fertility_ppm"),
            expr("sum_nc * 1000000 div subword_tokens").as("chars_per_token_ppm"))
    },

    // Per-SOURCE boilerplate detection (r8b) — the CCNet/RefinedWeb
    // cleanup step the corpus-wide span dedup (dedup_lines) is not:
    // headers, footers, and cookie banners repeat across one domain's
    // pages, so a span is "boilerplate" when it appears in ≥ 10% of its
    // OWN source's docs (and ≥ 3 of them — the absolute floor keeps a
    // 5-doc source from flagging every shared bigram). Span = 2-token
    // shingle on this boundary-free fixture (real pages would use lines).
    // Report: per doc, total spans, boilerplate-hit spans, exact-ppm
    // ratio — simultaneously the strip plan and the contamination audit.
    Q("text_boilerplate",
      """WITH t AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, unnest(CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                  i -> toks[i] || ' ' || toks[i+1]) END) AS sp
        |  FROM t),
        |srcn AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |df AS (SELECT source, sp, count(DISTINCT doc_id) AS df FROM s GROUP BY 1, 2),
        |boiler AS (SELECT source, sp FROM df JOIN srcn USING (source)
        |           WHERE df >= 3 AND df * 10 >= n_docs),
        |per AS (SELECT s.doc_id, count(*) AS n_spans,
        |               sum(CASE WHEN b.sp IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        |        FROM s LEFT JOIN boiler b ON s.source = b.source AND s.sp = b.sp
        |        GROUP BY 1)
        |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
        |       CAST(n_boiler AS BIGINT) AS n_boiler,
        |       CAST(n_boiler * 1000000 // n_spans AS BIGINT) AS boiler_ppm
        |FROM per""".stripMargin) {
      (s, d) =>
        // Scale shape: ONE span explode feeds both the document-frequency
        // agg and the per-doc probe (cached — the text column never
        // shuffles, only (doc, source, span) rows); the boilerplate set is
        // per-source-vocabulary-sized (hundreds of rows at any corpus
        // scale — a frequency cut, not a corpus product) and BROADCASTS
        // to the probe, so the whole query is two map-side-combinable
        // aggs + one broadcast join. At 100 TB nothing here is quadratic:
        // df is a (source, span)-keyed count, never a pair join.
        val docs = Tables.cachedTable(s, d, "documents")
        val spans = Tables.cached(s, s"$d/boiler-spans") {
          docs.select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("toks"))
            .select(col("doc_id"), col("source"),
              explode(expr("CASE WHEN size(toks) < 2 THEN array() " +
                "ELSE transform(sequence(0, size(toks) - 2), " +
                "i -> concat(toks[i], ' ', toks[i+1])) END")).as("sp"))
        }
        val srcn = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val boiler = spans.groupBy("source", "sp")
          .agg(countDistinct(col("doc_id")).as("df"))
          .join(broadcast(srcn), Seq("source"))
          .filter(col("df") >= 3 && col("df") * 10 >= col("n_docs"))
          .select(col("source"), col("sp"), lit(1).as("is_b"))
        spans.join(broadcast(boiler), Seq("source", "sp"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(coalesce(col("is_b"), lit(0))).cast("long").as("n_boiler"))
          .select(col("doc_id"), col("n_spans"), col("n_boiler"),
            expr("n_boiler * 1000000 div n_spans").as("boiler_ppm"))
    },

    // T5-style SPAN CORRUPTION (r8b, Raffel et al. 2020 §3.1.4) — the
    // denoising-objective data transform: mask fixed spans (3 tokens
    // every 10 — deterministic here so the oracle can rebuild both
    // strings; production would hash-seed the offsets), replace each span
    // with a sentinel <x_k>, and emit the (corrupted, target) pair —
    // corrupted feeds the encoder, target is sentinel+original-span
    // concatenation for the decoder. The full output strings are in the
    // hash gate, so an off-by-one span boundary, sentinel numbering slip,
    // or join-order bug flips it.
    Q("text_span_corruption",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |parts AS (
        |  SELECT doc_id, n,
        |    list_transform(generate_series(1, n), pos ->
        |      CASE WHEN (pos - 1) % 10 = 0
        |             THEN '<x_' || CAST((pos - 1) // 10 AS VARCHAR) || '>'
        |           WHEN (pos - 1) % 10 <= 2 THEN NULL
        |           ELSE toks[pos] END) AS corr_parts,
        |    list_transform(generate_series(1, n), pos ->
        |      CASE WHEN (pos - 1) % 10 = 0
        |             THEN '<x_' || CAST((pos - 1) // 10 AS VARCHAR) || '> ' || toks[pos]
        |           WHEN (pos - 1) % 10 <= 2 THEN toks[pos]
        |           ELSE NULL END) AS tgt_parts
        |  FROM p)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(tgt_parts, x -> x IS NOT NULL)) AS BIGINT)
        |         AS n_masked,
        |       array_to_string(list_filter(corr_parts, x -> x IS NOT NULL), ' ')
        |         AS corrupted,
        |       array_to_string(list_filter(tgt_parts, x -> x IS NOT NULL), ' ')
        |         AS target
        |FROM parts""".stripMargin) { (s, d) =>
      // Pure per-row HOF arithmetic — no shuffle anywhere, no UDF (stays
      // inside whole-stage codegen): at 100 TB this is a map-only pass
      // whose output is the training corpus itself, exactly the shape a
      // downstream pack_sequences consumes.
      Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          expr("CAST(size(filter(sequence(1, size(toks)), " +
            "pos -> (pos - 1) % 10 <= 2)) AS BIGINT)").as("n_masked"),
          expr("""array_join(filter(transform(sequence(1, size(toks)), pos ->
            |  CASE WHEN (pos - 1) % 10 = 0
            |         THEN concat('<x_', CAST((pos - 1) DIV 10 AS STRING), '>')
            |       WHEN (pos - 1) % 10 <= 2 THEN NULL
            |       ELSE element_at(toks, pos) END), x -> x IS NOT NULL), ' ')"""
            .stripMargin).as("corrupted"),
          expr("""array_join(filter(transform(sequence(1, size(toks)), pos ->
            |  CASE WHEN (pos - 1) % 10 = 0
            |         THEN concat('<x_', CAST((pos - 1) DIV 10 AS STRING), '> ',
            |                     element_at(toks, pos))
            |       WHEN (pos - 1) % 10 <= 2 THEN element_at(toks, pos)
            |       ELSE NULL END), x -> x IS NOT NULL), ' ')"""
            .stripMargin).as("target"))
    },

    // SLIDING-WINDOW CHUNKING (r8g) — the retrieval-prep transform between
    // curation and embedding: split each doc into fixed 64-token windows
    // with stride 48 (16-token overlap so no passage straddles a boundary
    // unseen), emit (doc_id, chunk_id, start_pos, n_chunk_tokens,
    // chunk_text). Chunk starts are sequence(1, n, 48) in BOTH engines
    // (inclusive, stepped), and both engines' list slicing clamps at the
    // array end, so the tail chunk is shorter, never padded — the full
    // chunk strings ride the hash gate, pinning boundary arithmetic
    // exactly. Scale: pure per-row HOF explode — map-only, the output IS
    // the embedding-job input; ~n/48 rows per doc, no shuffle anywhere.
    Q("text_chunk_sliding",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |c AS (SELECT doc_id, s,
        |             array_to_string(t[s:s+63], ' ') AS chunk_text,
        |             len(t[s:s+63]) AS n_chunk_tokens
        |      FROM t, LATERAL unnest(generate_series(1, len(t), 48)) AS u(s))
        |SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
        |       CAST(s AS BIGINT) AS start_pos,
        |       CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens, chunk_text
        |FROM c""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(expr("sequence(1, size(toks), 48)")).as("s"),
          col("toks"))
        .select(col("doc_id"),
          expr("CAST((s - 1) div 48 AS BIGINT)").as("chunk_id"),
          col("s").cast("long").as("start_pos"),
          expr("CAST(size(slice(toks, s, 64)) AS BIGINT)").as("n_chunk_tokens"),
          expr("concat_ws(' ', slice(toks, s, 64))").as("chunk_text"))
    },

    // DEFLATE compressibility (r8g) — the quality signal no token-ratio
    // proxy catches: templated/boilerplate text deflates far below
    // natural prose, near-random noise refuses to compress
    // (Gopher/RefinedWeb both gate on it). Row-local Deflater behind one
    // mapPartitions batch (TextOps.compressibility) — map-only at any
    // scale. Byte counts are codec-version-specific → spec-gated
    // (PipelineSpec pins repetitive < natural < shuffled-unique ordering
    // and run-to-run determinism), not oracle-gated.
    Q.noOracle("text_compressibility") { (s, d) =>
      val out = TextOps.compressibility(
        Tables.cachedTable(s, d, "documents").select("doc_id", "text"))
      // In-query band (r9 ask #7) from the DEFLATE format guarantee: the
      // stream is never empty (header+trailer ≥ a few bytes) and stored-
      // block fallback bounds expansion at ~5 bytes per 64 KiB block plus
      // constant overhead — n_deflated ≤ n_bytes + 64 holds for any input.
      // A codec/plumbing regression (truncated stream, double-compress,
      // charset mangling) trips one of the two arms.
      graft.Q.requireBand(out,
        col("n_deflated") >= 1 &&
          col("n_deflated") <= col("n_bytes") + (col("n_bytes") / 1024) + 64,
        "text_compressibility: deflated size outside DEFLATE's structural bounds")
    },

    // Lexical-richness QA (r8g): hapax-legomenon share and type-token
    // ratio per language. A shrinking hapax share (or TTR) across crawl
    // snapshots is the canonical early signal of template/boilerplate
    // flooding — the vocabulary stops growing while token mass does —
    // complementing text_zipf's rank-slope fit with two pure-count
    // ratios. Exactness ladder: every numerator/denominator is a BIGINT
    // count; the ppm shares are integer floor-division, so no float ever
    // enters. 100 TB shape: one corpus explode into the (lang, token)
    // partial agg (map-side combine collapses repeats), then a vocab-
    // sized agg per language — same budget as text_tokens; the final
    // frame is |langs| rows.
    Q("text_hapax",
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT lang,
        |       CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
        |            AS BIGINT) AS hapax_ppm,
        |       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm
        |FROM tc GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("n_hapax * 1000000 div n_types").as("hapax_ppm"),
          expr("n_types * 1000000 div n_tokens").as("ttr_ppm"))
    },

    // Gibberish detection (r9) — the OCR-garbage / mojibake / key-mash
    // gate quality scoring needs BEFORE language-ID (langid confidently
    // mislabels noise): per doc, the max consonant-run length (real words
    // rarely chain >4 consonants; base64 blobs and OCR noise do), the
    // vowel share of alpha chars, and the alpha share of all chars — all
    // exact integers off two regex projections, verdict = one integer
    // threshold test. Regexes live in the Java∩RE2 dialect (char classes
    // + '+' only — the pii/blocklist convention). 100 TB: pure per-row
    // projection, zero shuffles, codegen'd end to end.
    Q("text_gibberish",
      """WITH f AS (
        |  SELECT doc_id,
        |         coalesce(list_max(list_transform(
        |           regexp_extract_all(lower(text), '[bcdfghjklmnpqrstvwxyz]+'),
        |           x -> length(x))), 0) AS max_consonant_run,
        |         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
        |         length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS n_vowel,
        |         length(text) AS n_total
        |  FROM documents)
        |SELECT doc_id, CAST(max_consonant_run AS BIGINT) AS max_consonant_run,
        |       CAST(n_vowel * 1000000 // greatest(n_alpha, 1) AS BIGINT) AS vowel_ppm,
        |       CAST(n_alpha * 1000000 // greatest(n_total, 1) AS BIGINT) AS alpha_ppm,
        |       CASE WHEN max_consonant_run >= 5
        |              OR n_vowel * 1000000 // greatest(n_alpha, 1) < 250000
        |            THEN 1 ELSE 0 END AS gibberish
        |FROM f""".stripMargin) { (s, d) =>
      Tables.cachedTable(s, d, "documents")
        .select(col("doc_id"),
          coalesce(array_max(expr(
            """transform(regexp_extract_all(lower(text),
              |  '[bcdfghjklmnpqrstvwxyz]+', 0), x -> length(x))""".stripMargin)),
            lit(0)).cast("long").as("max_consonant_run"),
          length(regexp_replace(lower(col("text")), "[^a-z]", "")).as("n_alpha"),
          length(regexp_replace(lower(col("text")), "[^aeiou]", "")).as("n_vowel"),
          length(col("text")).as("n_total"))
        .select(col("doc_id"), col("max_consonant_run"),
          expr("CAST(n_vowel * 1000000 div greatest(n_alpha, 1) AS BIGINT)")
            .as("vowel_ppm"),
          expr("CAST(n_alpha * 1000000 div greatest(n_total, 1) AS BIGINT)")
            .as("alpha_ppm"),
          when(col("max_consonant_run") >= 5 ||
            expr("n_vowel * 1000000 div greatest(n_alpha, 1)") < 250000, 1L)
            .otherwise(0L).as("gibberish"))
    },

    // Vocabulary coverage curve (r9; r13 scale rewrite) — the tokenizer-
    // design readout: how many vocabulary entries (frequency-ranked) cover
    // 50/90/95/99% of the corpus token mass? The knee of this curve IS the
    // vocab-size decision, and its drift under a corpus mix change is the
    // signal to re-train the tokenizer. Over word BIGRAMS (the unigram
    // vocab is the fixture's documented 31-word degenerate case —
    // §fixture-traps). The r9 form ranked the whole bigram vocabulary
    // through ONE unpartitioned window — a single-task sort once the vocab
    // outgrows one task (billions of bigrams at 100 TB; the r12 verdict's
    // `weak`). The rewrite exploits that cumulative mass inside a
    // same-count plateau grows by a CONSTANT c per rank, so the min-rank
    // answer has a closed form on the DISTINCT-FREQUENCY grid:
    //   vocab(thr) = N_above + ceil((thr·total − 100·M_above) / (100·c*))
    // at the unique crossing plateau c* (100·cum_m ≥ thr·total and
    // 100·(cum_m − mass) < thr·total) — the (freq DESC, bigram) tie-break
    // cancels out of the answer entirely. The only cumulative runs over
    // the frequency grid (O(distinct counts) ≪ vocab; ~√corpus under
    // Zipf), banded via CurateOps.bandedCumsum so no unpartitioned window
    // ever sees more than a band (PlanSpec pin). All-BIGINT arithmetic;
    // the unchanged oracle hash is the losslessness proof. 100 TB: freq
    // is a map-side (bigram) agg; grid agg is map-side over counts; the
    // final filter touches 4 plateau rows.
    Q("tokenizer_coverage_curve",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |occ AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |           ELSE list_transform(generate_series(1, len(toks) - 1),
        |                  i -> toks[i] || ' ' || toks[i+1]) END) AS bg
        |  FROM t),
        |f AS (SELECT bg, count(*) AS c FROM occ GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, bg) AS rk,
        |             sum(c) OVER (ORDER BY c DESC, bg) AS cum
        |      FROM f),
        |tot AS (SELECT sum(c) AS total FROM f),
        |th AS (SELECT unnest([50, 90, 95, 99]) AS thr)
        |SELECT CAST(thr AS BIGINT) AS threshold_pct,
        |       CAST(min(rk) AS BIGINT) AS vocab_size,
        |       CAST(tot.total AS BIGINT) AS total_tokens
        |FROM th, r, tot
        |WHERE cum * 100 >= thr * tot.total
        |GROUP BY thr, tot.total""".stripMargin) { (s, d) =>
      val occ = bigramOcc(s, d)
      val f = occ.groupBy("bg").agg(count(lit(1)).as("c"))
      // Distinct-frequency grid: one row per count value, with how many
      // bigrams carry it (n) and the mass they contribute (c·n). negc
      // makes ascending order = frequency-DESC order; counts are unique
      // at grid grain, so negc is the permutation key bandedCumsum needs.
      val grid = f.groupBy("c").agg(count(lit(1)).as("n"))
        .withColumn("negc", -col("c"))
        .withColumn("mass", col("c") * col("n"))
      val cum = graft.operators.CurateOps.bandedCumsum(grid, Seq(col("negc")),
        expr("CAST(floor(negc / 64.0) AS BIGINT)"),
        Seq("n" -> "cum_n", "mass" -> "cum_m"))
      val tot = f.agg(sum("c").as("total"))
      val th = (s.range(1, 2).select(
        explode(array(lit(50L), lit(90L), lit(95L), lit(99L))).as("threshold_pct")))
      broadcast(th).crossJoin(cum).crossJoin(broadcast(tot))
        // the unique plateau where the threshold crosses: covered mass
        // reaches thr·total here and had not before this plateau
        .filter(col("cum_m") * 100 >= col("threshold_pct") * col("total") &&
          (col("cum_m") - col("mass")) * 100 < col("threshold_pct") * col("total"))
        .select(col("threshold_pct"),
          (col("cum_n") - col("n") +
            expr("(threshold_pct * total - (cum_m - mass) * 100 + 100 * c - 1) " +
              "DIV (100 * c)")).as("vocab_size"),
          col("total").cast("long").as("total_tokens"))
    }
  )

  /** The fixed retrieval-query fixture (mirrored verbatim in the oracles'
    * VALUES lists) and its exploded (query, term) form.
    */
  private def queryFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "spark customer query"), (2L, "vector data"),
      (3L, "merge sort window")).toDF("query_id", "qtext")
  }
  private def queryTerms(s: SparkSession): DataFrame =
    queryFixture(s).select(col("query_id"),
      explode(split(col("qtext"), " ")).as("tok"))

  /** Per-(query, doc) BM25 scores as exact DECIMAL(28,6) sums — cached so
    * text_bm25's ranking and rank_fusion's RRF leg share one build. See
    * text_bm25's Q body for the determinism ladder and scale shape.
    */
  private def bm25Scores(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, s"$d/bm25-scores") {
      val tf = tfidfTf(s, d)
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val sc = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total"))
      val idfQ = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        .cast(DecimalType(18, 6)).cast("double")
      val tfPart = (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) +
          (lit(0.75) * col("dl") * col("n_docs")) / col("total")))
      broadcast(queryTerms(s)).join(tf, "tok").join(dfq, "tok").join(dl, "doc_id")
        .crossJoin(broadcast(sc))
        .select(col("query_id"), col("doc_id"),
          (idfQ * tfPart).cast(DecimalType(18, 6)).as("s"))
        .groupBy("query_id", "doc_id").agg(sum("s").as("score"))
    }
}
