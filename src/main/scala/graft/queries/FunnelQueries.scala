package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Multi-gate curation loss accounting — the report a pipeline owner reads
  * before anything trains: per language, how many documents survive each
  * quality gate and the whole chain.
  *
  * Deliberately COMPOSED, not re-implemented: the Spark side calls the four
  * declared gate queries (whose frames ride their shared caches —
  * [[TextAnalysisQueries.tfidfTf]], [[TextAnalysisQueries.bigramOcc]]), and
  * the DuckDB oracle embeds the sibling keys' own oracle
  * SQL as subqueries, so the funnel can never drift from the gates it
  * reports on — if a gate's definition changes, the funnel follows in BOTH
  * engines by construction.
  */
object FunnelQueries {

  private def gateFn(all: Seq[Q], name: String) = all.find(_.name == name).get.fn
  private def gateSql(all: Seq[Q], name: String) =
    all.find(_.name == name).get.oracle.get

  def all: Seq[Q] = Seq(
    Q("dedup_report", {
      val ex = gateSql(PipelineQueries.all, "dedup_exact")
      val np = gateSql(PipelineQueries.all, "dedup_near")
      s"""SELECT d.lang,
         |       COUNT(*) AS n_docs,
         |       CAST(coalesce(eg.n_groups, 0) AS BIGINT) AS n_exact_groups,
         |       CAST(coalesce(eg.n_dup_docs, 0) AS BIGINT) AS n_exact_dup_docs,
         |       CAST(coalesce(nr.n_pairs, 0) AS BIGINT) AS n_near_pairs
         |FROM documents d
         |LEFT JOIN (SELECT lang, count(*) AS n_groups,
         |                  sum(n_copies - 1) AS n_dup_docs
         |           FROM ($ex) e WHERE n_copies > 1 GROUP BY 1) eg USING (lang)
         |LEFT JOIN (SELECT d2.lang, count(*) AS n_pairs
         |           FROM ($np) p JOIN documents d2 ON d2.doc_id = p.doc_a
         |           GROUP BY 1) nr USING (lang)
         |GROUP BY 1, eg.n_groups, eg.n_dup_docs, nr.n_pairs""".stripMargin
    }) { (s, d) =>
      // The daily dedup report (r7): per language, how much of the corpus
      // is exact-duplicate mass and how many near-dup pairs the lossless
      // candidate path found — the audit a pipeline owner reads before
      // committing a dedup run. COMPOSED like curation_funnel: the Spark
      // side reads the declared siblings' SHARED caches (dedup_exact's
      // hash groups, the cached near-dup pair list), and the oracle embeds
      // their oracle SQL as subqueries, so the report cannot drift from
      // the operators it audits. Marginal cost: two lang-sized aggs + two
      // broadcast-sized joins onto a lang rollup.
      val docs = Tables.cachedTable(s, d, "documents")
      val ex = gateFn(PipelineQueries.all, "dedup_exact")(s, d)
        .filter(col("n_copies") > 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies") - 1).as("n_dup_docs"))
      val np = PipelineQueries.sharedNearDupPairs(s, d)
        .join(docs.select(col("doc_id").as("doc_a"), col("lang")), "doc_a")
        .groupBy("lang").agg(count(lit(1)).as("n_pairs"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .join(ex, Seq("lang"), "left")
        .join(np, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_groups"), lit(0L)).as("n_exact_groups"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_exact_dup_docs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_near_pairs"))
    },

    Q("contamination_report", {
      val dc = gateSql(CurationQueries.all, "decontaminate")
      val e = CurationQueries.EvalMaxId
      s"""WITH base AS (SELECT source, lang, count(*) AS n_docs
         |              FROM documents WHERE doc_id >= $e GROUP BY 1, 2),
         |fl AS (SELECT d2.source, d2.lang, count(DISTINCT c.doc_id) AS n_flagged
         |       FROM ($dc) c JOIN documents d2 ON d2.doc_id = c.doc_id
         |       GROUP BY 1, 2)
         |SELECT base.source, base.lang,
         |       CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(coalesce(n_flagged, 0) AS BIGINT) AS n_flagged,
         |       (coalesce(n_flagged, 0) * 1000000) // n_docs AS flag_rate_micro
         |FROM base LEFT JOIN fl USING (source, lang)""".stripMargin
    }) { (s, d) =>
      // Per-(source, lang) benchmark-contamination dashboard — the report
      // that decides which SOURCES to drop or re-crawl (a source with a
      // high flag rate is probably scraping the benchmark itself).
      // COMPOSED like dedup_report: Spark reads the declared decontaminate
      // sibling's frame (riding its broadcast-eval single corpus pass),
      // the oracle embeds its oracle SQL — report and gate cannot drift.
      // Flag rate as integer parts-per-million (exact bigint division, no
      // floats). Marginal cost: one distinct over the flagged pairs + two
      // (source, lang)-sized aggs and a broadcast-sized left join.
      val docs = Tables.cachedTable(s, d, "documents")
        .filter(col("doc_id") >= CurationQueries.EvalMaxId)
      val flagged = gateFn(CurationQueries.all, "decontaminate")(s, d)
        .select("doc_id").distinct()
        .join(docs.select("doc_id", "source", "lang"), "doc_id")
        .groupBy("source", "lang").agg(count(lit(1)).as("n_flagged"))
      docs.groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
        .join(flagged, Seq("source", "lang"), "left")
        .select(col("source"), col("lang"),
          col("n_docs").cast("long").as("n_docs"),
          coalesce(col("n_flagged"), lit(0L)).cast("long").as("n_flagged"),
          expr("(coalesce(n_flagged, 0L) * 1000000L) div n_docs")
            .as("flag_rate_micro"))
    },

    Q("curation_funnel", {
      val g = gateSql(TextAnalysisQueries.all, "quality_gopher")
      val p = gateSql(TextAnalysisQueries.all, "quality_perplexity")
      val i = gateSql(TextAnalysisQueries.all, "dsir_importance")
      val f = gateSql(CurationQueries.all, "quality_filter")
      s"""SELECT d.lang,
         |       COUNT(*) AS n_docs,
         |       CAST(sum(f.keep) AS BIGINT) AS n_quality,
         |       CAST(sum(g.keep) AS BIGINT) AS n_gopher,
         |       CAST(sum(p.keep) AS BIGINT) AS n_perplexity,
         |       CAST(sum(i.keep) AS BIGINT) AS n_dsir,
         |       CAST(sum(f.keep * g.keep * p.keep * i.keep) AS BIGINT) AS n_all
         |FROM documents d
         |JOIN ($f) f USING (doc_id)
         |JOIN ($g) g USING (doc_id)
         |JOIN ($p) p USING (doc_id)
         |JOIN ($i) i USING (doc_id)
         |GROUP BY 1""".stripMargin
    }) { (s, d) =>
      // Every gate emits one row per doc (left-join-complete by their own
      // contracts), so the funnel joins are inner and count-preserving.
      // 100 TB shape: four doc_id-keyed equi-joins of keep-bit frames that
      // each reuse already-shared intermediates — the funnel itself adds
      // only id+bit shuffles and a lang-sized rollup.
      def keep(all: Seq[Q], name: String) =
        gateFn(all, name)(s, d).select(col("doc_id"), col("keep"))
      val docs = Tables.cachedTable(s, d, "documents").select("doc_id", "lang")
      docs
        .join(keep(CurationQueries.all, "quality_filter")
          .withColumnRenamed("keep", "kf"), "doc_id")
        .join(keep(TextAnalysisQueries.all, "quality_gopher")
          .withColumnRenamed("keep", "kg"), "doc_id")
        .join(keep(TextAnalysisQueries.all, "quality_perplexity")
          .withColumnRenamed("keep", "kp"), "doc_id")
        .join(keep(TextAnalysisQueries.all, "dsir_importance")
          .withColumnRenamed("keep", "ki"), "doc_id")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("kf").as("n_quality"),
          sum("kg").as("n_gopher"),
          sum("kp").as("n_perplexity"),
          sum("ki").as("n_dsir"),
          sum(col("kf") * col("kg") * col("kp") * col("ki")).as("n_all"))
    }
  )
}
