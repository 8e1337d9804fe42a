package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parametrized corpus-curation operators — the reusable forms behind the
  * `events_sessionize` / `text_scrub_blocklist` / `embed_quantize` /
  * `budget_select` / `quality_gopher` query keys (which bind them to the
  * fixture's constants). Kept fully declarative so every documented plan
  * shape (PlanSpec pins) is a property of these functions, not of the
  * fixture wiring.
  */
object CurateOps {

  /** Exact equi-width histogram over an integer-valued column: `buckets`
    * buckets spanning [min, max], bucket = (v−min)·buckets div (max+1−min)
    * so the maximum lands in the last bucket and every boundary is an
    * integer comparison — no float binning to drift across engines.
    * Emits (bucket, n, lo, hi) with lo/hi the observed min/max per bucket;
    * empty buckets are absent. Callers bin floats by pre-scaling to an
    * integer grid (e.g. floor(price·100) cents, cf. `agg_histogram`).
    *
    * 100 TB shape: one scalar min/max agg broadcast into a second scan,
    * then a buckets-sized partial agg — zero wide shuffles (PlanSpec pins
    * the 1-row broadcast).
    */
  def histogram(df: DataFrame, value: Column, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val o = df.select(value.cast("long").as("v"))
    val st = o.agg(min("v").as("minv"), (max("v") + 1).as("maxv1"))
    o.crossJoin(broadcast(st))
      .withColumn("bucket", expr(s"((v - minv) * $buckets) div (maxv1 - minv)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
  }

  /** Gap-based sessionization: one row per (user, session) with event
    * count, start/end, and duration, sessions breaking after `gapUs`
    * micros of silence. The break flag (lag) and the running session
    * index (sum) share one (user | ts, tie) partitioning + sort — a
    * single data shuffle regardless of corpus size — and `tieCol` makes
    * the order total when timestamps collide.
    */
  def sessionize(events: DataFrame, gapUs: Long,
      userCol: String = "user_id", tsCol: String = "ts_us",
      tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol, tieCol)
    val run = Window.partitionBy(userCol).orderBy(tsCol, tieCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsCol), 1).over(w)
    events
      .select(col(userCol), col(tieCol), col(tsCol))
      .withColumn("brk",
        when(prev.isNull || col(tsCol) - prev > gapUs, 1).otherwise(0))
      .withColumn("session_idx", sum("brk").over(run).cast("long"))
      .groupBy(userCol, "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(tsCol).as("t_start_us"),
        max(tsCol).as("t_end_us"),
        (max(tsCol) - min(tsCol)).as("duration_us"))
  }

  /** Pure range self-join (no equi key): all row pairs within `windowUs`
    * of each other, ordered earlier-first (ties by `tieCol`). A bare
    * |t_b − t_a| ≤ W predicate plans as a nested-loop cartesian; this
    * buckets time into window-width slots — with t_a ≤ t_b, bucket(b) is
    * bucket(a) or bucket(a)+1, so the earlier side explodes to those two
    * candidate buckets, the later side keeps its home bucket, and the join
    * goes EQUI on the bucket with the range as a residual filter. The two
    * candidate buckets are distinct, so each qualifying pair meets exactly
    * once — no distinct pass. Output: (<tieCol>_a, <tieCol>_b, gap_us ≥ 0).
    *
    * 100 TB shape: one integer-key shuffle per side; per-bucket fan-in is
    * bounded by the row rate per window (a hot second is a salting /
    * sub-bucketing problem, not a plan problem) — the Flink-interval-join /
    * bucketed-IEJoin pattern.
    */
  def rangePairs(events: DataFrame, windowUs: Long,
      tsCol: String = "ts_us", tieCol: String = "event_id",
      carry: Seq[String] = Nil): DataFrame = {
    require(windowUs > 0, "windowUs must be positive")
    def side(suffix: String) = (col(tieCol).as(s"${tieCol}_$suffix") +:
      col(tsCol).as(s"ts_$suffix") +:
      carry.map(c => col(c).as(s"${c}_$suffix")))
    val a = events.select(side("a") :+
      explode(array(expr(s"$tsCol div $windowUs"),
        expr(s"$tsCol div $windowUs + 1"))).as("bucket"): _*)
    val b = events.select(side("b") :+
      expr(s"$tsCol div $windowUs").as("bucket"): _*)
    a.join(b, "bucket")
      .filter(col("ts_b") >= col("ts_a") &&
        col("ts_b") - col("ts_a") <= windowUs &&
        (col("ts_b") > col("ts_a") || col(s"${tieCol}_a") < col(s"${tieCol}_b")))
      .select(col(s"${tieCol}_a") +: col(s"${tieCol}_b") +:
        (col("ts_b") - col("ts_a")).as("gap_us") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** Gaps-and-islands activity streaks: per user, the count of distinct
    * active time buckets, the number of consecutive-bucket runs, and the
    * longest run — engagement-streak / churn-gap reporting. The classic
    * trick (island id = bucket − row_number over the user's distinct
    * buckets) turns run detection into pure integer window arithmetic:
    * consecutive buckets share one (bucket − rn) value, any gap starts a
    * new island. ONE user-hash shuffle feeds the distinct, the window, and
    * both aggs — no global window, no self-join of the stream (which the
    * naive "bucket − 1 exists" formulation would need); per-user state is
    * the distinct-bucket list, bounded by the calendar, not event volume.
    *
    * Output columns are bucket-neutral (n_active_buckets / n_streaks /
    * max_streak) — `bucketUs` is caller-chosen, so day-specific names
    * would mislabel hourly or weekly streaks. Timestamps are assumed
    * ≥ 0 (epoch micros): `div` truncates toward zero where a SQL engine's
    * `//` floors, so pre-1970 values would bucket differently per engine.
    */
  def streaks(events: DataFrame, bucketUs: Long,
      userCol: String = "user_id", tsCol: String = "ts_us"): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val w = Window.partitionBy(userCol).orderBy("bucket")
    events
      .select(col(userCol), expr(s"$tsCol div $bucketUs").as("bucket"))
      .distinct()
      .withColumn("isl", col("bucket") - row_number().over(w))
      .groupBy(userCol, "isl").agg(count(lit(1)).as("len"))
      .groupBy(userCol)
      .agg(sum("len").cast("long").as("n_active_buckets"),
        count(lit(1)).cast("long").as("n_streaks"),
        max("len").cast("long").as("max_streak"))
  }

  /** Pattern scrubbing (blocklist terms, or PII shapes like emails/phones
    * when `pattern` is swapped accordingly): every doc out with its match
    * count and the masked text. A pure per-row projection — zero shuffles,
    * rides any scan at IO cost. Keep `pattern` inside the Java∩RE2 regex
    * subset if results must be replayed by another engine.
    */
  def scrub(docs: DataFrame, pattern: String, mask: String,
      textCol: String = "text"): DataFrame =
    docs.withColumn("n_redacted",
        size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long"))
      .withColumn("clean_text", regexp_replace(col(textCol), pattern, mask))

  /** Int8 symmetric quantization of a float-array column: per-vector
    * max-abs scale and floor(+0.5) codes (engine-portable halfway
    * semantics), emitting the integer-exact code stats (sum, energy, clip
    * count). Pure per-row HOF folds — the element rows never exist.
    * NOTE: intermediate columns use reserved names; a final select must
    * not alias an output over a name its siblings still reference (Spark's
    * lateral column alias resolution would bind them to the alias).
    */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb
      .withColumn("amax_raw",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn("qs",
        transform(col(vecCol),
          x => floor((x.cast("double") * 127) / col("amax_raw") + 0.5).cast("long")))

  /** The oracle-facing stats projection over [[quantizeInt8]]. */
  def quantizeStats(emb: DataFrame, vecCol: String = "embedding",
      keep: Seq[String] = Seq("vec_id", "label")): DataFrame =
    quantizeInt8(emb, vecCol).select(
      keep.map(col) ++ Seq(
        round(col("amax_raw"), 6).as("amax"),
        aggregate(col("qs"), lit(0L), (acc, e) => acc + e).as("sum_q"),
        aggregate(col("qs"), lit(0L), (acc, e) => acc + e * e).as("sum_q2"),
        size(filter(col("qs"), q => abs(q) === 127)).cast("long").as("n_clip")): _*)

  /** The offset step of every banded prefix: for a band-grid row (one per
    * group and band), the sum of `total` over the group's LOWER bands, 0
    * for its first band. The window spans the grid, never the rows, so an
    * unpartitioned one (no group) stays band-count-sized at any scale.
    */
  private def bandOffset(total: String, band: String, groupCols: Seq[String]): Column =
    coalesce(sum(total).over(Window.partitionBy(groupCols.map(col): _*)
      .orderBy(band).rowsBetween(Long.MinValue, -1)), lit(0L))

  /** Banded two-phase PERMUTATION rank: per group of `groupCols` (the
    * whole table when empty), `row_number() OVER (ORDER BY value, tie)`
    * without ever sorting a whole group in one task — phase 1 counts rows
    * per (group, band) and broadcasts the grid's exclusive prefix sums,
    * phase 2 row_numbers WITHIN each (group, band); rank = band offset +
    * local rank. Lossless for ANY band expression that is monotone in
    * `value` (rows in a lower band always rank below rows in a higher
    * band; within a band the local window applies the same (value, tie)
    * order) — pinned against the naive window in CuratePropSpec and,
    * cross-engine, by the quality_spearman and sample_balanced hash gates.
    * Rows whose band or group is NULL are dropped (the offset join is an
    * equi-join); group columns lead the output.
    */
  def bandedRank(df: DataFrame, valueCol: String, tieCol: String,
      band: Column, out: String, groupCols: Seq[String] = Nil): DataFrame = {
    val keys = (groupCols :+ "__graft_band").map(col)
    val b = df.withColumn("__graft_band", band)
    val off = b.groupBy(keys: _*).agg(count(lit(1)).as("__graft_bc"))
      .select(keys :+
        bandOffset("__graft_bc", "__graft_band", groupCols).as("__graft_off"): _*)
    b.withColumn("__graft_rn",
        row_number().over(
          Window.partitionBy(keys: _*).orderBy(col(valueCol), col(tieCol))))
      .join(broadcast(off), groupCols :+ "__graft_band")
      .withColumn(out, col("__graft_off") + col("__graft_rn"))
      .drop("__graft_band", "__graft_off", "__graft_rn")
  }

  /** Banded two-phase inclusive CUMULATIVE SUMS — the [[bandedRank]]
    * decomposition applied to running totals: per group of `groupCols`
    * (the whole table when empty), phase 1 sums each weight per (group,
    * band) and broadcasts the grid's exclusive prefix sums, phase 2 runs
    * the within-band running sums; running sum = band offset + local
    * running sum. Lossless for any `band` monotone in `order`; `order`
    * must be unique within a group (a permutation order), so RANGE and
    * ROWS frames coincide. A descending order is a `.desc` order column
    * with a negated band. Several weights cumulate in ONE pass — they
    * share the band exchange and the local sort. NULL weights follow SQL
    * running-sum semantics exactly: a NULL contributes nothing, and a row
    * whose entire prefix is NULL reads NULL, not 0 — tracked by a parallel
    * non-NULL running COUNT per weight (same windows, no extra pass).
    * Rows whose band or group is NULL are dropped (the offset join is an
    * equi-join); group columns lead the output. Output names must be fresh
    * (no input column): the weights fold one `withColumn` at a time, and
    * an output overwriting a weight or order input would silently corrupt
    * the later running sums. Pinned against the naive window (NULLs in the
    * generator domain) in CuratePropSpec.
    */
  def bandedCumsum(df: DataFrame, order: Seq[Column], band: Column,
      weights: Seq[(String, String)], groupCols: Seq[String] = Nil): DataFrame = {
    require(weights.nonEmpty, "bandedCumsum: need at least one weight column")
    val outs = weights.map(_._2)
    require(outs.distinct == outs,
      s"bandedCumsum: duplicate output names [${outs.mkString(", ")}]")
    val nameClash = outs.filter(o => df.columns.contains(o) || o.startsWith("__graft_"))
    require(nameClash.isEmpty,
      s"bandedCumsum: output name(s) [${nameClash.sorted.mkString(", ")}] " +
        "collide with input columns or internal __graft_* names — a " +
        "collision would overwrite a column mid-fold and silently corrupt " +
        "later running sums; pick fresh output names")
    val keys = (groupCols :+ "__graft_band").map(col)
    val b = df.withColumn("__graft_band", band)
    val subAggs = weights.flatMap { case (in, _) => Seq(
      sum(col(in)).as(s"__graft_s_$in"),
      count(col(in)).as(s"__graft_c_$in")) }
    // band subtotals sum(in) are NULL for an all-NULL band: the offset
    // prefix skips them exactly like the naive window skips the NULLs
    // themselves; only the all-NULL-prefix case must stay
    // distinguishable, which the count leg carries
    val off = b.groupBy(keys: _*).agg(subAggs.head, subAggs.tail: _*)
      .select(keys ++ weights.flatMap { case (in, _) => Seq(
        bandOffset(s"__graft_s_$in", "__graft_band", groupCols).as(s"__graft_o_$in"),
        bandOffset(s"__graft_c_$in", "__graft_band", groupCols).as(s"__graft_oc_$in"))
      }: _*)
    val wl = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Long.MinValue, 0)
    weights.foldLeft(b.join(broadcast(off), groupCols :+ "__graft_band")) {
      case (acc, (in, out)) =>
        // non-NULL count over the same frame decides NULL-vs-0: the naive
        // window's sum is NULL exactly when no non-NULL weight precedes
        val cnt = count(col(in)).over(wl) + col(s"__graft_oc_$in")
        val s0 = coalesce(sum(col(in)).over(wl), lit(0L)) + col(s"__graft_o_$in")
        acc.withColumn(out, when(cnt > 0L, s0))
    }.drop("__graft_band" +:
      weights.flatMap { case (in, _) =>
        Seq(s"__graft_o_$in", s"__graft_oc_$in") }: _*)
  }

  /** Exact per-group quantiles WITHOUT per-group value buffers — the scale
    * replacement for `percentile()`, whose TypedImperativeAggregate
    * collects every value of a group into one executor buffer (the OOM at
    * a 100 TB group). Decomposition: the banded two-phase rank
    * ([[bandedRank]]'s discipline, here group-compound: per-(group, band)
    * local row_numbers + a broadcast band-offset grid), then for each
    * requested quantile only the TWO order-statistic rows at ranks
    * ⌊(n−1)q⌋+1 and ⌈(n−1)q⌉+1 are fetched (a broadcast target join) and
    * interpolated with EXACTLY Spark `Percentile`'s IEEE tree
    * (`v_lo·(higher−pos) + v_hi·(pos−lower)`), so results are bit-equal to
    * the built-in — pinned against it on random tie-heavy data in
    * CuratePropSpec and cross-engine by the quantile hash gates. NULL
    * values are skipped like the built-in. `band` must be monotone in
    * `valueCol`; `tieCol` makes ranks a permutation (ties in value don't
    * affect the selected order statistics).
    */
  def exactQuantilesByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, tieCol: String, band: Column,
      qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    val g = groupCols.map(col)
    val b = df.filter(col(valueCol).isNotNull).withColumn("__g_band", band)
    val grid = b.groupBy(g :+ col("__g_band"): _*).agg(count(lit(1)).as("__g_bc"))
    val offs = grid.select(g ++ Seq(col("__g_band"),
      bandOffset("__g_bc", "__g_band", groupCols).as("__g_off")): _*)
    val totals = grid.groupBy(g: _*).agg(sum("__g_bc").as("__g_n"))
    // one target row per (group, quantile): position arithmetic in double,
    // matching Percentile.getPercentile's tree
    val targets = totals.select(g :+ explode(array(qs.map { case (nm, q) =>
      val pos = (col("__g_n") - 1).cast("double") * lit(q)
      struct(lit(nm).as("__g_q"), pos.as("__g_pos"),
        floor(pos).as("__g_lower"), ceil(pos).as("__g_higher"))
    }: _*)).as("__g_t"): _*)
      .select(g ++ Seq(col("__g_t.__g_q").as("__g_q"),
        col("__g_t.__g_pos").as("__g_pos"),
        col("__g_t.__g_lower").as("__g_lower"),
        col("__g_t.__g_higher").as("__g_higher")): _*)
    // one row per (group, quantile, needed rank) so the fetch is a pure
    // equi broadcast join on (group, rank) — no theta condition, no fanout
    val targetRanks = targets
      .select(g ++ Seq(col("__g_q"), col("__g_pos"), col("__g_lower"),
        col("__g_higher"),
        explode(array_distinct(array(col("__g_lower") + 1,
          col("__g_higher") + 1))).as("__g_rank")): _*)
    // histogram refinement: only the bands whose global-rank range
    // [off+1, off+count] contains a target rank ever get ranked — the
    // corpus-sized window shrinks to a handful of band populations per
    // group (ranks within an untouched band are never needed)
    val ranges = grid.join(offs, groupCols :+ "__g_band")
    val bandTargets = targetRanks.alias("t")
      .join(broadcast(ranges.alias("r")),
        (groupCols.map(c => col(s"t.$c") === col(s"r.$c")) :+
          (col("t.__g_rank") > col("r.__g_off")) :+
          (col("t.__g_rank") <= col("r.__g_off") + col("r.__g_bc")))
          .reduce(_ && _))
      .select(groupCols.map(c => col(s"r.$c")) :+
        col("r.__g_band") :+ col("r.__g_off"): _*)
      .distinct()
    val rnW = Window.partitionBy(g :+ col("__g_band"): _*)
      .orderBy(col(valueCol), col(tieCol))
    val ranked = b
      .join(broadcast(bandTargets), groupCols :+ "__g_band")
      .withColumn("__g_rn", row_number().over(rnW))
      .withColumn("__g_rank", col("__g_off") + col("__g_rn"))
      .select(g ++ Seq(col("__g_rank"),
        col(valueCol).cast("double").as("__g_v")): _*)
    val picked = ranked.join(broadcast(targetRanks), groupCols :+ "__g_rank")
    val perQ = picked.groupBy(g :+ col("__g_q"): _*).agg(
      max(when(col("__g_rank") === col("__g_lower") + 1, col("__g_v"))).as("__g_vlo"),
      max(when(col("__g_rank") === col("__g_higher") + 1, col("__g_v"))).as("__g_vhi"),
      first(col("__g_pos")).as("__g_pos"),
      first(col("__g_lower")).as("__g_lower"),
      first(col("__g_higher")).as("__g_higher"))
      .withColumn("__g_qval",
        when(col("__g_lower") === col("__g_higher"), col("__g_vlo"))
          .otherwise(
            col("__g_vlo") * (col("__g_higher") - col("__g_pos")) +
              col("__g_vhi") * (col("__g_pos") - col("__g_lower"))))
    val pivots = qs.map { case (nm, _) =>
      max(when(col("__g_q") === nm, col("__g_qval"))).as(nm)
    }
    perQ.groupBy(g: _*).agg(pivots.head, pivots.tail: _*)
  }

  /** Token-budget selection: keep the highest-`scoreCol` rows per
    * `groupCol` until `budget` of `weightCol` is spent — a [[bandedCumsum]]
    * per group in (score DESC, tie) order, banded on the negated
    * `scoreCol DIV bandWidth`, so no window ever sees a whole group;
    * `bandWidth` is the partition-size dial. `scoreCol` must be
    * integer-valued and `tieCol` unique for a deterministic total order.
    */
  def budgetSelect(rows: DataFrame, budget: Long, bandWidth: Long,
      groupCol: String = "lang", scoreCol: String = "score",
      weightCol: String = "n_tokens", tieCol: String = "doc_id"): DataFrame =
    bandedCumsum(rows, Seq(col(scoreCol).desc, col(tieCol)),
        -expr(s"$scoreCol DIV $bandWidth"), Seq(weightCol -> "cum_tokens"),
        Seq(groupCol))
      .filter(col("cum_tokens") <= budget)

  /** Gopher-rules document gate over precomputed per-doc counts
    * (`n` tokens, `topn` top-token count, `nstop` stopwords): first
    * failing rule in fixed order becomes the reject reason. Every gate is
    * an integer compare; the repetition cap is cross-multiplied
    * (top token fraction > 1/`repDen` rejects).
    */
  def gopherVerdict(minTokens: Long, maxTokens: Long, repDen: Long,
      minStop: Long): Column =
    when(col("n") < minTokens, "too_short")
      .when(col("n") > maxTokens, "too_long")
      .when(col("topn") * repDen > col("n"), "repetition")
      .when(col("nstop") < minStop, "few_stopwords")
      .otherwise("ok")

  /** Theil–Sen robust trend per group: the LOWER MEDIAN of all pairwise
    * slopes under the total order (slope, d1, d2) — the rank-(⌈m/2⌉)
    * element, never a mid-pair average, so both engines agree bitwise.
    * Emits (group, n_pairs, theil_slope[5 dp]).
    *
    * Banded order-statistic fetch with HOT-BAND REFINEMENT (r12, clearing
    * the r11 `weak`): the r10 form banded slopes once on floor(slope·8)
    * and row_numbered only the band holding the median rank — band-sized
    * in the expected case, but a DEGENERATE signal (constant daily counts
    * → every pairwise slope identical) concentrates all m pairs in ONE
    * band and the window is pairs-sized through one task again. Two added
    * levers make the fetch degenerate-proof:
    *   1. a second, ADAPTIVE banding pass inside the hot band — cells are
    *      normalized to the band's observed [min, max] span, so any band
    *      with actual spread splits ~1024 ways regardless of magnitude
    *      (exactQuantilesByGroup's histogram-refinement discipline);
    *   2. a single-value ESCAPE at both levels: a (fine) band with
    *      min == max IS the median value — emitted directly, NO window at
    *      all. The constant-slope degenerate takes this path.
    *    Residual: an adversarial cluster (≫ band-resolution mass at
    *    near-but-not-equal values) still funnels one fine band; a deeper
    *    recursion (same pass repeated) is the production lever.
    *
    * 100 TB shape: pair fan-out is days²/group off the day-grain pre-agg
    * (never corpus²); grids are band-count-sized windows; the hot lists
    * ride broadcast joins; only sub-band populations are ever
    * row_numbered. All rank arithmetic is integer; the slope division is
    * when-guarded total (the ANSI house rule — it feeds join/group keys).
    */
  def theilSenSlopes(dc: DataFrame, groupCol: String = "event_type",
                     dayCol: String = "day", xCol: String = "x"): DataFrame = {
    val g = col(groupCol)
    val a = dc.select(g, col(dayCol).as("d1"), col(xCol).as("x1"))
    val b = dc.select(g, col(dayCol).as("d2"), col(xCol).as("x2"))
    val rankExpr = expr("(m + 1) div 2") // lower-median global rank, exact ints
    val pairs = a.join(b, Seq(groupCol)).filter(col("d1") < col("d2"))
      .select(g,
        // when-guarded TOTAL division: slope feeds band join keys, and
        // InferFiltersFromConstraints may evaluate isnotnull(bnd) on
        // pre-filter rows where d1 = d2 (ANSI /0 is a hard error there).
        when(col("d2") > col("d1"),
          (col("x2") - col("x1")).cast("double") / (col("d2") - col("d1")))
          .as("slope"),
        col("d1"), col("d2"))
      .withColumn("bnd", floor(col("slope") * 8).cast("long"))
    // Coarse grid: locate the band holding the median rank; its observed
    // [bmin, bmax] span drives the adaptive refinement below.
    val grid = pairs.groupBy(g, col("bnd"))
      .agg(count(lit(1)).as("bc"), min("slope").as("bmin"), max("slope").as("bmax"))
    val hot = grid
      .withColumn("off", bandOffset("bc", "bnd", Seq(groupCol)))
      .withColumn("m", sum("bc").over(Window.partitionBy(g)))
      .filter(rankExpr > col("off") && rankExpr <= col("off") + col("bc"))
    // Level-1 escape: single-valued hot band — every pair in it carries
    // the median slope; emit without touching the pairs again.
    val hotDirect = hot.filter(col("bmin") === col("bmax"))
      .select(g, col("m").cast("long").as("n_pairs"),
        round(col("bmin"), 5).as("theil_slope"))
    val hotVar = hot.filter(col("bmin") =!= col("bmax"))
      .select(g, col("bnd"), col("off"), col("m"), col("bmin"), col("bmax"))
    // Adaptive fine banding inside the hot band: normalize to the band's
    // actual span so ~1024 cells split it however narrow it is. The affine
    // map is monotone in IEEE (subtraction / positive-divide / scale /
    // floor all preserve weak order), so fbnd order = slope order and the
    // global tie-break (slope, d1, d2) survives cell-wise. when-guarded
    // total (bmax > bmin on every joined row by hotVar's filter).
    val fpairs = pairs.join(broadcast(hotVar), Seq(groupCol, "bnd"))
      .withColumn("fbnd", least(
        when(col("bmax") > col("bmin"),
          floor((col("slope") - col("bmin")) / (col("bmax") - col("bmin")) * 1024))
          .cast("long"),
        lit(1023L)))
    val fgrid = fpairs.groupBy(g, col("bnd"), col("fbnd"))
      .agg(count(lit(1)).as("fbc"), min("slope").as("fmin"), max("slope").as("fmax"),
        max("off").as("off"), max("m").as("m"))
    val fhot = fgrid
      .withColumn("foff", col("off") + bandOffset("fbc", "fbnd", Seq(groupCol, "bnd")))
      .filter(rankExpr > col("foff") && rankExpr <= col("foff") + col("fbc"))
    // Level-2 escape: single-valued fine cell (the constant-cluster case).
    val fineDirect = fhot.filter(col("fmin") === col("fmax"))
      .select(g, col("m").cast("long").as("n_pairs"),
        round(col("fmin"), 5).as("theil_slope"))
    val fineVar = fhot.filter(col("fmin") =!= col("fmax"))
      .select(g, col("bnd"), col("fbnd"), col("foff"), col("m"))
    val wCell = Window.partitionBy(g, col("bnd"), col("fbnd"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val fetched = fpairs.select(g, col("bnd"), col("fbnd"), col("slope"),
        col("d1"), col("d2"))
      .join(broadcast(fineVar), Seq(groupCol, "bnd", "fbnd"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("foff") + col("rn") === rankExpr)
      .select(g, col("m").cast("long").as("n_pairs"),
        round(col("slope"), 5).as("theil_slope"))
    hotDirect.unionByName(fineDirect).unionByName(fetched)
  }
}
