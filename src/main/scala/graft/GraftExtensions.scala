package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}
import graft.functions.{BoundedLevenshtein, ByteVecDot, FloatVecDot, SortedIntersectCount, SortedLongIntersectCount}
import graft.operators.{DiffOptions, Differ, DupPairing}
import graft.streaming.StreamOps

/** Session extension that registers the native kernels as SQL functions,
  * so `spark.sql("SELECT float_vec_dot(a, b) ...")` works cluster-wide:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * For an already-running session (extensions are builder-time only), use
  * [[GraftExtensions.register]] which injects the same functions into the
  * session's FunctionRegistry at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // Bounded edit-distance predicates silently upgrade to the banded
    // kernel (plans/BoundedLevenshteinRewrite) — plain-SQL users get the
    // affix-trimmed DP without knowing the function exists.
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshteinRewrite)
  }
}

object GraftExtensions {

  private type Entry[T] = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)

  /** A native kernel as a SQL function taking exactly `arity` arguments. */
  private def kernel(name: String, cls: Class[_], usage: String, arity: Int)(
      build: Seq[Expression] => Expression): Entry[Expression] =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), { args =>
      require(args.length == arity, usage)
      build(args)
    })

  // `lazy val`s of stable builder instances: `register` recognises its own
  // entries by builder identity, which keeps it idempotent.
  private lazy val kernels: Seq[Entry[Expression]] = Seq(
    kernel("float_vec_dot", classOf[FloatVecDot], "float_vec_dot(arrayFloat, arrayFloat)", 2)(
      a => FloatVecDot(a(0), a(1))),
    kernel("sorted_intersect_count", classOf[SortedIntersectCount],
      "sorted_intersect_count(arrayString, arrayString)", 2)(
      a => SortedIntersectCount(a(0), a(1))),
    kernel("sorted_long_intersect_count", classOf[SortedLongIntersectCount],
      "sorted_long_intersect_count(arrayBigint, arrayBigint)", 2)(
      a => SortedLongIntersectCount(a(0), a(1))),
    kernel("byte_vec_dot", classOf[ByteVecDot], "byte_vec_dot(arrayTinyint, arrayTinyint)", 2)(
      a => ByteVecDot(a(0), a(1))),
    kernel("bounded_levenshtein", classOf[BoundedLevenshtein],
      "bounded_levenshtein(str, str, kLiteral)", 3) { a =>
      val k = a(2) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"bounded_levenshtein: k must be an INT literal, got $other")
      }
      BoundedLevenshtein(a(0), a(1), k)
    })

  /** Table functions: the SQL-callable diff surface, e.g. `SELECT * FROM
    * graft_diff('t_old', 't_new', 'k1,k2')`. Each builder runs at ANALYSIS
    * time: it binds its arguments through [[Args]], builds the exact plan
    * the Scala API produces, and splices that plan's analyzed form in place
    * of the call, so Catalyst optimizes it like any other subtree. Every
    * argument must be a literal: arguments choose the plan's shape, so they
    * cannot be data-dependent.
    */
  private lazy val tableFunctions: Seq[Entry[LogicalPlan]] = Seq(
    diffTvf(summary = false), diffTvf(summary = true), dupTvf, reportTvf,
    schemaDiffTvf, catalogTvf, colsTvf, unkeyedTvf, catalogColsTvf,
    txnLogTvf, streamsTvf(latest = false), streamsTvf(latest = true)
  ).map { case (name, build) =>
    (FunctionIdentifier(name), new ExpressionInfo(Differ.getClass.getName, name), build)
  }

  /** Named options that fold onto [[DiffOptions]]: its fields in
    * snake_case.
    */
  private val diffOptionNames = Seq("abs_tol", "rel_tol", "tol_cols", "ignore_cols",
    "bag_cols", "digest_cols", "ignore_case", "trim_ws", "null_safe_keys")

  /** One table function's argument contract, bound to one call's arguments.
    * `params` names the positional arguments in order; `options` lists every
    * named argument the function accepts. Binding checks the positional
    * count (failing with `usage`) and refuses a named argument outside
    * `options`, listing exactly them: a typo must never silently mean the
    * default. Every accessor's error names `fn`, the function called.
    */
  private final class Args(fn: String, usage: String, params: Seq[String],
                           options: Seq[String], args: Seq[Expression]) {
    private val (named, positional) =
      args.partition(_.isInstanceOf[NamedArgumentExpression]) match {
        case (n, p) => (n.collect { case na: NamedArgumentExpression => na }, p)
      }
    if (positional.length != params.length) fail(s"usage: $usage")
    named.find(na => !options.contains(na.key)).foreach { na =>
      fail(s"unknown option '${na.key}' (supported: " +
        (if (options.isEmpty) s"none — $fn takes no options" else options.mkString(", ")) + ")")
    }

    lazy val spark: SparkSession = SparkSession.active

    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$fn: $msg")

    /** The positional argument `p`, read by `read`. */
    def arg[T](p: String)(read: (String, Expression) => T): T =
      read(p, positional(params.indexOf(p)))

    /** The named option `o` if given, read by `read`. */
    def opt[T](o: String)(read: (String, Expression) => T): Option[T] =
      named.find(_.key == o).map(na => read(s"option '$o'", na.value))

    def string(what: String, e: Expression): String = e match {
      case Literal(s, StringType) if s != null => s.toString
      case other => fail(s"$what must be a STRING literal, got $other")
    }

    def bool(what: String, e: Expression): Boolean = e match {
      case Literal(b: Boolean, BooleanType) => b
      case other => fail(s"$what must be a BOOLEAN literal (true/false), got $other " +
        "— a quoted 'true' or a 1 would silently mean the default")
    }

    def int(what: String, e: Expression): Int = e match {
      case Literal(i: Int, _) => i
      case Literal(l: Long, _) if l.isValidInt => l.toInt
      case other => fail(s"$what must be an INT literal, got $other")
    }

    def long(what: String, e: Expression): Long = e match {
      case Literal(i: Int, _) => i.toLong
      case Literal(l: Long, _) => l
      case other => fail(s"$what must be an integral literal, got $other")
    }

    def number(what: String, e: Expression): Double = e match {
      case Literal(d: Double, _) => d
      case Literal(f: Float, _) => f.toDouble
      case Literal(i: Int, _) => i.toDouble
      case Literal(l: Long, _) => l.toDouble
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
      case other => fail(s"$what must be a numeric literal, got $other")
    }

    private def tokens(what: String, e: Expression): Seq[String] =
      string(what, e).split(",").map(_.trim).filter(_.nonEmpty).toSeq

    def csv(what: String, e: Expression): Set[String] = tokens(what, e).toSet

    /** A key list `'k1,k2'`: each token strips ONE outer backtick pair, so
      * '`auto`' always names a column called auto.
      */
    def keys(what: String, e: Expression): Seq[String] =
      tokens(what, e).map(t => if (t.length > 1 && t.startsWith("`") && t.endsWith("`"))
        t.substring(1, t.length - 1) else t)

    /** A table side: a catalog table name first (the common case), else an
      * existing parquet PATH, so `graft_diff('path/a.parquet',
      * 'path/b.parquet', 'k')` works on files with no registration. Both
      * read the schema once here and plan the same pruned scan. A name with
      * catalog-illegal characters (a path) skips the catalog probe instead
      * of surfacing its parse error; neither resolving fails naming both.
      */
    def side(what: String, e: Expression): DataFrame = {
      val name = string(what, e)
      val inCatalog =
        try spark.catalog.tableExists(name)
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (inCatalog) spark.table(name)
      else {
        val p = new org.apache.hadoop.fs.Path(name)
        if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
          spark.read.parquet(name)
        else fail(s"$what '$name' is neither a table in the session " +
          "catalog nor an existing parquet path")
      }
    }

    /** The `left_table` and `right_table` sides. */
    def sides: (DataFrame, DataFrame) = (arg("left_table")(side), arg("right_table")(side))

    /** The `keys` argument of a keyed single-pair compare. The whole
      * argument being the bare word `auto` is a sentinel: infer the key
      * from the data (the sweep's election: unique and null-free on both
      * sides, ties broken by cross-side value overlap). A real column named
      * auto is '`auto`' (see [[keys]]). Inference failure is loud: the call
      * asked for a diff, not a sweep row.
      */
    def keysOrAuto(l: DataFrame, r: DataFrame): Seq[String] =
      if (arg("keys")(string).trim == "auto")
        Differ.inferDiffKey(l, r).getOrElse(fail(
          "keys => 'auto' found no atomic column or column pair " +
            "unique and null-free on both sides — pass explicit key columns"))
      else arg("keys")(keys)

    /** Per-table key overrides `keys_for => 'table:col1,col2;table2:col'`,
      * the sweeps' composite-key escape hatch (election elects single
      * columns only). A table named twice is refused; unmatched table names
      * are refused by the sweep itself.
      */
    def keysFor: Map[String, Seq[String]] = opt("keys_for")(string).fold(
      Map.empty[String, Seq[String]]) { spec =>
      val entries = spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
        val i = part.indexOf(':')
        if (i <= 0 || i >= part.length - 1)
          fail(s"keys_for entry '$part' must be 'table:col1,col2' (';'-separated entries)")
        part.substring(0, i).trim ->
          part.substring(i + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }
      val dups = entries.map(_._1).groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
      if (dups.nonEmpty) fail(s"keys_for names table(s) ${dups.mkString(", ")} more than once")
      entries.toMap
    }

    /** The [[diffOptionNames]] options folded onto [[DiffOptions]]. */
    def diffOptions: DiffOptions = named.foldLeft(DiffOptions()) { (o, na) =>
      val (w, v) = (s"option '${na.key}'", na.value)
      na.key match {
        case "abs_tol" => o.copy(absTol = number(w, v))
        case "rel_tol" => o.copy(relTol = number(w, v))
        case "tol_cols" => o.copy(tolCols = csv(w, v))
        case "ignore_cols" => o.copy(ignoreCols = csv(w, v))
        case "bag_cols" => o.copy(bagCols = csv(w, v))
        case "digest_cols" => o.copy(digestCols = csv(w, v))
        case "ignore_case" => o.copy(ignoreCase = bool(w, v))
        case "trim_ws" => o.copy(trimWs = bool(w, v))
        case "null_safe_keys" => o.copy(nullSafeKeys = bool(w, v))
        case _ => o
      }
    }
  }

  /** The (name, builder) of one table function: binds the call's arguments
    * to its contract, runs `body`, and splices the analyzed plan.
    */
  private def tvf(fn: String, usage: String, params: Seq[String], options: Seq[String])(
      body: Args => DataFrame): (String, Seq[Expression] => LogicalPlan) =
    fn -> (args => body(new Args(fn, usage, params, options, args)).queryExecution.analyzed)

  private val pair = Seq("left_table", "right_table")
  private val keyedPair = pair :+ "keys"

  /** `graft_diff('l', 'r', 'k1,k2' [, options])`: the keyed diff
    * ([[Differ.diff]]), and `graft_diff_summary(...)` its status census
    * ([[Differ.summaryOf]]). Named options fold onto [[DiffOptions]];
    * `auto_map => true` routes through [[Differ.diffAutoMapped]], which maps
    * renamed value columns and fails the query at analysis time, naming
    * the candidates, on an ambiguous or partial match. Keys may be 'auto'
    * ([[Args.keysOrAuto]]).
    */
  private def diffTvf(summary: Boolean) = {
    val fn = if (summary) "graft_diff_summary" else "graft_diff"
    tvf(fn, s"$fn('left_table', 'right_table', 'key1,key2' " +
      "[, abs_tol => 0.5, ignore_cols => 'a,b', auto_map => true, ...]); " +
      "keys may be 'auto' to infer the key from the data (quote a real " +
      "column named auto as '`auto`')", keyedPair, diffOptionNames :+ "auto_map") { a =>
      val opts = a.diffOptions
      val (l, r) = a.sides
      val keys = a.keysOrAuto(l, r)
      val diffed =
        if (a.opt("auto_map")(a.bool).getOrElse(false)) Differ.diffAutoMapped(l, r, keys, opts)
        else Differ.diff(l, r, keys, opts)
      if (summary) Differ.summaryOf(diffed, opts) else diffed
    }
  }

  /** `graft_diff_cols('l', 'r', 'k1,k2' [, options])`: per-column changed
    * counts ([[Differ.columnStats]]); keys and options as in `graft_diff`.
    */
  private def colsTvf = tvf("graft_diff_cols", "graft_diff_cols('left_table', " +
    "'right_table', 'key1,key2' [, abs_tol => 0.5, ignore_cols => 'a,b', ...])",
    keyedPair, diffOptionNames) { a =>
    val (l, r) = a.sides
    Differ.columnStats(l, r, a.keysOrAuto(l, r), a.diffOptions)
  }

  /** `graft_diff_unkeyed('l', 'r')`: the unkeyed multiset diff
    * ([[Differ.diffUnkeyed]]), each distinct full row with n_left, n_right
    * and a status. No options: the bag compare is exact by definition, and
    * a tolerance would need a join anchor.
    */
  private def unkeyedTvf = tvf("graft_diff_unkeyed",
    "graft_diff_unkeyed('left_table', 'right_table') — no options", pair, Nil) { a =>
    val (l, r) = a.sides
    Differ.diffUnkeyed(l, r)
  }

  /** `graft_diff_report('l', 'r', 'k' [, example_on => 'col', k => 5,
    * options])`: [[Differ.report]]'s long-format artifact (side row counts,
    * the status census, per-column change counts, the first `k` example
    * rows per non-N status). `example_on` defaults to the first shared
    * non-key column; `k` defaults to 5. Keys and the other options as in
    * `graft_diff`. The report is one lazy plan, so analysing this TVF runs
    * no Spark job.
    */
  private def reportTvf = tvf("graft_diff_report", "graft_diff_report('left_table', " +
    "'right_table', 'key1,key2' [, example_on => 'col', k => 5, abs_tol => 0.5, ...])",
    keyedPair, diffOptionNames ++ Seq("example_on", "k")) { a =>
    val opts = a.diffOptions
    val (l, r) = a.sides
    val keys = a.keysOrAuto(l, r)
    val ex = a.opt("example_on")(a.string).getOrElse(
      l.columns.find(c => !keys.contains(c) && r.columns.contains(c)).getOrElse(""))
    Differ.report(l, r, keys, exampleOn = ex, opts, k = a.opt("k")(a.int).getOrElse(5))
  }

  /** `graft_diff_dup('l', 'r', 'k' [, dup_pairing => 'by_value', options])`:
    * the duplicate-key rank-matched diff ([[Differ.diffDupKeyRank]]) for the
    * non-unique keys `graft_diff` refuses. `dup_pairing` picks the
    * within-group order: 'by_hash' (default, the canonical value
    * fingerprint) or 'by_value' (closest pairing on the normalized value
    * tuple). Keys follow the backtick convention but take no 'auto' (a dup
    * key is not unique); options as in `graft_diff`.
    */
  private def dupTvf = tvf("graft_diff_dup", "graft_diff_dup('left_table', " +
    "'right_table', 'key1,key2' [, dup_pairing => 'by_value', abs_tol => 0.5, ...])",
    keyedPair, diffOptionNames :+ "dup_pairing") { a =>
    val pairing: DupPairing = a.opt("dup_pairing")(a.string).fold(DupPairing.ByHash: DupPairing) {
      case "by_hash" => DupPairing.ByHash
      case "by_value" => DupPairing.ByValue
      case other => a.fail(s"dup_pairing must be 'by_hash' or 'by_value', got '$other'")
    }
    val opts = a.diffOptions.copy(dupPairing = pairing)
    val (l, r) = a.sides
    Differ.diffDupKeyRank(l, r, a.arg("keys")(a.keys), opts)
  }

  /** `graft_schema_diff('l', 'r')`: columns added, removed and retyped, as
    * [[Differ.schemaDiff]]'s small frame. No keys and no options: the
    * schemas are the whole input.
    */
  private def schemaDiffTvf = tvf("graft_schema_diff",
    "graft_schema_diff('left_table', 'right_table') — no options", pair, Nil) { a =>
    val (l, r) = a.sides
    Differ.schemaDiff(a.spark, l, r)
  }

  private val sweepParams = Seq("name_regex", "strip_suffix", "append_suffix")

  /** The right-side name of a catalog sweep: the left name with
    * `strip_suffix` removed and `append_suffix` appended (`staging_x_old` →
    * `staging_x_new`).
    */
  private def rightFor(a: Args): String => String = {
    val (strip, app) = (a.arg("strip_suffix")(a.string), a.arg("append_suffix")(a.string))
    n => n.stripSuffix(strip) + app
  }

  /** `graft_diff_catalog('name_regex', 'strip_suffix', 'append_suffix'
    * [, keys_for => ..., options])`: every catalog table matching the regex
    * diffs against its counterpart ([[rightFor]]) with keys inferred unless
    * `keys_for` pins them, as one long-format report with per-table
    * verdicts and error rows ([[Differ.catalogDiffTables]]). Enumeration,
    * key inference and plan assembly run at analysis time; the report
    * itself is one distributed union job.
    */
  private def catalogTvf = tvf("graft_diff_catalog", "graft_diff_catalog('name_regex', " +
    "'strip_suffix', 'append_suffix' [, keys_for => 'tbl:k1,k2;tbl2:k3', abs_tol => 0.5, ...])",
    sweepParams, diffOptionNames :+ "keys_for") { a =>
    Differ.catalogDiffTables(a.spark, a.arg("name_regex")(a.string), rightFor(a),
      a.diffOptions, a.keysFor)
  }

  /** `graft_diff_catalog_cols('name_regex', 'strip_suffix', 'append_suffix'
    * [, keys_for => ..., options])`: the catalog sweep's per-column drift
    * census ([[Differ.catalogDiffTablesCols]]); arguments as in
    * `graft_diff_catalog`.
    */
  private def catalogColsTvf = tvf("graft_diff_catalog_cols",
    "graft_diff_catalog_cols('name_regex', 'strip_suffix', 'append_suffix' " +
      "[, keys_for => 'tbl:k1,k2', abs_tol => 0.5, ...])",
    sweepParams, diffOptionNames :+ "keys_for") { a =>
    Differ.catalogDiffTablesCols(a.spark, a.arg("name_regex")(a.string), rightFor(a),
      a.diffOptions, a.keysFor)
  }

  /** `graft_diff_txnlog('/root/dir' [, from_version => 0, to_version => 2,
    * from_ts => '2026-01-05T12:00:00Z', to_ts => ..., keys_for => ...,
    * options])`: every TxnLog table under the root diffs one snapshot
    * against another ([[Differ.catalogDiffTxnLog]]), by default its
    * previous against its latest, with keys inferred and error rows for
    * single-version tables. `from_version`/`to_version` pin versions;
    * `from_ts`/`to_ts` (an ISO-8601 instant or epoch millis) pick each
    * table's latest version committed at or before the instant.
    */
  private def txnLogTvf = tvf("graft_diff_txnlog", "graft_diff_txnlog(" +
    "'/root/dir/of/txnlog/tables' [, from_version => 0, to_version => 2, " +
    "from_ts => '2026-01-05T12:00:00Z', to_ts => ..., keys_for => 'tbl:k1,k2', " +
    "abs_tol => 0.5, ...])", Seq("root_dir"),
    diffOptionNames ++ Seq("from_version", "to_version", "from_ts", "to_ts", "keys_for")) { a =>
    def instant(what: String, e: Expression): Long = e match {
      case Literal(s, StringType) if s != null =>
        try java.time.Instant.parse(s.toString).toEpochMilli
        catch { case _: java.time.format.DateTimeParseException =>
          a.fail(s"$what must be an ISO-8601 instant " +
            s"(e.g. '2026-01-05T12:00:00Z') or epoch millis, got '$s'")
        }
      case Literal(_: Int | _: Long, _) => a.long(what, e)
      case other => a.fail(s"$what must be an ISO-8601 instant string " +
        s"or epoch-millis integer literal, got $other")
    }
    Differ.catalogDiffTxnLog(a.spark, a.arg("root_dir")(a.string), a.diffOptions,
      a.opt("from_version")(a.long), a.opt("to_version")(a.long),
      a.opt("from_ts")(instant), a.opt("to_ts")(instant), a.keysFor)
  }

  /** `graft_diff_streams('l', 'r', 'ts_us', 'k1,k2', 'v1,v2', width_us)`:
    * the per-(window, key tuple) census diff (count, max, content digest;
    * I/C/N/D) of the stream-stream family's batch twin
    * ([[StreamOps.diffStreamStreamBatchKeyed]]), and
    * `graft_diff_streams_latest(...)` its last-write-wins form, where
    * `payload => 'any'` selects the canonical-payload variant for string
    * or struct rows (status on the canonical string). The timestamp column
    * is epoch micros; `width_us` must be an integral literal, because it is
    * the window assignment. Keys and value columns follow the backtick
    * convention.
    */
  private def streamsTvf(latest: Boolean) = {
    val fn = if (latest) "graft_diff_streams_latest" else "graft_diff_streams"
    tvf(fn, s"$fn('left_table', 'right_table', 'ts_us_col', 'k1,k2', 'v1,v2', width_us" +
      (if (latest) " [, payload => 'any']" else "") + ")",
      pair ++ Seq("ts_us_col", "keys", "value_cols", "width_us"), Seq("payload")) { a =>
      val payloadAny = a.opt("payload")(a.string) match {
        case Some(_) if !latest =>
          a.fail("option 'payload' applies to graft_diff_streams_latest only")
        case Some("any") => true
        case Some("numeric") | None => false
        case Some(p) => a.fail(s"payload must be 'any' or 'numeric', got '$p'")
      }
      val (l, r) = a.sides
      val (ts, keys, vals, width) = (a.arg("ts_us_col")(a.string), a.arg("keys")(a.keys),
        a.arg("value_cols")(a.keys), a.arg("width_us")(a.long))
      if (!latest) StreamOps.diffStreamStreamBatchKeyed(l, r, ts, keys, vals, width)
      else if (payloadAny) StreamOps.diffStreamStreamLatestAnyBatch(l, r, ts, keys, vals, width)
      else StreamOps.diffStreamStreamLatestBatchKeyed(l, r, ts, keys, vals, width)
    }
  }

  /** Runtime registration into an existing session (idempotent): the
    * kernel functions, the diff table functions, plus the
    * bounded-Levenshtein optimizer rewrite. A name already bound to this
    * object's own builder is left alone, so repeated calls neither
    * replace an entry nor log Spark's replacement warning.
    */
  def register(spark: SparkSession): Unit = {
    registerNew(spark.sessionState.functionRegistry, kernels)
    registerNew(spark.sessionState.tableFunctionRegistry, tableFunctions)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BoundedLevenshteinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BoundedLevenshteinRewrite
  }

  private def registerNew[T](registry: FunctionRegistryBase[T], entries: Seq[Entry[T]]): Unit =
    entries.foreach { case (ident, info, builder) =>
      if (!registry.lookupFunctionBuilder(ident).contains(builder))
        registry.registerFunction(ident, info, builder)
    }
}
