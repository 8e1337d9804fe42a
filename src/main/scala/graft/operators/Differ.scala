package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Duplicate-surplus pairing rule for [[Differ.diffDupKeyRank]]: how rows
  * within a non-unique key group line up for the rank-matched compare.
  */
sealed trait DupPairing
object DupPairing {
  /** Rank by the canonical value FINGERPRINT (rowHash) — stable, cheap
    * (one hash per row regardless of width), but hash order scatters
    * near-identical rows, so one changed value can re-rank a row far from
    * its former counterpart and cascade C rows across the group.
    */
  case object ByHash extends DupPairing
  /** Rank by the full VALUE TUPLE (all orderable shared value columns,
    * ascending nulls-first, fingerprint as the final tie-break) —
    * datacompy's practical sort-within-group behavior: near-identical rows
    * stay adjacent, so a single changed value re-pairs minimally instead
    * of cascading. Costs a wide sort key instead of one hash;
    * non-orderable (map-bearing) columns ride only the fingerprint
    * tie-break.
    */
  case object ByValue extends DupPairing
}

/** Options for [[Differ]].
  *
  * @param statusCol   name of the emitted status column (N/C/I/D)
  * @param leftPrefix  prefix for left-side value columns in the output
  * @param rightPrefix prefix for right-side value columns in the output
  * @param absTol      absolute numeric tolerance; 0 = exact (null-safe `<=>`)
  * @param relTol      relative numeric tolerance; the combined predicate is
  *                    `|l-r| <= absTol + relTol * greatest(|l|, |r|)` (the
  *                    numpy.isclose / datacompy convention), so either bound
  *                    alone or both together behave as expected
  * @param tolCols     columns the tolerance applies to; empty = all
  *                    floating-point (double/float) columns when a tolerance
  *                    is set. Integer columns get tolerance only by explicit
  *                    opt-in — a blanket numeric tolerance would silently
  *                    equate distinct surrogate keys.
  * @param ignoreCols  columns excluded from comparison AND from the output
  *                    (audit columns like updated_at that always differ)
  * @param bagCols     array-typed value columns compared as unordered BAGS
  *                    (multisets): both sides canonicalize via array_sort
  *                    before the null-safe compare, so a tag list written in
  *                    a different order is N, not C. Element types must be
  *                    orderable (no maps inside — map-bearing columns
  *                    already get the order-insensitive mapAwareEq path)
  * @param sparse      sparse output mode for [[Differ.diff]]: on C rows only
  *                    the columns that actually differ carry values (the
  *                    datacompy-style "show me what changed" report); equal
  *                    columns are nulled. I/D rows keep their full surviving
  *                    side, N rows carry nulls. Pure projection change — the
  *                    join, statuses and row set are identical
  * @param ignoreCase  compare STRING value columns case-folded (datacompy's
  *                    `ignore_case`): both sides lower() before the
  *                    null-safe compare. Output values stay ORIGINAL — the
  *                    normalization affects classification only. Pure
  *                    projection change, no extra exchange
  * @param trimWs      compare STRING value columns with leading/trailing
  *                    whitespace trimmed (datacompy's `ignore_spaces`);
  *                    composes with [[ignoreCase]] (trim, then fold)
  * @param digestCols  value columns compared (and REPORTED) as their
  *                    SHA-256 hex digest instead of their bytes — the blob
  *                    discipline for binary/huge-text columns at 100 TB:
  *                    the digest projects at the SCAN, so the full-outer
  *                    exchange ships 64 hex chars per cell, never the
  *                    blob, and the diff output carries the digests (a
  *                    reviewer fetches the two blobs BY KEY for the few C
  *                    rows that matter). Classification is exact up to
  *                    SHA-256 collision (the [[Differ.diffViaHash]] risk
  *                    class). Honored by every keyed compare in [[Differ]]
  *                    (diff and its reports, diffVsStatic/subsetCheck, the
  *                    hash paths)
  */
final case class DiffOptions(
    statusCol: String = "diff_status",
    leftPrefix: String = "left_",
    rightPrefix: String = "right_",
    absTol: Double = 0.0,
    relTol: Double = 0.0,
    tolCols: Set[String] = Set.empty,
    ignoreCols: Set[String] = Set.empty,
    sparse: Boolean = false,
    bagCols: Set[String] = Set.empty,
    ignoreCase: Boolean = false,
    trimWs: Boolean = false,
    /** Compare KEY columns null-safely (`<=>`, the default). Set false when
      * keys are guaranteed non-null (snapshot primary keys): plain `=` keys
      * let a diff over two key-bucketed snapshots reuse the bucket layout
      * and plan ZERO exchanges (SinksSpec pin) — `<=>` partitions on
      * (coalesce(k), isnull(k)), which never matches a bucket spec. Parquet
      * types all keys nullable, so this cannot be schema-inferred; with
      * `=`, any null-keyed row silently drops from the diff like any SQL
      * join. Value-column comparison is null-safe either way.
      */
    nullSafeKeys: Boolean = true,
    digestCols: Set[String] = Set.empty,
    /** Pairing rule for duplicate-key rank matching — see [[DupPairing]].
      * Only [[Differ.diffDupKeyRank]] reads it.
      */
    dupPairing: DupPairing = DupPairing.ByHash) {

  // A digested column is a SHA-256 hex STRING at compare time, so a numeric
  // tolerance silently degrades to exact hex equality and a bag compare
  // fails with a type error deep in the plan. Refuse the contradiction at
  // construction, naming the columns.
  {
    val clash = digestCols.intersect(tolCols ++ bagCols)
    require(clash.isEmpty,
      s"digestCols overlap tolCols/bagCols on [${clash.toSeq.sorted.mkString(", ")}]: " +
        "a digested column compares as its SHA-256 hex, so tolerance/bag " +
        "semantics cannot apply — digest a column OR compare it by " +
        "tolerance/bag, not both")
  }

  /** Key-compare operator per [[nullSafeKeys]]. */
  private[operators] def keyEq(l: org.apache.spark.sql.Column,
                               r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (nullSafeKeys) l <=> r else l === r
}

/** Schema-generic, null-safe DataFrame diff — the core capability of the
  * reference (a PySpark dataframe-diff utility; capability surface per
  * SURVEY.md §1–2, reference mount empty this round).
  *
  * Semantics: row identity is the user-supplied key column list; every other
  * column shared by both sides is a "value column" compared null-safely
  * (`<=>`, so null==null, and NaN==NaN per Spark semantics). Each row of the
  * full outer join is tagged:
  *   - `N` unchanged, `C` changed (>=1 value column differs),
  *   - `I` inserted (key only in right), `D` deleted (key only in left).
  *
  * Scale design (100 TB): value columns are pruned to the shared set before
  * the join; the only shuffle is the full-outer equi-join keyed on the key
  * columns (AQE handles skewed keys). Status + comparisons are codegen'd
  * expressions — no UDFs. For the two-phase "hash first, move only changed
  * rows" variant see [[Differ.diffViaHash]].
  */
object Differ {

  private val LP = "__graft_l_present"
  private val RP = "__graft_r_present"

  /** Backtick-quoted bare column ref: `col("a.b")` splits on the dot and
    * `col("c``d")` is a parse error — both are legal column names a schema
    * can carry. Every name-string ref in this object routes through
    * [[bq]]/[[q]] so a dotted or backticked name works on every diff
    * flavor.
    */
  private def bq(name: String): Column =
    col(s"`${name.replace("`", "``")}`")

  /** Backtick-quoted ref qualified by a dataset alias. */
  private def q(alias: String, name: String): Column =
    col(s"$alias.`${name.replace("`", "``")}`")

  /** N-ary union as a BALANCED pairwise tree, not a left fold (PLANS.md,
    * "Scale-up probe part 6"): every Dataset is eagerly ANALYZED at
    * creation, so `reduce(_ unionByName _)` re-analyzes the cumulative
    * k-child union at each of its N steps — O(N²) analyzer node visits
    * just to assemble the sweep, the measured superlinear factor at 300
    * pairs. Pairwise halving analyzes O(N log N) nodes total. Execution
    * is identical either way: CombineUnions collapses both shapes to the
    * same single flat multi-child Union (DifferSpec pins the optimized
    * plans equal at arity 33).
    */
  private[graft] def unionAllByName(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionAllByName: need at least one frame")
    @annotation.tailrec
    def go(xs: Seq[DataFrame]): DataFrame =
      if (xs.sizeIs == 1) xs.head
      else go(xs.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a)    => a
      }.toSeq)
    go(dfs)
  }

  /** Escapes for embedding names in generated SQL (stack() reshape): the
    * item label is a single-quoted literal, the value a backticked ref.
    */
  private def sqlStr(name: String): String = name.replace("'", "''")
  private def sqlBq(name: String): String = s"`${name.replace("`", "``")}`"

  /** Value columns = shared by both sides, minus keys, in left's order.
    * Fails fast with a precise message on an empty or absent key list —
    * the downstream join-condition reduce would otherwise throw an opaque
    * `UnsupportedOperationException: empty.reduceLeft`.
    */
  def valueCols(left: DataFrame, right: DataFrame, keys: Seq[String]): Seq[String] =
    valueCols(left, right, keys, DiffOptions())

  def valueCols(left: DataFrame, right: DataFrame, keys: Seq[String],
                opts: DiffOptions): Seq[String] = {
    require(keys.nonEmpty, "diff requires at least one key column")
    val missing = keys.filterNot(k => left.columns.contains(k) && right.columns.contains(k))
    require(missing.isEmpty,
      s"key column(s) ${missing.mkString(", ")} absent from " +
        s"left [${left.columns.mkString(", ")}] or right [${right.columns.mkString(", ")}]")
    val rightCols = right.columns.toSet
    left.columns.toSeq
      .filterNot(keys.contains)
      .filterNot(opts.ignoreCols.contains)
      .filter(rightCols.contains)
  }

  private def numeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** Does `dt` contain a MapType anywhere? Spark's `<=>` (EqualNullSafe)
    * rejects map-bearing types as un-comparable, so those columns need the
    * [[mapAwareEq]] rewrite.
    */
  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType          => true
    case ArrayType(et, _)    => containsMap(et)
    case StructType(fields)  => fields.exists(f => containsMap(f.dataType))
    case _                   => false
  }

  /** Map entries as a key-sorted array<struct<key,value>>: the canonical,
    * order-insensitive view of a map (two maps with the same pairs in
    * different insertion/storage order MUST compare equal — the
    * feature-store contract). Keys are unique and non-null by Spark's map
    * invariants, so sorting on the key alone is a total order; the
    * comparator never touches the (possibly map-typed, unorderable) value.
    */
  private def sortedEntries(c: Column): Column =
    array_sort(map_entries(c), (a, b) =>
      when(a.getField("key") < b.getField("key"), -1)
        .when(a.getField("key") > b.getField("key"), 1)
        .otherwise(0))

  /** Canonical JSON rendering of a map column: key-sorted entries as
    * `[{"key":…,"value":…},…]` — the artifact-boundary form for map-typed
    * diff output (pandas/duckdb-sortable, order-insensitive, NULL-passing).
    * DuckDB replays it as `to_json([{'key':…,'value':…},…])` byte-for-byte.
    */
  def mapCanon(c: Column): Column = to_json(sortedEntries(c))

  /** Null-safe equality for map-bearing types, built recursively from
    * comparable pieces (Spark refuses `<=>` on any type containing a map):
    *   - map:    key-sorted entries, then compared as array<struct>
    *   - struct: per-field recursion + matching null flags
    *   - array:  equal sizes + element-wise recursion (zip_with/forall)
    *   - leaf:   plain `<=>`
    * Every branch is codegen-able builtin functions — no UDF — and always
    * returns a NON-NULL boolean (leaves are `<=>`; composites guard nulls
    * explicitly), so callers can negate it freely.
    */
  private def mapAwareEq(l: Column, r: Column, dt: DataType): Column = dt match {
    case MapType(kt, vt, vn) =>
      val entryType = ArrayType(
        StructType(Seq(StructField("key", kt, nullable = false),
          StructField("value", vt, vn))))
      mapAwareEq(sortedEntries(l), sortedEntries(r), entryType)
    case st: StructType if containsMap(st) =>
      (l.isNull && r.isNull) || (l.isNotNull && r.isNotNull &&
        st.fields.map(f => mapAwareEq(l.getField(f.name), r.getField(f.name), f.dataType))
          .reduce(_ && _))
    case ArrayType(et, _) if containsMap(et) =>
      (l.isNull && r.isNull) || (l.isNotNull && r.isNotNull &&
        size(l) === size(r) &&
        coalesce(forall(zip_with(l, r, (a, b) => mapAwareEq(a, b, et)), x => x), lit(true)))
    case _ => l <=> r
  }

  private def floating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: DecimalType => true
    case _                                       => false
  }

  /** Null-safe per-column equality, with optional absolute/relative
    * tolerance (`|l-r| <= absTol + relTol * greatest(|l|, |r|)`).
    * Tolerance applies to `tolCols` if given (any numeric type), else to
    * floating-point columns only — never silently to integer key-like
    * columns (pinned by DifferSpec).
    */
  private def colEqual(l: Column, r: Column, dt: DataType, opts: DiffOptions, name: String): Column = {
    // Declared bag columns first: unordered-multiset semantics via sort-
    // then-compare (both sides canonicalize identically, so the null-safe
    // equality sees one representative per bag). Checked BEFORE the map
    // routing so a user who declares a map-bearing array as a bag gets a
    // loud contract error, not a silent fallback to positional compare.
    dt match {
      case ArrayType(et, _) if opts.bagCols.contains(name) =>
        require(!containsMap(et),
          s"bagCols('$name'): array elements must be orderable (no maps)")
        return array_sort(l) <=> array_sort(r)
      case _ if opts.bagCols.contains(name) =>
        throw new IllegalArgumentException(
          s"bagCols('$name'): column is ${dt.sql}, not an array")
      case _ => ()
    }
    // Map-bearing columns: `<=>` would throw (maps are un-comparable in
    // Spark), so route through the order-insensitive recursive compare.
    // Tolerance never applies inside complex types.
    if (containsMap(dt)) return mapAwareEq(l, r, dt)
    // Normalized string compare (datacompy ignore_spaces / ignore_case):
    // canonicalize BOTH sides identically before the null-safe compare —
    // trim first, then case-fold. Classification only; output values stay
    // original. Pure per-row projection, no exchange.
    dt match {
      case StringType if opts.ignoreCase || opts.trimWs =>
        def norm(x: Column): Column = {
          val t = if (opts.trimWs) trim(x) else x
          if (opts.ignoreCase) lower(t) else t
        }
        return norm(l) <=> norm(r)
      case _ => ()
    }
    val useTol = (opts.absTol > 0.0 || opts.relTol > 0.0) && numeric(dt) &&
      (if (opts.tolCols.isEmpty) floating(dt) else opts.tolCols.contains(name))
    if (useTol) {
      val bound = lit(opts.absTol) +
        (if (opts.relTol > 0.0) lit(opts.relTol) * greatest(abs(l), abs(r)) else lit(0.0))
      // `<=>` first: tolerance RELAXES exact equality, never tightens it —
      // without this disjunct an equal NaN/NaN or Inf/Inf pair would flip
      // to C under tolerance (abs(NaN) <= bound and Inf - Inf are NaN,
      // i.e. false). Pinned by DifferPropSpec's tolerance×sparse property
      // (NaN and +Inf are in its generator domain).
      (l <=> r) || (l.isNotNull && r.isNotNull && abs(l - r) <= bound)
    } else l <=> r
  }

  /** Is `dt` a fixed-width integer type? (Spark's IntegralType is
    * private[spark]; the concrete alternatives are the public surface.)
    */
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** Widened common type for a RETYPED value column (the most common
    * parquet schema drift: int32→int64, double→decimal), or None when the
    * pair isn't numeric-coercible. The ladder is lossless upward: integral
    * pairs take the wider width; any float/double involvement goes to
    * double (a decimal→double hop is how Spark itself coerces the mix);
    * decimal/integral and decimal/decimal take a decimal covering both
    * operands' integer digits and the max scale.
    */
  private def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case _ if integral(a) && integral(b) =>
      Some(if (a.defaultSize >= b.defaultSize) a else b)
    case (DoubleType | FloatType, _: NumericType) => Some(DoubleType)
    case (_: NumericType, DoubleType | FloatType) => Some(DoubleType)
    case (d: DecimalType, i) if integral(i) => Some(widenDecInt(d, i))
    case (i, d: DecimalType) if integral(i) => Some(widenDecInt(d, i))
    case (d1: DecimalType, d2: DecimalType) =>
      val s = math.max(d1.scale, d2.scale)
      val ip = math.max(d1.precision - d1.scale, d2.precision - d2.scale)
      Some(decimalOrDie(ip, s, d1, d2))
    case _ => None
  }

  /** The widening ladder's promise is LOSSLESS-upward; a decimal that
    * would need more than 38 digits cannot keep it, and silently capping
    * at 38 would overflow mid-query (an ANSI cast error on a data-
    * dependent row) or silently NULL values. Refuse at ANALYSIS time with
    * both types named instead.
    */
  private def decimalOrDie(intDigits: Int, scale: Int,
                           a: DataType, b: DataType): DataType = {
    require(intDigits + scale <= 38,
      s"cannot losslessly widen ${a.sql} and ${b.sql}: the common type needs " +
        s"${intDigits + scale} digits ($intDigits integer + $scale scale) but " +
        "DECIMAL caps at 38 — cast one side explicitly or ignore the column")
    DecimalType(intDigits + scale, scale)
  }

  /** Decimal wide enough for the decimal side AND the ACTUAL integral type
    * on the other side — the digit budget Spark's own `DecimalType.forType`
    * assigns (byte 3, short 5, int 10, long 20). Sizing to the real type
    * instead of a blanket long keeps int-vs-high-scale diffs losslessly
    * representable: DECIMAL(38,28) vs INT needs max(10,10)+28 = 38 and
    * passes, where a long would demand 48. A genuine overflow (long vs
    * scale>18) still refuses at analysis time via [[decimalOrDie]] — the explicit
    * `cast` on one side, or DiffOptions.ignoreCols, is the escape hatch
    * named in that error.
    */
  private def widenDecInt(d: DecimalType, i: DataType): DataType = {
    val intDigits = i match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10; case _ => 20
    }
    decimalOrDie(math.max(d.precision - d.scale, intDigits), d.scale, d, i)
  }

  /** Cast BOTH sides' retyped value columns `vcols` to their common wider
    * type (pure projection — no exchange, no extra pass), so a column that
    * drifted int32→int64 or double→decimal between snapshots still joins
    * the value compare instead of being un-diffable. Same-typed columns
    * pass through untouched (the no-drift fast path projects nothing).
    * A non-coercible retype (int→string, array→struct) fails loudly with
    * the column and both types named — schema_diff is the tool for those.
    */
  private def coerceValueTypes(left: DataFrame, right: DataFrame,
                               vcols: Seq[String]): (DataFrame, DataFrame) = {
    val lt = left.schema.fields.map(f => f.name -> f.dataType).toMap
    val rt = right.schema.fields.map(f => f.name -> f.dataType).toMap
    val casts = vcols.flatMap { c =>
      if (lt(c) == rt(c)) None
      else widen(lt(c), rt(c)) match {
        case Some(w) => Some(c -> w)
        case None => throw new IllegalArgumentException(
          s"value column '$c' was retyped ${lt(c).sql} -> ${rt(c).sql} and the " +
            "pair is not numeric-coercible; drop or map it (schema_diff reports " +
            "retypes; DiffOptions.ignoreCols excludes them)")
      }
    }.toMap
    if (casts.isEmpty) (left, right)
    else {
      def project(df: DataFrame): DataFrame = df.select(df.columns.toSeq.map { c =>
        casts.get(c).fold(bq(c))(w => bq(c).cast(w).as(c))
      }: _*)
      (project(left), project(right))
    }
  }

  /** Digest-column projection (DiffOptions.digestCols): each named column
    * becomes its SHA-256 hex at the scan, so no downstream exchange ever
    * ships the blob. Runs BEFORE type coercion: a blob column retyped
    * STRING↔BINARY between snapshots digests to the same hex either way,
    * so the retype is a non-event instead of a coercion failure.
    */
  private def digested(df: DataFrame, keys: Seq[String],
                       opts: DiffOptions): DataFrame =
    opts.digestCols.foldLeft(df) { (d0, c) =>
      require(d0.columns.contains(c), s"digestCols('$c'): column absent " +
        s"from [${d0.columns.mkString(", ")}]")
      require(!keys.contains(c), s"digestCols('$c'): keys cannot be digested " +
        "(the join must address the real key)")
      d0.withColumn(c, sha2(bq(c).cast("binary"), 256))
    }

  /** Both sides of a keyed compare after [[prepare]]: `left`/`right` are
    * the digested, widened frames, `vcols` the compared value columns (in
    * left's order) and `types` their compare types. [[l]]/[[r]] project
    * each side to keys + `vcols` under the aliases `l`/`r`; [[joinCond]],
    * [[colEq]] and [[allEqual]] resolve against a join of those two.
    */
  private final case class Keyed(left: DataFrame, right: DataFrame,
                                 keys: Seq[String], vcols: Seq[String],
                                 opts: DiffOptions) {
    val types: Map[String, DataType] =
      left.schema.fields.map(f => f.name -> f.dataType).toMap

    /** `present` adds an always-true marker ([[LP]]/[[RP]]) that reads NULL
      * exactly where an outer join null-extends the side — unlike the key
      * columns, which can be NULL themselves.
      */
    def l(present: Boolean = false): DataFrame = side(left, "l", LP, present)
    def r(present: Boolean = false): DataFrame = side(right, "r", RP, present)
    private def side(df: DataFrame, alias: String, marker: String,
                     present: Boolean): DataFrame = {
      val cols = (keys ++ vcols).map(bq)
      df.select((if (present) cols :+ lit(true).as(marker) else cols): _*).alias(alias)
    }

    /** Key join per [[DiffOptions.nullSafeKeys]]. */
    def joinCond: Column =
      keys.map(k => opts.keyEq(q("l", k), q("r", k))).reduce(_ && _)

    /** Key-matched pairs: the inner join of [[l]] and [[r]]. */
    def matched: DataFrame = l().join(r(), joinCond, "inner")

    /** [[colEqual]] of value column `c` over the joined `l`/`r` sides, or
      * over any other pair of columns carrying its two values.
      */
    def colEq(c: String): Column = colEq(c, q("l", c), q("r", c))
    def colEq(c: String, lc: Column, rc: Column): Column =
      colEqual(lc, rc, types(c), opts, c)

    def allEqual: Column = vcols.map(colEq(_)).reduceOption(_ && _).getOrElse(lit(true))

    /** `<leftPrefix>c` / `<rightPrefix>c` output pairs from the joined
      * sides; `keep(c)`, when given, nulls both values where it is false.
      */
    def valuePairs(keep: Option[String => Column] = None): Seq[Column] =
      vcols.flatMap { c =>
        def v(side: String): Column = keep.fold(q(side, c))(k => when(k(c), q(side, c)))
        Seq(v("l").as(s"${opts.leftPrefix}$c"), v("r").as(s"${opts.rightPrefix}$c"))
      }

    /** The frames the hash paths fingerprint: string value columns
      * normalized like [[colEqual]]'s ignoreCase/trimWs branch (trim, then
      * case-fold), so hash classification agrees with [[diff]]'s. No-op at
      * default options; value fetches read `left`/`right`, never these.
      */
    lazy val hashSides: (DataFrame, DataFrame) = {
      def norm(df: DataFrame): DataFrame =
        if (!opts.ignoreCase && !opts.trimWs) df
        else df.select(df.columns.toSeq.map { c =>
          if (vcols.contains(c) && df.schema(c).dataType == StringType) {
            val t = if (opts.trimWs) trim(bq(c)) else bq(c)
            (if (opts.ignoreCase) lower(t) else t).as(c)
          } else bq(c)
        }: _*)
      (norm(left), norm(right))
    }
  }

  /** The one preparation of every keyed compare: digest
    * ([[digested]]), then widen retypes ([[coerceValueTypes]]), then
    * prune to the shared value columns ([[valueCols]]).
    *
    * `tolerant` compares (the default) first refuse a digested floating
    * column under a DEFAULT tolerance (tolCols empty ⇒ absTol/relTol apply
    * to all floating columns): a digested column compares as SHA-256 hex,
    * so the tolerance could not apply. [[DiffOptions]]' construction guard
    * covers explicit tolCols; this form needs the schema. Exact compares
    * (the hash paths, [[numericStats]]) ignore tolerance, so the
    * contradiction does not exist for them and they pass `false`.
    */
  private def prepare(left0: DataFrame, right0: DataFrame, keys: Seq[String],
                      opts: DiffOptions, tolerant: Boolean = true): Keyed = {
    if (tolerant && (opts.absTol > 0.0 || opts.relTol > 0.0) && opts.tolCols.isEmpty) {
      val clash = opts.digestCols.filter(c =>
        left0.schema.fields.exists(f => f.name == c && floating(f.dataType)))
      require(clash.isEmpty,
        s"digestCols [${clash.toSeq.sorted.mkString(", ")}] are floating " +
          "columns under a default tolerance (tolCols empty applies " +
          "absTol/relTol to ALL floating columns): a digested column " +
          "compares as SHA-256 hex, so the tolerance cannot apply — name " +
          "tolCols explicitly or drop the digest")
    }
    val (dl, dr) = (digested(left0, keys, opts), digested(right0, keys, opts))
    val vcols = valueCols(dl, dr, keys, opts)
    val (left, right) = coerceValueTypes(dl, dr, vcols)
    Keyed(left, right, keys, vcols, opts)
  }

  /** The N/C/I/D rule of every keyed compare: a key missing on the left
    * was inserted, one missing on the right deleted; a key on both sides
    * is C when `changed`, else N. A side that cannot be missing passes
    * `lit(false)`; the optimizer drops that branch.
    */
  private def statusOf(lMissing: Column, rMissing: Column, changed: Column): Column =
    when(lMissing, lit("I")).when(rMissing, lit("D")).when(changed, lit("C"))
      .otherwise(lit("N"))

  /** Full diff: one output row per key in either side, with
    * `diff_status`, the (coalesced) key columns, and
    * `left_<c>` / `right_<c>` for every value column.
    *
    * Retyped value columns (int32→int64, double→decimal — the common
    * parquet schema drift) are widened to the common type on BOTH sides
    * before the compare ([[coerceValueTypes]]); the output pair carries
    * the widened type. Non-coercible retypes fail loudly.
    */
  def diff(left: DataFrame, right: DataFrame, keys: Seq[String],
           opts: DiffOptions = DiffOptions()): DataFrame =
    diffOf(prepare(left, right, keys, opts))

  /** [[diff]] of a prepared pair. Both sides are pruned to keys + shared
    * value columns before the join, and the presence markers tag I/D
    * correctly for null keys.
    */
  private def diffOf(p: Keyed): DataFrame = {
    val status = statusOf(col(LP).isNull, col(RP).isNull, !p.allEqual)
    val keyOut = p.keys.map(k => coalesce(q("l", k), q("r", k)).as(k))
    // Sparse report: keep values where they inform — the surviving side of
    // I/D rows, and only the differing columns of C rows.
    val keep = Option.when(p.opts.sparse)((c: String) =>
      col(LP).isNull || col(RP).isNull || !p.colEq(c))
    p.l(present = true).join(p.r(present = true), p.joinCond, "full_outer")
      .select(status.as(p.opts.statusCol) +: (keyOut ++ p.valuePairs(keep)): _*)
  }

  /** The 4-status census over an already-built diff frame — ONE definition
    * of the summary shape, shared by [[summary]] and the SQL TVF so the
    * two surfaces cannot drift.
    */
  def summaryOf(diffed: DataFrame,
                opts: DiffOptions = DiffOptions()): DataFrame =
    diffed.groupBy(opts.statusCol).agg(count(lit(1)).as("n"))

  /** Headline report: row counts per diff status. */
  def summary(left: DataFrame, right: DataFrame, keys: Seq[String],
              opts: DiffOptions = DiffOptions()): DataFrame =
    summaryOf(diff(left, right, keys, opts), opts)

  /** Catalog-level multi-table diff sweep — "did last night's load
    * change ANY of the N tables?" as ONE long-format report: per table
    * pair, [[summary]]'s 4-status census (every status always present,
    * zero-filled — a fixed 4 rows per table so the report is scannable)
    * plus [[schemaDiff]]'s non-`same` rows, each row carrying a per-table
    * `pass`/`fail` verdict (`pass` ⇔ zero C/I/D AND zero schema drift).
    *
    * Output: `(table_name, kind['census'|'schema'], item[status letter |
    * column name], detail[NULL | schema status], n[count | NULL],
    * verdict)` — `tables × (4 + drift)` rows.
    *
    * Scale shape: per table pair, [[diff]]'s full-outer join (one
    * exchange per side) feeds ONE global aggregate of the four status
    * counts (map-side partial counts, one single-partition exchange of a
    * row per partition), and one `inline` emits the pair's rows. Schema
    * drift is known at plan time, so its rows and its share of the
    * verdict are literals; the verdict is an expression over the counts.
    * No spine join, broadcast or window: 3 exchanges per pair. The
    * per-pair plans UNION into one job — no driver-side loop over
    * collected results, no action until the caller runs the report.
    * Retyped columns follow [[diff]]'s coercion contract (a
    * non-coercible retype fails loudly — schemaDiff alone is the tool for
    * those pairs).
    */
  def catalogDiff(pairs: Seq[(String, DataFrame, DataFrame, Seq[String])],
                  opts: DiffOptions = DiffOptions()): DataFrame = {
    require(pairs.nonEmpty, "catalogDiff: need at least one table pair")
    requireUniqueNames("catalogDiff", pairs.map(_._1))
    // count(when(…)), not sum: 0, not NULL, over two empty inputs.
    val counts = Statuses.map(s => count(when(col(opts.statusCol) === s, 1)).as(s"__graft_n$s"))
    unionAllByName(pairs.map { case (name, l, r, keys) =>
      val drift = schemaChanges(l, r).collect {
        case (c, _, _, status) if status != "same" => (c, status)
      }
      diff(l, r, keys, opts).agg(counts.head, counts.tail: _*)
        .select(inline(catalogRows(name, s => col(s"__graft_n$s"), drift)
          .cast(ArrayType(CatalogRow, containsNull = false))))
    })
  }

  private val Statuses = Seq("N", "C", "I", "D")

  /** Refuses two report entries under one table name: a row census would
    * show 8 census rows and two verdicts under it, a column census two
    * rows per column.
    */
  private def requireUniqueNames(what: String, names: Seq[String]): Unit = {
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    require(dups.isEmpty, s"$what: duplicate table name(s) ${dups.mkString(", ")} — " +
      "each pair must carry a unique report name or their rows would merge")
  }

  /** A [[catalogDiff]] report row. A pair's rows are cast to it so `item`
    * and `n` stay nullable whether or not the pair drifted, as the
    * report has always declared them.
    */
  private val CatalogRow = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("item", StringType), StructField("detail", StringType),
    StructField("n", LongType), StructField("verdict", StringType, nullable = false)))

  /** One pair's [[catalogDiff]] rows as an array of structs: the census
    * from the status counts `n`, then one row per drifted (column,
    * status), every row with the pair's verdict.
    */
  private def catalogRows(name: String, n: String => Column,
                          drift: Seq[(String, String)]): Column = {
    val changed = Statuses.tail.map(n).reduce(_ + _) > 0L
    val verdict = when(lit(drift.nonEmpty) || changed, lit("fail")).otherwise(lit("pass"))
    def row(kind: String, item: String, detail: Column, cnt: Column): Column =
      struct(lit(name).as("table_name"), lit(kind).as("kind"), lit(item).as("item"),
        detail.as("detail"), cnt.as("n"), verdict.as("verdict"))
    array(Statuses.map(s => row("census", s, lit(null).cast(StringType), n(s))) ++
      drift.map { case (c, status) => row("schema", c, lit(status), lit(null).cast(LongType)) }: _*)
  }

  /** Catalog-wide COLUMN drift census — the column-grain sibling of
    * [[catalogDiff]]'s row-grain census: per (table, column), how many
    * key-matched rows differ in THAT column, with the pair's matched-row
    * count as the shared denominator — "which column drifted,
    * catalog-wide, and at what rate?" (a row census says 40k C rows; this
    * says they're ALL the price column — the difference between paging a
    * team and fixing one upstream job). Output: `(table_name,
    * column_name, n_diff, n_matched)`, one row per shared value column
    * per pair; a keys-only pair contributes no rows.
    *
    * Scale shape: per pair ONE inner-join exchange ([[columnStats]]'
    * plan) and ONE aggregation pass — count(*) plus every per-column
    * conditional sum riding the same map-side-combinable agg, so column
    * count widens the agg row, never adds jobs — then a codegen'd stack
    * unpivot of the 1-row agg result; pairs union into one job
    * ([[unionAllByName]]). Tolerance/ignore options apply per
    * [[DiffOptions]] exactly as in [[diff]].
    */
  def catalogDiffCols(pairs: Seq[(String, DataFrame, DataFrame, Seq[String])],
                      opts: DiffOptions = DiffOptions()): DataFrame = {
    require(pairs.nonEmpty, "catalogDiffCols: need at least one table pair")
    requireUniqueNames("catalogDiffCols", pairs.map(_._1))
    unionAllByName(pairs.map { case (name, left, right, keys) =>
      columnDiffCounts(left, right, keys, opts)
        .select(lit(name).as("table_name"), col("column_name"),
          col("n_diff"), col("n_matched"))
    })
  }

  /** Shared body of [[columnStats]] and [[catalogDiffCols]]: the pair
    * goes through [[prepare]], so a retyped column widens (or refuses)
    * exactly as in [[diff]] and tolerance applies on the widened type —
    * then ONE inner join + ONE aggregation pass (count(*) plus every
    * per-column conditional sum in the same map-side-combinable agg) and
    * a codegen'd stack unpivot. Internal aliases are positional
    * (`__graft_d_<i>`), so user columns named anything — including the
    * markers themselves — cannot collide. Output: (column_name, n_diff,
    * n_matched); zero shared value columns → zero rows.
    */
  private def columnDiffCounts(left: DataFrame, right: DataFrame,
                               keys: Seq[String],
                               opts: DiffOptions): DataFrame = {
    val p = prepare(left, right, keys, opts)
    if (p.vcols.isEmpty)
      return left.sparkSession.range(0).select(lit("").as("column_name"),
        lit(0L).as("n_diff"), lit(0L).as("n_matched"))
    val aggs = count(lit(1)).as("__graft_nm") +: p.vcols.zipWithIndex.map {
      case (c, i) =>
        coalesce(sum(when(!p.colEq(c), 1L).otherwise(0L)), lit(0L)).as(s"__graft_d_$i")
    }
    val stackExpr = p.vcols.zipWithIndex
      .map { case (c, i) => s"'${sqlStr(c)}', `__graft_d_$i`" }.mkString(", ")
    p.matched.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${p.vcols.size}, $stackExpr) as (column_name, n_diff)",
        "`__graft_nm`")
      .select(col("column_name"), col("n_diff"),
        col("__graft_nm").as("n_matched"))
  }

  /** Catalog-SOURCED column drift census: [[catalogDiffCols]] takes
    * caller-constructed pairs; this one takes the production question
    * directly — "which column drifted, across every table matching
    * `pattern`?" — with [[catalogDiffTables]]' exact enumeration, key
    * election, and `keysFor` overrides. Output adds a `note` column to
    * [[catalogDiffCols]]' shape: healthy rows carry NULL, and a table the
    * census cannot cover survives as ONE `(name, NULL, NULL, NULL,
    * '<class>: <detail>')` row — the same survive-one-bad-table contract
    * as the row-census sweep, in column-census shape. Scale shape
    * inherits both parents': metadata enumeration + the schema-width
    * stats job, then one inner-join exchange + one agg pass per pair.
    */
  def catalogDiffTablesCols(spark: org.apache.spark.sql.SparkSession,
                            pattern: String, rightFor: String => String,
                            opts: DiffOptions = DiffOptions(),
                            keysFor: Map[String, Seq[String]] = Map.empty)
      : DataFrame = {
    def noteRow(n: String, item: String, detail: String): DataFrame =
      spark.range(1).select(lit(n).as("table_name"),
        lit(null).cast("string").as("column_name"),
        lit(null).cast("long").as("n_diff"),
        lit(null).cast("long").as("n_matched"),
        lit(s"$item: $detail").as("note"))
    sweepCore(catalogEntries(spark, pattern, rightFor,
        "catalogDiffTablesCols"), keysFor,
      renderPair = (n, l, r, ks) =>
        // a table whose key covers EVERY shared column has nothing to
        // census — still a row, not silence (a dropped table would read
        // as "never swept")
        if (valueCols(l, r, ks, opts).isEmpty)
          noteRow(n, "no_value_columns",
            s"every shared column is part of the key (${ks.mkString(", ")}) " +
              "— nothing to census")
        else columnDiffCounts(l, r, ks, opts)
          .select(lit(n).as("table_name"), col("column_name"),
            col("n_diff"), col("n_matched"),
            lit(null).cast("string").as("note")),
      renderErr = noteRow)
  }

  /** Catalog-SOURCED multi-table diff sweep ([[catalogDiff]] takes
    * caller-constructed pairs, this one takes the production question
    * directly: "diff every table in the catalog matching `pattern`
    * against its counterpart"): enumerate catalog tables whose name
    * matches the regex, pair each with `rightFor(name)`, AUTO-infer the
    * diff key per pair ([[electKeys]]: an atomic column
    * unique and null-free on BOTH sides — left-only uniqueness would let
    * a double-loaded right table fan out the join — with multi-candidate
    * ties broken by cross-side distinct-value overlap, so a churned
    * load-timestamp decoy ahead of the real key loses), and fold everything
    * into one [[catalogDiff]] report. Failures a sweep must SURVIVE
    * become report rows, not exceptions (one bad table cannot kill the
    * other N−1):
    *   - right table missing from the catalog →
    *     `(name, 'error', 'missing_right', <right name>, NULL, 'fail')`
    *   - no atomic column or pair unique + null-free on both sides →
    *     `(name, 'error', 'no_unique_key', <prose>, NULL, 'fail')`
    *   - a pair the diff plan refuses (non-coercible retype, …) →
    *     `(name, 'error', 'pair_invalid', <refusal message>, NULL, 'fail')`
    *
    * Scale shape: the table listing is metadata (catalog API); key
    * inference is ONE job over every table ([[electKeys]]: a long-form
    * per-value count collected at (tables × columns) grain — bounded by
    * schema width, never row count), plus one pair-tier job only when a
    * table has no single-column key. The diffs themselves are
    * [[catalogDiff]]'s union job: three exchanges per pair.
    *
    * Plan-size bound in TABLE COUNT (PLANS.md, "Scale-up probe part 6"):
    * with [[unionAllByName]]'s balanced assembly, 3/30/300 pairs ran
    * 3.4/7.2/64.7 s end-to-end on tiny tables — per-table cost FALLS
    * with N (0.24 s at 30 → 0.22 s at 300; fixed session cost amortizes,
    * no superlinear term). The prior left-fold assembly measured 127.4 s
    * at 300 (each fold step eagerly re-analyzes the cumulative union —
    * O(N²) analyzer visits); the balanced tree halved it. Through
    * hundreds of tables the single-job design holds outright; a
    * MULTI-THOUSAND-table catalog can still batch into chunks of a few
    * hundred pairs per call (the report is a plain union — chunked
    * results concatenate exactly) to bound single-job failure blast
    * radius, but plan cost no longer forces it.
    *
    * Per-table KEY OVERRIDES: `keysFor(name) = keys` pins a
    * pair's diff key explicitly — election only elects SINGLE columns, so
    * a table whose identity is COMPOSITE ((order, line), (user, day))
    * would otherwise dead-end as a `no_unique_key` error row with no
    * recourse. An overridden pair skips the inference stats scan
    * entirely (its columns never enter the unioned stats job); the
    * override is the caller's assertion, carried on [[diff]]'s own
    * contract (uniqueness is not re-verified — [[diffDupKeys]] is the
    * audit tool), and an override naming absent columns demotes to that
    * pair's `pair_invalid` error row like any other plan-time refusal.
    * An override naming a table the sweep never visits refuses LOUDLY at
    * construction (a misspelled entry would otherwise be silently ignored
    * while its pair falls back to election).
    */
  def catalogDiffTables(spark: org.apache.spark.sql.SparkSession,
                        pattern: String, rightFor: String => String,
                        opts: DiffOptions = DiffOptions(),
                        keysFor: Map[String, Seq[String]] = Map.empty)
      : DataFrame = {
    sweepReport(spark,
      catalogEntries(spark, pattern, rightFor, "catalogDiffTables"),
      opts, keysFor)
  }

  /** [[catalogDiffTables]]' lakehouse sibling: sweep every
    * [[graft.sources.TxnLog]] table under `rootDir` (any child directory
    * carrying a `_graft_log`) and diff each table's PREVIOUS snapshot
    * against its LATEST — "did last night's commits change anything, per
    * table?" — with the same auto-inferred keys and survive-one-bad-table
    * error rows as the catalog form. A table with fewer than two versions
    * cannot be diffed and lands as a `no_previous_version` error row.
    * Enumeration and version resolution are log metadata (KB-sized JSON),
    * and so is each snapshot's schema (one parquet footer,
    * [[graft.sources.TxnLog.read]]): building the sweep runs no Spark job
    * beyond [[electKeys]]' collect. The reads are snapshot-pinned parquet
    * scans, so the whole sweep is time-travel-consistent even while
    * writers keep committing. No snapshot is cached: the election and the
    * pair diff each scan an endpoint's files once, where an in-memory copy
    * would add a build job and its own generated classes per schema to
    * every run and hold two full table copies per table at scale.
    *
    * Version-RANGE overrides: the
    * default `(None, None)` diffs prev-vs-latest per table (the nightly
    * check); `fromVer`/`toVer` pin the endpoints GLOBALLY across the
    * sweep — "what changed between v0 and v2, per table" / "since Monday"
    * when the caller resolves the Monday version numbers. `toVer = None`
    * means each table's latest; `fromVer = None` means `toVer - 1`. A
    * table that cannot satisfy the requested range (version beyond its
    * latest, or from > to) survives as a `version_out_of_range` error row
    * — the same one-bad-table-cannot-kill-the-sweep contract as every
    * other failure class. All reads stay snapshot-pinned
    * (`TxnLog.read(asOf)`), so the sweep is time-travel-consistent under
    * concurrent writers at ANY requested range.
    *
    * TIMESTAMP endpoints: `fromTs`/`toTs` (epoch millis) resolve PER
    * TABLE to the latest version committed at-or-before the instant
    * ([[graft.sources.TxnLog.versionAsOf]] — Delta-style: a commit's
    * timestamp is its log file's modification time), so ONE wall-clock
    * question — "what changed since Monday 09:00?" — sweeps a catalog
    * whose tables all sit at different version numbers. A table whose
    * whole log postdates a requested instant survives as a
    * `timestamp_out_of_range` error row. Version
    * and timestamp pins are mutually exclusive PER ENDPOINT (mixing, e.g.
    * `fromVer` with `toTs`, is legal); resolution is log metadata, the
    * reads stay snapshot-pinned.
    */
  def catalogDiffTxnLog(spark: org.apache.spark.sql.SparkSession,
                        rootDir: String,
                        opts: DiffOptions = DiffOptions(),
                        fromVer: Option[Long] = None,
                        toVer: Option[Long] = None,
                        fromTs: Option[Long] = None,
                        toTs: Option[Long] = None,
                        keysFor: Map[String, Seq[String]] = Map.empty)
      : DataFrame = {
    import graft.sources.TxnLog
    import scala.jdk.CollectionConverters._
    require(fromVer.isEmpty || fromTs.isEmpty,
      "catalogDiffTxnLog: give from_version OR from_ts, not both")
    require(toVer.isEmpty || toTs.isEmpty,
      "catalogDiffTxnLog: give to_version OR to_ts, not both")
    val root = java.nio.file.Paths.get(rootDir)
    require(java.nio.file.Files.isDirectory(root),
      s"catalogDiffTxnLog: '$rootDir' is not a directory")
    // close the listing stream — Files.list holds a dir fd open
    val tables = locally {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p.resolve("_graft_log")))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
    require(tables.nonEmpty,
      s"catalogDiffTxnLog: no TxnLog table (dir with _graft_log) under '$rootDir'")
    val defaultPrev =
      fromVer.isEmpty && toVer.isEmpty && fromTs.isEmpty && toTs.isEmpty
    sweepReport(spark, tables.map { p =>
      val name = p.getFileName.toString
      val latest = TxnLog.latestVersion(p.toString)
      // Either = the sweep's survive-one-bad-table carrier: a per-table
      // resolution failure becomes its error row, never an exception
      def resolve(ts: Long, label: String): Either[(String, String), Long] =
        TxnLog.versionAsOf(p.toString, ts) match {
          case Some(v) => Right(v)
          case None => Left(("timestamp_out_of_range",
            s"$label ${java.time.Instant.ofEpochMilli(ts)} predates the " +
              s"first commit (versions 0..$latest)"))
        }
      val endpoints = for {
        t <- toVer.map(v => Right(v): Either[(String, String), Long])
          .orElse(toTs.map(resolve(_, "to_ts"))).getOrElse(Right(latest))
        f <- fromVer.map(v => Right(v): Either[(String, String), Long])
          .orElse(fromTs.map(resolve(_, "from_ts"))).getOrElse(Right(t - 1L))
      } yield (f, t)
      def snap(v: Long): DataFrame = TxnLog.read(spark, p.toString, Some(v))
      endpoints match {
        case Left(err) => (name, Left(err))
        case Right((f, t)) =>
          if (defaultPrev && latest < 1L)
            (name, Left(("no_previous_version",
              s"latest version $latest — need two snapshots to diff")))
          else if (f < 0L || t > latest || f > t)
            (name, Left(("version_out_of_range",
              s"requested v$f..v$t, table has versions 0..$latest")))
          else (name, Right((snap(f), snap(t))))
      }
    }, opts, keysFor)
  }

  /** One shared atomic column of an election pair, as the election's
    * collect saw it: per side the distinct, non-null and row counts, and
    * the number of distinct values present on BOTH sides.
    */
  private final case class KeyStat(name: String, pos: Int,
                                   dL: Long, nnL: Long, nL: Long,
                                   dR: Long, nnR: Long, nR: Long,
                                   shared: Long) {
    def nullFree: Boolean = nnL == nL && nnR == nR
    def unique: Boolean = nullFree && dL == nL && dR == nR
    /** Share of the left side's distinct values also on the right, ppm. */
    def overlapPpm: Long = if (dL == 0L) 0L else shared * 1000000L / dL
  }

  /** Types whose values [[groupingImage]] can keep as a BIGINT; two
    * columns' numbers are comparable only within one family.
    */
  private def numberFamily(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("integral")
    case DateType      => Some("date")
    case TimestampType => Some("timestamp")
    case _             => None
  }

  /** Injective image of a value under Spark's grouping equality, as a
    * (BIGINT, STRING) pair of which a non-NULL value sets exactly one:
    * two values group together iff their images are equal, and NULL maps
    * to (NULL, NULL). `asNumber` keeps an integer, DATE (epoch day) or
    * TIMESTAMP (epoch micros) an 8-byte number, which the caller asks for
    * when both sides of a pair share the column's [[numberFamily]]; any
    * other value is a string — NaN and ±0.0 normalized, BINARY as hex (a
    * UTF-8 decode would merge invalid byte sequences), TIMESTAMP as epoch
    * micros (a session-zone rendering repeats wall times at a DST
    * fall-back), the rest as Spark's string cast, so a column whose type
    * drifted between sides still meets itself.
    */
  private def groupingImage(c: Column, dt: DataType,
                            asNumber: Boolean): (Column, Column) =
    if (asNumber) (dt match {
        case DateType      => unix_date(c).cast(LongType)
        case TimestampType => unix_micros(c)
        case _             => c.cast(LongType)
      }, lit(null).cast(StringType))
    else (lit(null).cast(LongType), dt match {
      case FloatType | DoubleType =>
        when(c === lit(0).cast(dt), lit(0).cast(dt)).otherwise(c).cast(StringType)
      case BinaryType    => hex(c)
      case TimestampType => unix_micros(c).cast(StringType)
      case _             => c.cast(StringType)
    })

  /** Key ELECTION shared by the sweep surfaces and the single-pair
    * `keys => 'auto'` TVF path: per named pair, the diff key is the
    * atomic column unique + null-free on BOTH sides — and when MORE THAN
    * ONE column qualifies, the tie is broken by CROSS-SIDE DISTINCT-VALUE
    * OVERLAP, schema position last. Schema order alone could elect a
    * unique-but-wrong identity column — a load timestamp or per-snapshot
    * surrogate sitting EARLIER than the real key; if its values churn
    * between snapshots, every changed row reports as a D+I pair instead
    * of C. The real key's values persist across snapshots; a churned
    * surrogate's do not — the same distinct-set-overlap signal
    * [[autoMapReport]] grades value columns with, applied at candidate
    * scope. Uniqueness, null-freedom and overlap all follow Spark's
    * grouping equality ([[groupingImage]]).
    *
    * Scale shape: ONE job answers the single-column tier for every pair.
    * Each side of each pair becomes long-form rows `(t, c, n, s, side)`,
    * one per shared atomic column, with `(n, s)` the value's
    * [[groupingImage]]; grouping by `(t, c, n, s)` counts each value per
    * side, and grouping again by `(t, c)` yields each side's distinct,
    * non-null and row counts plus the shared-value count, collected at
    * (tables × columns) grain — schema-width-bounded, never row-scale. A
    * candidate is unique and null-free on both sides by construction, so
    * its overlap needs no separate distinct or join. Only columns present
    * on both sides enter the job (a one-sided column can never be
    * elected).
    *
    * PAIR tier: a table with NO single candidate falls back to column
    * PAIRS drawn from its shared null-free columns — ranked by the
    * smaller side's distinct count and capped at 6 columns (≤15 combos);
    * a combo whose distinct-count product falls short of a side's row
    * count cannot be unique there and is pruned without a scan — so
    * composite identities ((order, line), (user, day)) elect instead of
    * dead-ending. A second job over only those tables runs, per combo,
    * countDistinct over the pair struct in a single aggregate per side; a
    * combo qualifies when pair-distinct equals the row count on BOTH
    * sides; ties break by schema position (the churned-surrogate decoy
    * needs TWO churned unique-TOGETHER columns to fool this tier, so the
    * overlap tie-break is deliberately not replicated here). Returns per
    * pair the elected key as a Seq — one element from the single tier,
    * two from the pair tier — or None when neither tier has one.
    */
  private def electKeys(pairs: Seq[(String, (DataFrame, DataFrame))])
      : Map[String, Option[Seq[String]]] = {
    val atomic: DataType => Boolean = {
      case _: NumericType | StringType | BooleanType | DateType | BinaryType |
           _: TimestampType | _: TimestampNTZType => true
      case _ => false
    }
    // per pair index: the atomic columns present by name on both sides,
    // as (name, left schema position, image as a number)
    val shared: IndexedSeq[Seq[(String, Int, Boolean)]] = pairs.map { case (_, (l, r)) =>
      val onRight = r.schema.fields.iterator
        .collect { case f if atomic(f.dataType) => f.name -> f.dataType }.toMap
      l.schema.fields.toSeq.zipWithIndex.collect {
        case (f, i) if atomic(f.dataType) && onRight.contains(f.name) =>
          (f.name, i, numberFamily(f.dataType).exists(numberFamily(onRight(f.name)).contains))
      }
    }.toIndexedSeq
    def longForm(t: Int, df: DataFrame, left: Boolean): DataFrame =
      df.select(explode(array(shared(t).map { case (c, pos, asNumber) =>
          val (n, s) = groupingImage(bq(c), df.schema(c).dataType, asNumber)
          struct(lit(pos).as("c"), n.as("n"), s.as("s"))
        }: _*)).as("e"))
        .select(lit(t).as("t"), lit(left).as("l"), col("e.c").as("c"),
          col("e.n").as("n"), col("e.s").as("s"))
    val sides = pairs.indices.filter(shared(_).nonEmpty).flatMap { t =>
      val (l, r) = pairs(t)._2
      Seq(longForm(t, l, left = true), longForm(t, r, left = false))
    }
    val got: Map[(Int, Int), Seq[Long]] =
      if (sides.isEmpty) Map.empty
      else {
        val nonNull = col("n").isNotNull || col("s").isNotNull
        val (inL, inR) = (col("nl") > 0, col("nr") > 0)
        unionAllByName(sides)
          .groupBy("t", "c", "n", "s")
          .agg(count_if(col("l")).as("nl"), count_if(!col("l")).as("nr"))
          .groupBy("t", "c")
          .agg(count_if(nonNull && inL), sum(when(nonNull, col("nl")).otherwise(0L)),
            sum("nl"), count_if(nonNull && inR), sum(when(nonNull, col("nr")).otherwise(0L)),
            sum("nr"), count_if(nonNull && inL && inR))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> (2 to 8).map(r.getLong))
          .toMap
      }
    // a (t, c) with no row had no rows on either side
    val stats: IndexedSeq[Seq[KeyStat]] = pairs.indices.map { t =>
      shared(t).map { case (c, pos, _) =>
        val Seq(dL, nnL, nL, dR, nnR, nR, sh) = got.getOrElse((t, pos), Seq.fill(7)(0L))
        KeyStat(c, pos, dL, nnL, nL, dR, nnR, nR, sh)
      }
    }
    // single-column candidates in left schema order
    val cands = stats.map(_.filter(_.unique))
    val needPair = pairs.indices.filter(cands(_).isEmpty).map { t =>
      val pool = stats(t).filter(_.nullFree)
        .sortBy(s => (-math.min(s.dL, s.dR), s.pos)).take(6)
      val (nL, nR) = stats(t).headOption.fold((0L, 0L))(s => (s.nL, s.nR))
      // BigInt: two ~1e10 distinct counts would overflow a Long product
      t -> (for {
        i <- pool.indices; j <- (i + 1) until pool.size
        (a, b) = (pool(i), pool(j))
        if BigInt(a.dL) * b.dL >= nL && BigInt(a.dR) * b.dR >= nR
      } yield (a, b))
    }.filter(_._2.nonEmpty)
    val pairElect: Map[Int, Seq[String]] =
      if (needPair.isEmpty) Map.empty
      else {
        def comboFrame(t: Int, left: Boolean, df: DataFrame,
                       combos: Seq[(KeyStat, KeyStat)]): DataFrame =
          df.agg(count(lit(1)).as("n_rows"),
              combos.zipWithIndex.map { case ((a, b), i) =>
                countDistinct(struct(bq(a.name), bq(b.name))).as(s"__p_$i") }: _*)
            .select(explode(array(combos.indices.map { i =>
                struct(lit(i).as("i"), (bq(s"__p_$i") === col("n_rows")).as("uniq"))
              }: _*)).as("e"))
            .filter(col("e.uniq"))
            .select(lit(t).as("t"), lit(left).as("l"), col("e.i").as("i"))
        val ok = unionAllByName(needPair.flatMap { case (t, combos) =>
            val (l, r) = pairs(t)._2
            Seq(comboFrame(t, left = true, l, combos), comboFrame(t, left = false, r, combos))
          })
          .collect().map(r => (r.getInt(0), r.getBoolean(1), r.getInt(2))).toSet
        needPair.flatMap { case (t, combos) =>
          combos.indices
            .filter(i => ok((t, true, i)) && ok((t, false, i)))
            .map(combos).sortBy { case (a, b) => (a.pos + b.pos, a.pos) }
            .headOption.map { case (a, b) => t -> Seq(a.name, b.name) }
        }.toMap
      }
    pairs.indices.map { t =>
      val keys = cands(t) match {
        case Seq(only) => Some(Seq(only.name))
        case Seq()     => pairElect.get(t)
        case many      => Some(Seq(many.minBy(s => (-s.overlapPpm, s.pos)).name))
      }
      pairs(t)._1 -> keys
    }.toMap
  }

  /** Single-pair diff-key inference — the election [[electKeys]] runs per
    * sweep pair, surfaced for the `graft_diff(..., 'auto')` TVF and direct
    * API use. Returns ONE column when a single column is unique +
    * null-free on both sides, a column PAIR when only a composite
    * qualifies (the pair tier), None when neither exists.
    */
  def inferDiffKey(left: DataFrame, right: DataFrame): Option[Seq[String]] =
    electKeys(Seq(("pair", (left, right))))("pair")

  /** Shared sweep core of [[catalogDiffTables]] / [[catalogDiffTxnLog]]:
    * [[electKeys]] infers the diff key per healthy pair (unique +
    * null-free on BOTH sides — a left-only check would let a
    * double-loaded right table fan out the full-outer join — with
    * multi-candidate ties broken by cross-side distinct-value overlap),
    * then one [[catalogDiff]] plan per keyed pair (its census from one
    * global aggregate over the pair's diff, its verdict an expression
    * over the counts) UNIONed with one `error`-kind fail row per
    * unusable entry. Because the sweep's
    * contract is "one bad table cannot kill the other N−1", any per-pair
    * plan-construction failure [[catalogDiff]]/[[diff]] raises (e.g. a
    * non-coercible retype) becomes a `pair_invalid` error row carrying
    * the refusal message instead of propagating.
    */
  private def sweepReport(spark: org.apache.spark.sql.SparkSession,
                          entries: Seq[(String, Either[(String, String),
                            (DataFrame, DataFrame)])],
                          opts: DiffOptions,
                          keysFor: Map[String, Seq[String]] = Map.empty)
      : DataFrame =
    sweepCore(entries, keysFor,
      renderPair = (n, l, r, ks) => catalogDiff(Seq((n, l, r, ks)), opts),
      renderErr = (n, item, detail) =>
        spark.range(1).select(lit(n).as("table_name"), lit("error").as("kind"),
          lit(item).as("item"), lit(detail).as("detail"),
          lit(null).cast("long").as("n"), lit("fail").as("verdict")))

  /** One-line refusal message from a demoted exception — total: a
    * null/empty/whitespace message must still yield text, never a
    * NoSuchElementException out of linesIterator on "".
    */
  private def refusalMsg(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").trim
    (if (m.nonEmpty) m else e.toString)
      .linesIterator.nextOption().getOrElse(e.getClass.getName).take(300)
  }

  /** Catalog enumeration shared by [[catalogDiffTables]] /
    * [[catalogDiffTablesCols]]: regex over the session catalog, pair via
    * the name mapping, missing counterparts become `missing_right`
    * entries. Duplicate names (a temp view shadowing a permanent table)
    * are NOT filtered here — [[sweepCore]]'s guard refuses them loudly
    * for every sweep grain.
    */
  private def catalogEntries(spark: org.apache.spark.sql.SparkSession,
                             pattern: String, rightFor: String => String,
                             what: String)
      : Seq[(String, Either[(String, String), (DataFrame, DataFrame)])] = {
    val names = spark.catalog.listTables().collect() // metadata-scale
      .map(_.name).filter(_.matches(pattern)).sorted.toSeq
    require(names.nonEmpty,
      s"$what: no catalog table matches pattern '$pattern'")
    names.map { n =>
      val rName = rightFor(n)
      if (!spark.catalog.tableExists(rName))
        (n, Left(("missing_right", rName)))
      else (n, Right((spark.table(n), spark.table(rName))))
    }
  }

  /** Shared sweep RESOLUTION core of the row-census and column-census
    * sweeps: duplicate-name and orphan-override guards, election over the
    * non-overridden pairs ([[electKeys]] — overridden pairs skip the
    * election scan entirely),
    * per-entry key resolution, and the survive-one-bad-table demotion of
    * plan-time refusals. The renderers supply the report grain:
    * `renderPair` builds a healthy pair's rows (a plan-time throw inside
    * it demotes to that pair's `pair_invalid` row), `renderErr` one
    * error/note row.
    */
  private def sweepCore(entries: Seq[(String, Either[(String, String),
                          (DataFrame, DataFrame)])],
                        keysFor: Map[String, Seq[String]],
                        renderPair: (String, DataFrame, DataFrame,
                          Seq[String]) => DataFrame,
                        renderErr: (String, String, String) => DataFrame)
      : DataFrame = {
    requireUniqueNames("sweep", entries.map(_._1))
    // a keysFor entry naming a table the sweep never visits is a config
    // typo — silently ignoring it would let the pair fall back to
    // election with no diagnostic
    val orphans = (keysFor.keySet -- entries.map(_._1)).toSeq.sorted
    require(orphans.isEmpty,
      s"sweep: keys_for entr${if (orphans.size == 1) "y" else "ies"} " +
        s"${orphans.mkString(", ")} match${if (orphans.size == 1) "es" else ""} " +
        "no swept table")
    // overridden pairs never enter the election job — the caller
    // pinned their key, so scanning their columns for uniqueness would be
    // pure waste (and composite-key tables would fail it anyway)
    val pairs = entries.collect {
      case (n, Right(lr)) if !keysFor.contains(n) => (n, lr)
    }
    val keyFor = electKeys(pairs)
    unionAllByName(entries.map {
      case (n, Left((item, detail))) => renderErr(n, item, detail)
      case (n, Right((l, r))) =>
        keysFor.get(n).orElse(keyFor.get(n).flatten) match {
          case Some(ks) =>
            scala.util.Try(renderPair(n, l, r, ks)) match {
              case scala.util.Success(df) => df
              case scala.util.Failure(e) =>
                renderErr(n, "pair_invalid", refusalMsg(e))
            }
          case None => renderErr(n, "no_unique_key",
            "no atomic column or column pair unique and null-free on both sides")
        }
    })
  }

  /** UNKEYED diff — multiset (bag) semantics for tables with no reliable
    * primary key (the datacompy no-join-columns mode; keyed diff can't run
    * without a key, and naive EXCEPT silently collapses duplicates): each
    * side reduces to (distinct row → multiplicity), the two count frames
    * full-outer join null-safely on EVERY column, and each distinct row
    * reports n_left/n_right with a status — 'N' equal counts, 'I' right
    * only, 'D' left only, 'C' present on both sides with different
    * multiplicity. apply semantics: replicating each row max(n_left −
    * n_right, 0) fewer / (n_right − n_left, 0) more times turns left into
    * right exactly.
    *
    * 100 TB shape: both sides collapse to distinct-row counts FIRST
    * (map-side combinable partial aggs — the shuffle moves one row per
    * distinct value, not per duplicate), then one null-safe sort-merge
    * join on the full row. Schemas must match exactly (no key to anchor a
    * column intersection).
    */
  def diffUnkeyed(left: DataFrame, right: DataFrame,
                  statusCol: String = "diff_status"): DataFrame = {
    require(left.columns.toSeq == right.columns.toSeq,
      s"diffUnkeyed needs identical schemas: left [${left.columns.mkString(", ")}] " +
        s"vs right [${right.columns.mkString(", ")}]")
    val cols = left.columns.toSeq
    // Qualified refs off explicit aliases, NOT lc(c)/rc(c) dataframe-apply
    // refs: when left and right share plan lineage (the natural
    // diffUnkeyed(df, df.filter(...)) call), the grouping attributes carry
    // identical exprIds on both sides and unqualified refs either trip the
    // ambiguous-self-join detector or resolve trivially-true.
    // Backtick-quote EVERY name-string ref (bare and qualified) via the
    // object-level bq/q helpers: col("a.b") splits on the dot and
    // col("c`d") is a parse error — both are legal column names a schema
    // can carry.
    val lc = left.groupBy(cols.map(bq): _*).agg(count(lit(1)).as("__graft_nl")).alias("gl")
    val rc = right.groupBy(cols.map(bq): _*).agg(count(lit(1)).as("__graft_nr")).alias("gr")
    val cond = cols.map(c => q("gl", c) <=> q("gr", c)).reduce(_ && _)
    lc.join(rc, cond, "full_outer")
      .select(cols.map(c => coalesce(q("gl", c), q("gr", c)).as(c)) ++ Seq(
        coalesce(col("gl.__graft_nl"), lit(0L)).as("n_left"),
        coalesce(col("gr.__graft_nr"), lit(0L)).as("n_right")): _*)
      .withColumn(statusCol,
        when(col("n_left") === col("n_right"), "N")
          .when(col("n_left") === 0, "I")
          .when(col("n_right") === 0, "D")
          .otherwise("C"))
  }

  /** Rows whose key exists only in left ("deleted"). Direct anti-join — at
    * scale this never materializes the matched majority.
    */
  def onlyInLeft(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right.select(keys.map(bq): _*), keys, "left_anti")

  /** Rows whose key exists only in right ("inserted"). */
  def onlyInRight(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    right.join(left.select(keys.map(bq): _*), keys, "left_anti")

  /** Shared body of [[changed]]/[[unchanged]]: inner join on keys + the
    * equality predicate, directly — NOT `diff().filter(status)`, which would
    * null-extend and then discard the I/D rows (Catalyst cannot push a
    * filter on a derived CASE column back through a full-outer join). Same
    * single shuffle, no wasted null-extension work; plan shape is asserted
    * in PlanSpec. Same [[prepare]] as [[diff]]: a retyped column widens or
    * refuses exactly like there.
    */
  private def innerDiff(left: DataFrame, right: DataFrame, keys: Seq[String],
                        opts: DiffOptions, keepEqual: Boolean): DataFrame = {
    val p = prepare(left, right, keys, opts)
    p.matched.filter(if (keepEqual) p.allEqual else !p.allEqual)
      .select(keys.map(k => q("l", k).as(k)) ++ p.valuePairs(): _*)
  }

  /** Key-matched rows with >=1 differing value column. */
  def changed(left: DataFrame, right: DataFrame, keys: Seq[String],
              opts: DiffOptions = DiffOptions()): DataFrame =
    innerDiff(left, right, keys, opts, keepEqual = false)

  /** Key-matched rows with all value columns equal. */
  def unchanged(left: DataFrame, right: DataFrame, keys: Seq[String],
                opts: DiffOptions = DiffOptions()): DataFrame =
    innerDiff(left, right, keys, opts, keepEqual = true)

  /** Per value-column count of differing key-matched rows — one aggregation
    * pass over the joined pairs (no per-column jobs), then unpivoted to
    * (column_name, n_diff). Delegates to [[columnDiffCounts]], so
    * retyped columns widen-or-refuse exactly as in [[diff]].
    */
  def columnStats(left: DataFrame, right: DataFrame, keys: Seq[String],
                  opts: DiffOptions = DiffOptions()): DataFrame =
    columnDiffCounts(left, right, keys, opts).select("column_name", "n_diff")

  /** Per changed row, WHICH value columns differ: key columns +
    * `changed_cols` (comma-joined column names, in schema order) +
    * `n_changed`. Same inner join + predicates as [[changed]]; the name
    * list is a codegen'd concat_ws over per-column CASEs (concat_ws skips
    * nulls in Spark and DuckDB alike, so the oracle replays it verbatim).
    */
  def changedCols(left: DataFrame, right: DataFrame, keys: Seq[String],
                  opts: DiffOptions = DiffOptions()): DataFrame = {
    val p = prepare(left, right, keys, opts)
    val differs = p.vcols.map(c => c -> !p.colEq(c))
    p.matched
      .select(
        keys.map(k => q("l", k).as(k)) ++ Seq(
          concat_ws(",", differs.map { case (c, d) => when(d, lit(c)) }: _*)
            .as("changed_cols"),
          differs.map { case (_, d) => when(d, 1L).otherwise(0L) }
            .reduceOption(_ + _).getOrElse(lit(0L)).as("n_changed")): _*)
      .filter(col("n_changed") > 0)
  }

  /** Per numeric value column over key-matched rows: differing-row count,
    * mean |delta| (DECIMAL-exact sum → deterministic under shuffle) and max
    * |delta|. One aggregation pass, unpivoted like [[columnStats]].
    */
  def numericStats(left: DataFrame, right: DataFrame, keys: Seq[String],
                   opts: DiffOptions = DiffOptions()): DataFrame = {
    // exact compare: the delta math never applies tolerance
    val all = prepare(left, right, keys, opts, tolerant = false)
    val p = all.copy(vcols = all.vcols.filter(c => numeric(all.types(c))))
    require(p.vcols.nonEmpty, "numericStats requires at least one shared numeric value column")
    val dec = DecimalType(27, 6)
    val aggs = p.vcols.flatMap { c =>
      val delta = abs(q("l", c).cast("double") - q("r", c).cast("double"))
      val differs = !(q("l", c) <=> q("r", c))
      Seq(
        sum(when(differs, 1L).otherwise(0L)).as(s"n_$c"),
        (sum(when(differs, delta).otherwise(lit(0.0)).cast(dec)).cast("double") /
          greatest(sum(when(differs, 1L).otherwise(0L)), lit(1L))).as(s"avg_$c"),
        coalesce(max(when(differs, delta)), lit(0.0)).as(s"max_$c"))
    }
    val stackExpr = p.vcols.map(c =>
      s"'${sqlStr(c)}', ${sqlBq(s"n_$c")}, ${sqlBq(s"avg_$c")}, ${sqlBq(s"max_$c")}")
      .mkString(", ")
    p.matched.agg(aggs.head, aggs.tail: _*).selectExpr(
      s"stack(${p.vcols.size}, $stackExpr) as (column_name, n_diff, avg_abs_delta, max_abs_delta)")
  }

  /** Metadata-level schema comparison: columns added / removed / retyped.
    * Driver-side only (schemas are tiny); emitted as a small DataFrame so it
    * composes with the rest of the API.
    */
  def schemaDiff(spark: org.apache.spark.sql.SparkSession,
                 left: DataFrame, right: DataFrame): DataFrame = {
    import spark.implicits._
    schemaChanges(left, right).toDF("column_name", "left_type", "right_type", "status")
  }

  /** [[schemaDiff]]'s rows on the driver: (column, left type, right type,
    * status), left's columns first, then right-only ones.
    */
  private def schemaChanges(left: DataFrame, right: DataFrame)
      : Seq[(String, String, String, String)] = {
    val lt = left.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    val rt = right.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    val names = (left.schema.fieldNames ++ right.schema.fieldNames).distinct.toSeq
    names.map { n =>
      val status = (lt.get(n), rt.get(n)) match {
        case (Some(a), Some(b)) if a == b => "same"
        case (Some(_), Some(_))           => "type_changed"
        case (Some(_), None)              => "removed"
        case (None, Some(_))              => "added"
        case (None, None)                 => "impossible"
      }
      (n, lt.getOrElse(n, null), rt.getOrElse(n, null), status)
    }
  }

  /** Canonical whole-row fingerprint for the key-less bag diff
    * ([[diffUnkeyed]]) and duplicate-key pairing: a SHA-256 hex expression
    * over `cols` of `df`. The keyed hash paths use [[exactHashCol]]
    * instead: this rendering rounds doubles to cents.
    *
    * Canonical string rules (must match the DuckDB oracle bit-for-bit):
    * ints/strings as-is, doubles via DECIMAL(18,2) with NaN/+-Inf named
    * explicitly (a DECIMAL cast nulls them, colliding with true NULLs),
    * timestamps via epoch micros, nulls as U+2400, fields joined on
    * U+001F.
    */
  def rowHashCol(df: DataFrame, cols: Seq[String]): Column =
    sha2(concat_ws("\u001f",
      cols.map(c => coalesce(rendered(df, c, exact = false), lit("␀"))): _*), 256)

  /** The hash paths' fingerprint ([[hashClassified]], [[bucketDigests]]):
    * two rows get one fingerprint exactly when `<=>` calls every column
    * equal, with the exceptions below. Not mirrored by any oracle, unlike
    * [[rowHashCol]]. Each rendered part is length-prefixed
    * (`<bytes>:<text>`, so no content can imitate a separator) and NULL is
    * the bare marker `N`, which no prefixed part can be. A floating value
    * renders EXACTLY (Java's round-trip form: distinct values render apart
    * and no magnitude overflows), with -0.0 folded onto 0.0 and every NaN
    * rendered alike. Arrays and structs render as JSON (strings quoted and
    * escaped, NULL elements as `null`), maps as key-sorted JSON entries,
    * timestamps inside them with 6 fraction digits. Exceptions: a floating
    * value NESTED in an array, struct or map renders by JSON, exact but
    * without the -0.0 fold, so a nested -0.0 vs 0.0 fingerprints apart
    * although `<=>` calls them equal (NaN still renders alike); a map
    * nested inside an array or struct renders in stored order, so two
    * equal nested maps built in different orders fingerprint apart. Both
    * can only turn an N into a C, never hide a change.
    */
  private def exactHashCol(df: DataFrame, cols: Seq[String]): Column =
    sha2(concat_ws("\u001f", cols.map { c =>
      val s = rendered(df, c, exact = true)
      coalesce(concat(octet_length(s).cast(StringType), lit(":"), s), lit("N"))
    }: _*), 256)

  /** Timestamps with microseconds in JSON renderings (Spark's default JSON
    * format keeps milliseconds).
    */
  private val microsJson = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Column `c` of `df` as a string (NULL stays NULL): timestamps as epoch
    * micros, maps as key-sorted JSON entries (a map's stored order is an
    * accident of its construction; colEqual compares maps order-free),
    * everything else by Spark's string cast. `exact` selects
    * [[exactHashCol]]'s floating and nested renderings; otherwise floating
    * values render as DECIMAL(18,2) with NaN/Inf/-Inf named (a DECIMAL cast
    * nulls them, which would collide with true NULLs).
    */
  private def rendered(df: DataFrame, c: String, exact: Boolean): Column =
    df.schema(c).dataType match {
      case DoubleType | FloatType if exact =>
        when(bq(c) === 0, lit(0)).otherwise(bq(c)).cast(StringType)
      case DoubleType | FloatType =>
        when(isnan(bq(c)), lit("NaN"))
          .when(bq(c) === Double.PositiveInfinity, lit("Inf"))
          .when(bq(c) === Double.NegativeInfinity, lit("-Inf"))
          .otherwise(bq(c).cast(DecimalType(18, 2)).cast(StringType))
      case TimestampNTZType => unix_micros(bq(c).cast(TimestampType)).cast(StringType)
      case TimestampType => unix_micros(bq(c)).cast(StringType)
      case _: MapType =>
        to_json(sortedEntries(bq(c)), if (exact) microsJson else Map.empty[String, String])
          .cast(StringType)
      case _: ArrayType | _: StructType if exact => to_json(bq(c), microsJson)
      case _ => bq(c).cast(StringType)
    }

  def rowHash(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(rowHashCol(df, cols).as("row_sha"))

  /** The hash paths' key classification: each side of
    * [[Keyed.hashSides]], narrowed by `rows`, projects to keys + one
    * [[exactHashCol]] fingerprint of the value columns; the two full-outer
    * join on the keys and come back as the non-N `(status, keys)` rows,
    * one per key. The key join is always null-safe `<=>`, whatever
    * [[DiffOptions.nullSafeKeys]] says, and the compare is fingerprint
    * equality, i.e. exact `<=>` equality: tolerance options do not apply.
    */
  private def hashClassified(p: Keyed,
                             rows: DataFrame => DataFrame = identity): DataFrame = {
    val VH = "__graft_vhash"
    def hashed(df: DataFrame, alias: String): DataFrame =
      rows(df).select(p.keys.map(bq) :+ exactHashCol(df, p.vcols).as(VH): _*).alias(alias)
    val (lh, rh) = (hashed(p.hashSides._1, "lh"), hashed(p.hashSides._2, "rh"))
    val (lv, rv) = (col(s"lh.$VH"), col(s"rh.$VH"))
    lh.join(rh, p.keys.map(k => q("lh", k) <=> q("rh", k)).reduce(_ && _), "full_outer")
      .select(statusOf(lv.isNull, rv.isNull, lv =!= rv).as(p.opts.statusCol) +:
        p.keys.map(k => coalesce(q("lh", k), q("rh", k)).as(k)): _*)
      .filter(col(p.opts.statusCol) =!= "N")
  }

  /** Two-phase hash diff — the 100 TB execution path for [[diff]] when the
    * changed fraction is small (the common case for day-over-day snapshots).
    *
    * Phase 1 shuffles only (key, 32-byte value-hash) pairs: a full-outer
    * join of the hash projections classifies every key as I/D/C/N without
    * moving value columns. Phase 2 fetches full rows from each side only for
    * the non-N keys (typically ≪1% of the data), so the wide row-join is
    * proportional to the diff size, not the table size.
    *
    * Returns exactly `diff(left, right, keys).filter(status != 'N')` —
    * N rows are intentionally not materialized (at scale they ARE the
    * data); equivalence is pinned by DifferSpec. Hash comparison is exact
    * ([[exactHashCol]]: floating values render exactly, -0.0 equals 0.0,
    * NaN equals NaN, as `<=>` has them): tolerance options do not apply
    * (use [[diff]] for tolerant compare).
    * The DISCRETE options do apply: retyped columns widen before hashing,
    * digestCols hash (and report) the digest, and ignoreCase/trimWs
    * normalize the classification hash while phase 2 still fetches the
    * ORIGINAL values (classification-only, like diff()).
    */
  def diffViaHash(left: DataFrame, right: DataFrame, keys: Seq[String],
                  opts: DiffOptions = DiffOptions()): DataFrame = {
    val p = prepare(left, right, keys, opts, tolerant = false)
    // Phase 1: the non-N key set (small), one row per key.
    val diffKeys = hashClassified(p).alias("k")
    // Phase 2: fetch full rows for the differing subset only. Left joins
    // null-extend exactly where diff() would (I rows have no left row, D
    // rows no right row); <=> keeps null keys addressable.
    def fetch(side: String): Column =
      keys.map(k => q("k", k) <=> q(side, k)).reduce(_ && _)
    diffKeys.join(p.l(), fetch("l"), "left").join(p.r(), fetch("r"), "left")
      .select(col(s"k.${opts.statusCol}") +:
        (keys.map(k => q("k", k).as(k)) ++ p.valuePairs()): _*)
  }

  /** Per-bucket content digest for [[diffIncremental]]: rows are hashed
    * (key + value columns, the same exact [[exactHashCol]] fingerprint
    * as [[diffViaHash]]), bucketed by key hash, and each bucket reduced to an
    * order-free exact digest — the DECIMAL(38,0) sum of the top 60 bits of
    * each row's sha plus the row count. Bucket contents equal under `<=>`
    * (so -0.0 = 0.0 and NaN = NaN, while 1.001 ≠ 1.002) ⇒ equal digests
    * always; unequal contents collide with probability ~2⁻⁶⁰ per
    * bucket (sum of independent 60-bit values), the same class of risk
    * [[diffViaHash]] already accepts on its 256-bit equality.
    *
    * At 100 TB this frame is what a snapshot job PERSISTS (a few rows per
    * partition): tomorrow's diff recomputes digests for the new snapshot
    * only, compares against the stored ones, and re-reads just the dirty
    * buckets of the old snapshot.
    */
  def bucketDigests(df: DataFrame, keys: Seq[String], vcols: Seq[String],
                    buckets: Int): DataFrame =
    df.select(
        pmod(xxhash64(keys.map(bq): _*), lit(buckets)).as(BK),
        conv(substring(exactHashCol(df, keys ++ vcols), 1, 15), 16, 10)
          .cast(DecimalType(38, 0)).as("h"))
      .groupBy(BK)
      .agg(sum(col("h")).as("digest"), count(lit(1)).as("n"))

  /** The buckets whose content digests disagree between the two sides —
    * ONE `__graft_bucket` column, ≤ `buckets` rows. The shared phase-0 of
    * [[diffIncremental]] and the `diff_estimate` census (and of the
    * PLANS.md "Scale-up probe" measurements), so they cannot drift on what
    * "dirty" means.
    */
  def dirtyBuckets(left: DataFrame, right: DataFrame, keys: Seq[String],
                   vcols: Seq[String], buckets: Int): DataFrame = {
    val ld = bucketDigests(left, keys, vcols, buckets).alias("ld")
    val rd = bucketDigests(right, keys, vcols, buckets).alias("rd")
    ld.join(rd, col(s"ld.$BK") === col(s"rd.$BK"), "full_outer")
      .filter(!(col("ld.digest") <=> col("rd.digest")) || !(col("ld.n") <=> col("rd.n")))
      .select(coalesce(col(s"ld.$BK"), col(s"rd.$BK")).as(BK))
  }

  /** Reserved bucket-id column (cf. `__graft_vhash`): a user table with a
    * key or value column literally named "bucket" must not be clobbered by
    * [[diffIncremental]]'s temp bucketing.
    */
  private val BK = "__graft_bucket"

  /** Incremental snapshot diff — the partition-pruned execution path for
    * day-over-day diffs where most buckets are untouched.
    *
    * Phase 0 reduces each side to `buckets` digest rows ([[bucketDigests]]
    * — narrow scan, one tiny shuffle). Buckets whose (digest, n) match are
    * pruned: provably identical content, never read again. Phase 1 runs the
    * [[diffViaHash]] key classification only over rows of dirty buckets —
    * the dirty-bucket set is at most `buckets` longs, so it rides a
    * broadcast semi-join (a pure filter per scan task, no shuffle).
    *
    * Returns exactly `diff(left, right, keys).filter(status != 'N')`
    * projected to (status, keys) — pruning is content-lossless, so the
    * oracle is the plain full-outer classification. The discrete options
    * apply exactly as in [[diffViaHash]], and so does its exact compare;
    * tolerance options do not.
    */
  def diffIncremental(left: DataFrame, right: DataFrame, keys: Seq[String],
                      buckets: Int = 64,
                      opts: DiffOptions = DiffOptions()): DataFrame = {
    val p = prepare(left, right, keys, opts, tolerant = false)
    val (lh, rh) = p.hashSides
    val dirty = dirtyBuckets(lh, rh, keys, p.vcols, buckets)
    hashClassified(p, _.withColumn(BK, pmod(xxhash64(keys.map(bq): _*), lit(buckets)))
      .join(broadcast(dirty), Seq(BK), "left_semi")
      .drop(BK))
  }

  /** Apply a keyed changeset (the [[diff]]/[[diffViaHash]] output shape:
    * status + keys + prefixed value pairs) to the base snapshot — the CDC
    * "merge upsert" that makes diff invertible:
    * `applyChangeset(left, diff(left, right), keys) == right` (pinned by
    * DifferSpec and the diff_apply oracle).
    *
    * Keys touched by a D or C row are anti-joined out of the base; C and I
    * rows contribute their right-side values. The changeset is diff-sized
    * (≪ base for day-over-day snapshots), so both the anti-join's build
    * side and the upsert union are small — at 100 TB the base is read
    * once, and with the broadcast threshold met the anti-join is a
    * per-task filter, no base shuffle at all.
    *
    * Broadcast policy: the removed-key side is `broadcast()`-hinted only
    * when Catalyst's plan-level size estimate for the changeset fits in
    * `spark.sql.autoBroadcastJoinThreshold`. A bulk-churn changeset (e.g. a
    * schema migration touching every row) would otherwise be collected to
    * the driver unconditionally and OOM it; above the threshold the hint is
    * omitted, the anti-join plans as a shuffle join, and AQE may still
    * downgrade it to a broadcast at runtime if the actual size turns out
    * small — the estimate only decides whether we *force* the collect.
    *
    * PRECONDITION (shared with [[composeChangesets]]): `changes`
    * must be a FULL-PAYLOAD changeset (DiffOptions.sparse = false) — a
    * sparse changeset nulls the equal columns of C rows, so the upsert
    * would overwrite them with NULLs; not detectable from the shape.
    */
  def applyChangeset(base: DataFrame, changes: DataFrame, keys: Seq[String],
                     opts: DiffOptions = DiffOptions()): DataFrame = {
    val vcols = base.columns.toSeq.filterNot(keys.contains)
    // Fail fast with a precise message (house style, cf. valueCols) — a
    // non-diff frame would otherwise surface as an opaque unresolved-column
    // AnalysisException from the select below.
    val expected = opts.statusCol +: (keys ++ vcols.map(c => s"${opts.rightPrefix}$c"))
    val missing = expected.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes is not a diff output for this base: missing column(s) " +
        s"${missing.mkString(", ")} (have: ${changes.columns.mkString(", ")})")
    val st = col(opts.statusCol)
    val removed = changes.filter(st === "D" || st === "C").select(keys.map(bq): _*)
    // Size-aware broadcast: estimate from the optimized plan (no job run).
    // Unknown/huge estimates fall through to the un-hinted path, which is
    // never wrong — only potentially a shuffle where a broadcast would do.
    val threshold = changes.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val estBytes = removed.queryExecution.optimizedPlan.stats.sizeInBytes
    val buildSide =
      if (threshold > 0 && estBytes <= BigInt(threshold)) broadcast(removed) else removed
    val kept = base.join(buildSide,
      keys.map(k => base(sqlBq(k)) <=> buildSide(sqlBq(k))).reduce(_ && _), "left_anti")
    val upserts = changes.filter(st === "C" || st === "I")
      .select(keys.map(bq) ++
        vcols.map(c => bq(s"${opts.rightPrefix}$c").as(c)): _*)
    kept.select((keys ++ vcols).map(bq): _*).unionByName(upserts)
  }

  /** Diff across a column rename (schema evolution): `columnMap` maps LEFT
    * column names to their RIGHT-side names (keys included — pass the key
    * list in left terms). The right side is renamed back to left names up
    * front, so every diff flavor downstream sees one vocabulary and the
    * output reports left names. A mapped-from right column must exist;
    * unmapped columns pair up by identical name as usual. Pure projection
    * on the right side — no extra shuffle, same single full-outer join.
    */
  def diffMapped(left: DataFrame, right: DataFrame, keys: Seq[String],
                 columnMap: Map[String, String],
                 opts: DiffOptions = DiffOptions()): DataFrame = {
    val missing = columnMap.values.filterNot(right.columns.contains)
    require(missing.isEmpty,
      s"columnMap target(s) ${missing.mkString(", ")} absent from right " +
        s"[${right.columns.mkString(", ")}]")
    val inv = columnMap.map(_.swap)
    val renamed = right.select(
      right.columns.toSeq.map(c => bq(c).as(inv.getOrElse(c, c))): _*)
    diff(left, renamed, keys, opts)
  }

  /** The auto-map surfaces' shared column partition: LEFT-only /
    * RIGHT-only value-column names (name-matched, key, and ignored
    * columns excluded).
    */
  private def autoMapSides(left: DataFrame, right: DataFrame,
                           keys: Seq[String],
                           opts: DiffOptions): (Seq[String], Seq[String]) = (
    left.columns.toSeq
      .filterNot(right.columns.contains)
      .filterNot(keys.contains)
      .filterNot(opts.ignoreCols.contains),
    right.columns.toSeq
      .filterNot(left.columns.contains)
      .filterNot(opts.ignoreCols.contains))

  /** NON-throwing auto-map census: the full candidate grid
    * [[diffAutoMapped]] decides from, as a DataFrame a user can READ to
    * resolve ambiguity instead of parsing an exception. One row per
    * overlapping (left-only, right-only) column pair —
    * `(lc, rc, n_shared, overlap_ppm, verdict)` — plus one `(lc, NULL,
    * NULL, NULL, 'drop')` spine row per left-only column with no value
    * overlap at all. Verdicts, exactly [[diffAutoMapped]]'s decision
    * table:
    *   - `mapped`    — the lc's ONLY candidate at `thresholdPpm`+
    *   - `ambiguous` — ≥2 candidates at threshold for the same lc
    *   - `conflict`  — a `mapped` pair whose rc is also mapped from
    *     another lc (the injectivity breach)
    *   - `partial`   — in [threshold/2, threshold) with NO full candidate
    *     for the lc (the half-overlap decoy)
    *   - `below`     — every other overlapping pair (sub-half, or
    *     superseded by a full match on the same lc)
    *   - `drop`      — spine row: the lc is a genuine column drop
    *
    * Scale shape: the same ONE-scan-per-side long-form distinct discovery
    * as [[diffAutoMapped]] (per-column DISTINCT sets, bounded by column
    * cardinality, never row count); the verdict windows partition the
    * column-pair-sized grid (≤ |lOnly| × |rOnly| rows). Nothing collects
    * — the census stays a plan until the caller acts on it.
    */
  def autoMapReport(left: DataFrame, right: DataFrame, keys: Seq[String],
                    opts: DiffOptions = DiffOptions(),
                    thresholdPpm: Long = 900000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = left.sparkSession
    import spark.implicits._
    val (lOnly, rOnly) = autoMapSides(left, right, keys, opts)
    if (lOnly.isEmpty)
      return Seq.empty[(String, Option[String], Option[Long], Option[Long], String)]
        .toDF("lc", "rc", "n_shared", "overlap_ppm", "verdict")
    val spine = lOnly.map(c =>
      (c, None: Option[String], None: Option[Long], None: Option[Long], "drop"))
      .toDF("lc", "rc", "n_shared", "overlap_ppm", "verdict")
    if (rOnly.isEmpty) return spine

    // ONE scan per side (a per-column select+union would re-read the
    // input once per candidate column): explode a (name, value)
    // struct array so every candidate column rides the same pass, then
    // distinct on the exploded long form.
    def longForm(df: DataFrame, cols: Seq[String], side: String): DataFrame =
      df.select(explode(array(cols.map(c =>
          struct(lit(c).as("c"), bq(c).cast("string").as("v"))): _*)).as("e"))
        .select(col("e.c").as(side), col("e.v").as("val"))
        .filter(col("val").isNotNull).distinct()
    val lf = longForm(left, lOnly, "lc")
    val rf = longForm(right, rOnly, "rc")
    val nL = lf.groupBy("lc").agg(count(lit(1)).as("n_left"))
    val grid = lf.join(rf, "val")
      .groupBy("lc", "rc").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(nL), "lc")
      .select(col("lc"), col("rc"), col("n_shared"),
        expr("n_shared * 1000000 div n_left").as("overlap_ppm"))
    val nFull = sum(when(col("overlap_ppm") >= thresholdPpm, 1).otherwise(0))
      .over(Window.partitionBy("lc"))
    val graded = grid
      .withColumn("verdict",
        when(col("overlap_ppm") >= thresholdPpm,
          when(nFull > 1, "ambiguous").otherwise("mapped"))
          .when(col("overlap_ppm") >= thresholdPpm / 2 && nFull === 0, "partial")
          .otherwise("below"))
      .withColumn("verdict",
        when(col("verdict") === "mapped" &&
          sum(when(col("verdict") === "mapped", 1).otherwise(0))
            .over(Window.partitionBy("rc")) > 1, "conflict")
          .otherwise(col("verdict")))
    graded.unionByName(
      spine.join(grid.select("lc").distinct(), Seq("lc"), "left_anti"))
  }

  /** AUTO-mapped diff: compose column-mapping DISCOVERY (the
    * diff_column_mapping distinct-value-overlap analysis) with
    * [[diffMapped]] so a renamed table diffs with ZERO user input — and
    * fail loudly where a human would have to look.
    *
    * Discovery contract: for every LEFT-only column name (absent from the
    * right, not a key, not ignored) the candidates are RIGHT-only columns,
    * scored by distinct-value overlap `|distinct(lc) ∩ distinct(rc)| /
    * |distinct(lc)|` in ppm. A candidate at `thresholdPpm` or above is a
    * match. Exactly one match → mapped. Two or more → AMBIGUOUS, throws
    * naming every candidate with its ppm. None above threshold but one or
    * more above `thresholdPpm / 2` → PARTIAL (a half-overlapping decoy —
    * the diff_column_mapping fixture's ok_decoy case), throws likewise; a
    * silent guess here would diff the wrong columns. No candidate at all →
    * the column is a genuine DROP and is excluded from the compare, the
    * same shared-vocabulary rule [[diff]] applies to any unmatched name.
    * Two left columns claiming the same right column → throws (the map
    * must be injective). Unclaimed right-only columns are ADDS and pass
    * through unmatched, exactly like a new column under [[diff]].
    *
    * Scale shape: discovery moves per-column DISTINCT sets only (bounded
    * by column cardinality, never row count — at 100 TB high-cardinality
    * columns would ride an HLL or bottom-k sample, same plan); the
    * candidate grid collect is (left-only × right-only) column-pair-sized
    * — the bounded metadata-scale collect this repo documents (codebook
    * precedent). The diff itself is [[diffMapped]]'s single full-outer
    * exchange.
    */
  def diffAutoMapped(left: DataFrame, right: DataFrame, keys: Seq[String],
                     opts: DiffOptions = DiffOptions(),
                     thresholdPpm: Long = 900000L): DataFrame = {
    require(keys.forall(right.columns.contains),
      s"diffAutoMapped maps VALUE columns only; key column(s) " +
        s"${keys.filterNot(right.columns.contains).mkString(", ")} must exist " +
        "on both sides by name (rename keys explicitly via diffMapped)")
    val (lOnly, rOnly) = autoMapSides(left, right, keys, opts)
    if (lOnly.isEmpty || rOnly.isEmpty) return diff(left, right, keys, opts)

    // Decide off the SAME census the user can inspect ([[autoMapReport]] —
    // one discovery body, two surfaces): the grid collect is (left-only ×
    // right-only) column-pair-sized, the bounded metadata-scale collect
    // this repo documents (codebook precedent).
    val rep = autoMapReport(left, right, keys, opts, thresholdPpm)
      .filter(col("verdict").isin("mapped", "ambiguous", "partial", "conflict"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getString(4)))
    val byLc = rep.groupBy(_._1)
    def render(cs: Seq[(String, String, Long, String)]) =
      cs.map(c => s"${c._2} (${c._3} ppm)").mkString(", ")

    val columnMap = lOnly.flatMap { lc =>
      val cands = byLc.getOrElse(lc, Array.empty[(String, String, Long, String)])
        .sortBy(c => (-c._3, c._2)).toSeq
      val amb = cands.filter(_._4 == "ambiguous")
      if (amb.nonEmpty) throw new IllegalArgumentException(
        s"diffAutoMapped: AMBIGUOUS mapping for left column '$lc' — " +
          s"candidates ${render(amb)} all reach $thresholdPpm ppm; " +
          "pass an explicit columnMap to diffMapped")
      val partial = cands.filter(_._4 == "partial")
      if (partial.nonEmpty) throw new IllegalArgumentException(
        s"diffAutoMapped: PARTIAL match for left column '$lc' — " +
          s"candidates ${render(partial)} overlap but stay below " +
          s"$thresholdPpm ppm; a silent guess would diff the wrong column — " +
          "pass an explicit columnMap to diffMapped or ignore the column")
      cands.find(c => c._4 == "mapped" || c._4 == "conflict").map(c => lc -> c._2)
    }.toMap
    val conflicts = rep.filter(_._4 == "conflict")
    require(conflicts.isEmpty,
      s"diffAutoMapped: right column(s) " +
        s"${conflicts.map(_._2).distinct.sorted.mkString(", ")} claimed " +
        s"by multiple left columns " +
        s"(${conflicts.map(_._1).distinct.sorted.mkString(", ")}) — the mapping " +
        "must be injective; pass an explicit columnMap to diffMapped")
    diffMapped(left, right, keys, columnMap, opts)
  }

  /** Duplicate-key RANK-MATCHED diff (datacompy's `temp_row_number`
    * semantics): when the join key is non-unique (order lines keyed by
    * order only — the everyday case [[diff]]'s PK contract rejects), each
    * side ranks its rows WITHIN each key group and the standard diff runs
    * on the (key, rank) composite. Equal-sized groups pair rank-for-rank;
    * surplus ranks on one side become D (left larger) or I (right larger).
    *
    * Tie rule (documented contract): `dup_rank` = `row_number` over the
    * order [[DiffOptions.dupPairing]] selects — default
    * [[DupPairing.ByHash]], the canonical value fingerprint
    * ([[rowHashCol]] of the shared value columns) within the key group.
    * Either order is value-derived, so the pairing is stable across runs,
    * partitionings, and engines — never arrival order, which at 100 TB is
    * whatever the shuffle delivered. Rows with identical values order
    * identically, so a tie only ever permutes interchangeable rows: the
    * emitted (key, rank, values) set is unchanged. Like datacompy, rank
    * matching is positional within the sorted group — under ByHash a
    * changed value can re-rank a row far from its former counterpart and
    * cascade C rows; [[DupPairing.ByValue]] sorts by the full value tuple
    * so near-identical rows stay adjacent and a single changed value
    * re-pairs minimally (strictly fewer C rows on dup-heavy tables —
    * DifferSpec pin). The D+I decomposition stays exact either way.
    *
    * Scale shape: ONE window per side (hash-partitioned on the key
    * columns) feeding the same single full-outer join as [[diff]]. Under
    * `DiffOptions(nullSafeKeys = false)` (plain `=` keys — the right
    * setting for non-null business keys) the window's hash(keys) output
    * partitioning satisfies the join's clustering on (keys, rank), so
    * Spark plans NO extra exchange between them — two exchanges total,
    * one per side, same as diff_full (PlanSpec pin). The `<=>` default
    * keeps null-keyed groups addressable but repartitions the join on
    * (coalesce, isnull) projections, costing one extra exchange per side
    * — the same trade [[DiffOptions.nullSafeKeys]] documents for
    * bucket-layout reuse.
    */
  def diffDupKeyRank(left: DataFrame, right: DataFrame, keys: Seq[String],
                     opts: DiffOptions = DiffOptions(),
                     rankCol: String = "dup_rank"): DataFrame = {
    val vcols = valueCols(left, right, keys, opts)
    require(!left.columns.contains(rankCol) && !right.columns.contains(rankCol),
      s"rank column '$rankCol' already exists; pass rankCol = <fresh name>")
    def ranked(df: DataFrame): DataFrame = {
      val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val order: Seq[Column] = opts.dupPairing match {
        case DupPairing.ByHash => Seq(rowHashCol(df, vcols))
        case DupPairing.ByValue =>
          // full value tuple first (orderable columns only — map-bearing
          // types have no total order in Spark), fingerprint as the final
          // deterministic tie-break so identical-prefix rows never flap.
          // The sort key is the NORMALIZED value, exactly as colEqual will
          // compare it: under ignoreCase/trimWs/bagCols,
          // raw-ordering normalization-equal rows could rank differently
          // per side ("B","a" vs "B","A") and manufacture the C cascade
          // this mode exists to prevent. Numeric tolerance is a
          // RELAXATION, not an equivalence — tolerance-equal rows pair by
          // raw order (documented contract).
          def canon(c: Column, name: String, dt: DataType): Column = dt match {
            case ArrayType(_, _) if opts.bagCols.contains(name) => array_sort(c)
            case StringType if opts.ignoreCase || opts.trimWs =>
              val t = if (opts.trimWs) trim(c) else c
              if (opts.ignoreCase) lower(t) else t
            case _ => c
          }
          vcols.filterNot(c => containsMap(types(c)))
            .map(c => canon(bq(c), c, types(c)).asc_nulls_first) :+
            rowHashCol(df, vcols)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(bq): _*)
        .orderBy(order: _*)
      // long, not int: the DuckDB oracle's row_number() is BIGINT and the
      // rank is an output key column — schema parity is part of the gate.
      df.withColumn(rankCol, row_number().over(w).cast("long"))
    }
    diff(ranked(left), ranked(right), keys :+ rankCol, opts)
  }

  /** Three-way keyed merge (git-style): classify every key of
    * base/left/right by what each branch did to it and emit the merged row
    * where the resolution is mechanical.
    *
    * Per key, each branch gets a [[diff]] status vs base (N/C/I/D; a key
    * absent from base AND the branch is N — the other branch introduced
    * it). The merge verdict is then:
    *   - `N`  both branches untouched → merged = base values
    *   - `L`  only left changed       → merged = left values
    *   - `R`  only right changed      → merged = right values
    *   - `A`  both changed identically (same status, equal values, or both
    *          deleted) → merged = left values
    *   - `X`  both changed, differently (C vs C with unequal values, C vs
    *          D either way, I vs I with unequal values) → merged = NULL;
    *          the caller resolves
    * `merged_deleted` marks keys whose winning operation is a delete (the
    * merged values are NULL tombstones there, as on `X` rows).
    *
    * Shape at scale: two full-outer sort-merge joins on the key — base,
    * left, and right each shuffle exactly once and the three-way row never
    * gets wider than keys + 3× the shared value columns. No driver-side
    * state, no broadcast of anything unbounded; conflicts are emitted, not
    * collected.
    */
  def merge3(base: DataFrame, left: DataFrame, right: DataFrame, keys: Seq[String],
             opts: DiffOptions = DiffOptions()): DataFrame = {
    val vcols = valueCols(left, right, keys, opts)
      .filter(base.columns.contains)
    require(keys.forall(base.columns.contains),
      s"key column(s) ${keys.filterNot(base.columns.contains).mkString(", ")} " +
        s"absent from base [${base.columns.mkString(", ")}]")
    val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
    val BP = "__graft_b_present"
    val b = base.select((keys ++ vcols).map(bq) :+ lit(true).as(BP): _*).alias("b")
    val l = left.select((keys ++ vcols).map(bq) :+ lit(true).as(LP): _*).alias("l")
    val r = right.select((keys ++ vcols).map(bq) :+ lit(true).as(RP): _*).alias("r")
    val bl = b.join(l, keys.map(k => q("b", k) <=> q("l", k)).reduce(_ && _),
      "full_outer")
    val j = bl.join(r,
      keys.map(k => coalesce(q("b", k), q("l", k)) <=> q("r", k)).reduce(_ && _),
      "full_outer")

    def branchStatus(present: String, side: String): Column = {
      val equalBase = vcols
        .map(c => colEqual(q("b", c), q(side, c), types(c), opts, c))
        .reduceOption(_ && _).getOrElse(lit(true))
      when(col(BP).isNull && col(present).isNull, lit("N"))
        .when(col(BP).isNull, lit("I"))
        .when(col(present).isNull, lit("D"))
        .when(!equalBase, lit("C"))
        .otherwise(lit("N"))
    }
    val lstat = branchStatus(LP, "l")
    val rstat = branchStatus(RP, "r")
    val lrEqual = vcols
      .map(c => colEqual(q("l", c), q("r", c), types(c), opts, c))
      .reduceOption(_ && _).getOrElse(lit(true))
    val ms = when(lstat === "N" && rstat === "N", lit("N"))
      .when(rstat === "N", lit("L"))
      .when(lstat === "N", lit("R"))
      .when(lstat === rstat && (lstat === "D" || lrEqual), lit("A"))
      .otherwise(lit("X"))
    // Delete wins on L/R/A rows exactly when the winning branch dropped the
    // key; on A rows lstat = D implies rstat = D.
    val deleted = (ms.isin("L", "A") && lstat === "D") || (ms === "R" && rstat === "D")

    val keyOut = keys.map(k =>
      coalesce(q("b", k), q("l", k), q("r", k)).as(k))
    // Winning side's values; the branch columns of a deleted key are
    // already NULL, so tombstones fall out without a special case. X rows
    // hit no branch and stay NULL.
    val valOut = vcols.map { c =>
      when(ms === "N", q("b", c))
        .when(ms.isin("L", "A"), q("l", c))
        .when(ms === "R", q("r", c))
        .as(s"merged_$c")
    }
    j.select(keyOut ++ Seq(
      lstat.as("left_status"), rstat.as("right_status"), ms.as("merge_status"),
      deleted.as("merged_deleted")) ++ valOut: _*)
  }

  /** Compose two SEQUENTIAL changesets (both in the [[diff]] output shape,
    * describing base→v1 and v1→v2) into the net changeset base→v2:
    * `compose(diff(a, b), diff(b, c), keys) == diff(a, c).filter(≠ N)`
    * row-for-row — the diff-algebra fold a change-feed pipeline runs to
    * collapse N daily feeds into one net feed WITHOUT re-reading either
    * endpoint snapshot. Per key (presence-before = hop-1 status ≠ I,
    * presence-after = hop-2 status ≠ D; a key absent from a hop kept its
    * presence through it):
    *   - absent→present: net I (v2 payload);  present→absent: net D
    *     (base payload);  absent→absent (I then D): dropped;
    *   - present→present: net C with base payload from hop 1's left side
    *     and v2 payload from hop 2's right side — unless every value
    *     column ROUND-TRIPPED (null-safe base == v2), in which case the
    *     key dropped: a change undone is not a change (the case a naive
    *     changeset concat gets wrong).
    * Hop-1's left values ARE base values for every key hop 1 touched; a
    * key only hop 2 touched was N across hop 1, so ITS left values are
    * base values too — no third input needed.
    *
    * PRECONDITION: both inputs must be FULL-PAYLOAD changesets
    * (DiffOptions.sparse = false, the default). A sparse changeset nulls
    * the equal columns of C rows, which this fold would mis-read as null
    * base/v2 values — same contract as [[applyChangeset]], and not
    * detectable from the frame shape.
    *
    * Scale shape: changesets are diff-sized (≪ snapshots); one full-outer
    * equi-join on the keys is the only exchange, and the net output feeds
    * [[applyChangeset]] unchanged. ComposePropSpec pins the algebra on
    * generated snapshot triples; the declared key's oracle is the direct
    * base→v2 diff in SQL (losslessness, house convention).
    */
  def composeChangesets(d1: DataFrame, d2: DataFrame, keys: Seq[String],
                        opts: DiffOptions = DiffOptions()): DataFrame = {
    val st = opts.statusCol
    val lp = opts.leftPrefix
    val rp = opts.rightPrefix
    // Same paired-column discovery (and the same misclassification guard)
    // as invertChangeset; both inputs must agree on the value vocabulary.
    def vcolsOf(df: DataFrame): Seq[String] = df.columns.toSeq.collect {
      case c if c.startsWith(lp) && df.columns.contains(s"$rp${c.stripPrefix(lp)}") =>
        c.stripPrefix(lp)
    }
    val vcols = vcolsOf(d1)
    require(vcols.nonEmpty,
      s"d1 is not a diff output: expected paired $lp*/$rp* value columns " +
        s"(have: ${d1.columns.mkString(", ")})")
    require(vcolsOf(d2) == vcols,
      s"changesets disagree on value columns: d1=${vcols.mkString(",")} " +
        s"d2=${vcolsOf(d2).mkString(",")}")
    val a = d1.filter(col(st) =!= "N").alias("a")
    val b = d2.filter(col(st) =!= "N").alias("b")
    val joined = a.join(b, keys.map(k => q("a", k) <=> q("b", k)).reduce(_ && _),
      "full_outer")
    val aPresent = q("a", st).isNotNull
    val bPresent = q("b", st).isNotNull
    // Presence through a hop: untouched (no row) keeps it; I starts it;
    // D ends it.
    val before = when(aPresent, q("a", st) =!= "I").otherwise(q("b", st) =!= "I")
    val after = when(bPresent, q("b", st) =!= "D").otherwise(q("a", st) =!= "D")
    // Net payloads: base values from hop 1 when it has the key (its left
    // side is base), else from hop 2 (N across hop 1 ⇒ v1 == base);
    // v2 values symmetrically.
    def baseVal(c: String) =
      when(aPresent, q("a", s"$lp$c")).otherwise(q("b", s"$lp$c"))
    def v2Val(c: String) =
      when(bPresent, q("b", s"$rp$c")).otherwise(q("a", s"$rp$c"))
    val roundTrip = vcols.map(c => baseVal(c) <=> v2Val(c)).reduce(_ && _)
    val status = when(!before && after, lit("I"))
      .when(before && !after, lit("D"))
      .when(before && after && !roundTrip, lit("C"))
      .otherwise(lit(null)) // I-then-D, or a full value round-trip: net N
    val keyOut = keys.map(k => coalesce(q("a", k), q("b", k)).as(k))
    val valOut = vcols.flatMap(c => Seq(
      // D rows keep only base payload, I rows only v2 payload — matching
      // what the direct diff's null-extended join emits. (`status` is the
      // expression, not a sibling-alias ref — those don't resolve.)
      when(status =!= "I", baseVal(c)).as(s"$lp$c"),
      when(status =!= "D", v2Val(c)).as(s"$rp$c")))
    joined.select(status.as(st) +: (keyOut ++ valOut): _*)
      .filter(col(st).isNotNull)
  }

  /** Top-k RANK drift between two snapshots — the leaderboard question a
    * value diff can't answer: a row whose score moved 0.1% may jump 40
    * ranks while a 50% move in the tail changes nothing a consumer sees.
    * Each side ranks by `scoreCol` DESC (keys ascending as the
    * deterministic tie-break — equal scores cannot flap run to run), keeps
    * the top `k`, and the two k-sets full-outer join on the keys:
    *   `entered` (right only), `exited` (left only), `up`/`down`/`held`
    * by rank comparison, with `rank_delta = left_rank − right_rank`
    * (positive = climbed) on matched keys.
    *
    * Scale shape: each top-k is Spark's TakeOrderedAndProject (per-
    * partition heads, never a global sort of the snapshot); the
    * row_number window runs AFTER the limit, on k rows — the k-bounded
    * single task is the same documented exception as every two-phase
    * top-k in this repo. The join is k-vs-k sized. k must be small enough
    * to review (require'd ≤ 100k) — this is a report, not a table scan.
    *
    * Keys must be UNIQUE within each side's top-k (a leaderboard has one
    * row per entrant): duplicate keys would fan the k-vs-k full outer out
    * into contradictory cross-pair drift rows. Enforced in-plan with the
    * [[Q.requireBand]] assert_true tripwire over a per-key count window on
    * the k-bounded frame — zero extra jobs, fails loudly
    * naming the operator; dup-keyed VALUE diffing is [[diffDupKeyRank]]'s
    * job, not this report's.
    */
  def rankDrift(left: DataFrame, right: DataFrame, keys: Seq[String],
                scoreCol: String, k: Int): DataFrame = {
    require(k > 0 && k <= 100000,
      s"rankDrift: k must be in [1, 100000] (a reviewable leaderboard), got $k")
    val order = bq(scoreCol).desc +: keys.map(k0 => bq(k0).asc)
    def top(df: DataFrame, rankName: String) = {
      import org.apache.spark.sql.expressions.Window
      df.select((keys :+ scoreCol).map(bq): _*)
        .orderBy(order: _*)
        .limit(k)
        .withColumn(rankName, row_number().over(Window.orderBy(order: _*)))
        .withColumn("__graft_keydup",
          count(lit(1)).over(Window.partitionBy(keys.map(bq): _*)))
        .filter(assert_true(col("__graft_keydup") === 1L,
          lit(s"rankDrift($rankName): duplicate keys inside the top-$k — " +
            "rank pairing requires one row per key; dedupe first or use " +
            "diffDupKeyRank for dup-keyed value diffing")).isNull)
        .select(keys.map(bq) :+ col(rankName): _*)
    }
    val lt = top(left, "left_rank").alias("l")
    val rt = top(right, "right_rank").alias("r")
    val cond = keys.map(k0 => q("l", k0) <=> q("r", k0)).reduce(_ && _)
    val keyOut = keys.map(k0 => coalesce(q("l", k0), q("r", k0)).as(k0))
    val status = when(col("left_rank").isNull, lit("entered"))
      .when(col("right_rank").isNull, lit("exited"))
      .when(col("right_rank") < col("left_rank"), lit("up"))
      .when(col("right_rank") > col("left_rank"), lit("down"))
      .otherwise(lit("held"))
    lt.join(rt, cond, "full_outer")
      .select(keyOut ++ Seq(
        col("left_rank").cast("long").as("left_rank"),
        col("right_rank").cast("long").as("right_rank"),
        status.as("drift_status"),
        (col("left_rank") - col("right_rank")).cast("long").as("rank_delta")): _*)
  }

  /** Invert a changeset (the [[diff]] output shape) so it describes the
    * REVERSE transition: `invert(diff(l, r)) == diff(r, l)` row-for-row on
    * the non-N rows, and therefore
    * `applyChangeset(right, invertChangeset(diff(l, r))) == left` — the
    * CDC rollback. I and D swap (an insert undone is a delete), C keeps C
    * with old/new payloads swapped, N rows are dropped (a changeset is the
    * non-N subset; N carries no payload to reverse).
    *
    * Pure projection — zero shuffles, zero joins, no re-read of either
    * snapshot. At 100 TB this is the whole point: rolling back a bad load
    * costs one pass over the (diff-sized) changeset artifact, not a diff
    * of two full snapshots in the other direction.
    */
  def invertChangeset(changes: DataFrame,
                      opts: DiffOptions = DiffOptions()): DataFrame = {
    val st = col(opts.statusCol)
    val lp = opts.leftPrefix
    val rp = opts.rightPrefix
    // A value column is one where BOTH prefixed forms exist — a key or
    // passthrough column that merely happens to start with the prefix
    // (e.g. a key named "left_id") must not be misclassified as a value
    // column, so membership of the paired name is the test, not the prefix
    // alone.
    val vcols = changes.columns.toSeq.collect {
      case c if c.startsWith(lp) && changes.columns.contains(s"$rp${c.stripPrefix(lp)}") =>
        c.stripPrefix(lp)
    }
    require(vcols.nonEmpty,
      s"changes is not a diff output: expected paired $lp*/$rp* value " +
        s"columns (have: ${changes.columns.mkString(", ")})")
    val paired = vcols.flatMap(c => Seq(s"$lp$c", s"$rp$c")).toSet
    val passthrough = changes.columns.toSeq
      .filterNot(c => c == opts.statusCol || paired.contains(c))
    val inv = when(st === "I", lit("D")).when(st === "D", lit("I")).otherwise(st)
    changes.filter(st =!= "N").select(
      inv.as(opts.statusCol) +:
        (passthrough.map(bq) ++
          vcols.map(c => bq(s"$rp$c").as(s"$lp$c")) ++
          vcols.map(c => bq(s"$lp$c").as(s"$rp$c"))): _*)
  }

  /** Slowly-changing-dimension (SCD type 2) history build from a stack of
    * version-tagged snapshots: per key, maximal runs of consecutive
    * versions with identical values collapse into one validity interval
    * `[valid_from, valid_to)` (version units, half-open); `valid_to` is
    * NULL while the run reaches `maxVersion` (the row is current). A
    * version gap (key absent, then re-inserted) or any null-safe value
    * change breaks the run — deletes are represented by the interval
    * closing, re-inserts by a new interval.
    *
    * Scale shape: ONE key-partitioned window (versions per key are few by
    * construction — this is the warehouse-dimension pattern, not an event
    * stream) followed by a (key, segment) agg; the snapshots union never
    * re-shuffles per version. In production the stack is the already
    * key-bucketed snapshot table family, making the window exchange-free
    * (the `DiffOptions.nullSafeKeys=false` bucketing note applies).
    */
  def scd2(snaps: DataFrame, keys: Seq[String], versionCol: String,
           valueCols: Seq[String], maxVersion: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(bq): _*).orderBy(bq(versionCol))
    val prevV = lag(bq(versionCol), 1).over(w)
    val valueChanged = valueCols
      .map(c => !(lag(bq(c), 1).over(w) <=> bq(c)))
      .reduce(_ || _)
    val brk = when(prevV.isNull || prevV =!= bq(versionCol) - 1 || valueChanged,
      1L).otherwise(0L)
    val runW = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(bq): _*).orderBy(bq(versionCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    snaps
      .withColumn("__graft_brk", brk)
      .withColumn("__graft_seg", sum(col("__graft_brk")).over(runW))
      .groupBy((keys :+ "__graft_seg").map(col): _*)
      // values are constant within a segment by construction; max is the
      // deterministic way to surface them through the agg
      .agg(valueCols.map(c => max(bq(c)).as(c)).head,
        valueCols.tail.map(c => max(bq(c)).as(c)) ++ Seq(
          min(bq(versionCol)).cast("long").as("valid_from"),
          max(bq(versionCol)).cast("long").as("__graft_vmax")): _*)
      .select((keys.map(bq) ++ valueCols.map(bq) ++ Seq(
        col("valid_from"),
        when(col("__graft_vmax") === maxVersion, lit(null).cast("long"))
          .otherwise(col("__graft_vmax") + 1).as("valid_to"))): _*)
  }

  /** INCREMENTAL SCD2 maintenance — apply a keyed changeset (the [[diff]]
    * output shape, v→v+1) to an existing [[scd2]] history WITHOUT
    * rebuilding it from the snapshot stack: closed intervals pass through
    * untouched; current rows of C/D keys close at `newVersion`; C/I keys
    * open a fresh current row carrying the changeset's right-side values.
    * Contract: `applyScd2(scd2(v0..v), diff(v, v+1)) == scd2(v0..v+1)`
    * row-for-row (the declared key's oracle is the full rebuild — house
    * losslessness convention). Precondition: the changeset describes the
    * transition FROM the history's current version (an I key must have no
    * open interval; violations surface as duplicate current rows in the
    * rebuild comparison, not silent corruption).
    *
    * Scale shape — the whole point of the operator: the nightly dimension
    * load touches changeset-sized data, never the history. The close list
    * (C∪D keys) rides the same size-aware broadcast as
    * [[applyChangeset]]; the history splits current/closed by a
    * metadata-cheap filter; new rows are a changeset projection. Zero
    * snapshot re-reads, zero windows.
    */
  def applyScd2(dim: DataFrame, changes: DataFrame, keys: Seq[String],
                newVersion: Long, opts: DiffOptions = DiffOptions()): DataFrame = {
    val st = col(opts.statusCol)
    val vcols = dim.columns.toSeq
      .filterNot(keys.contains).filterNot(Seq("valid_from", "valid_to").contains)
    val expected = opts.statusCol +: (keys ++ vcols.map(c => s"${opts.rightPrefix}$c"))
    val missing = expected.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes is not a diff output for this dimension: missing column(s) " +
        s"${missing.mkString(", ")} (have: ${changes.columns.mkString(", ")})")
    require(dim.columns.contains("valid_from") && dim.columns.contains("valid_to"),
      s"dim is not an scd2 history: need valid_from/valid_to " +
        s"(have: ${dim.columns.mkString(", ")})")
    val toClose = changes.filter(st === "C" || st === "D").select(keys.map(bq): _*)
    // Size-aware broadcast, same discipline as applyChangeset: the close
    // list is changeset-sized; huge/unknown estimates fall through to the
    // never-wrong shuffle path.
    val threshold = changes.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val estBytes = toClose.queryExecution.optimizedPlan.stats.sizeInBytes
    val buildSide =
      if (threshold > 0 && estBytes <= BigInt(threshold)) broadcast(toClose) else toClose
    def keyCond(l: DataFrame) =
      keys.map(k => l(sqlBq(k)) <=> buildSide(sqlBq(k))).reduce(_ && _)
    val current = dim.filter(col("valid_to").isNull)
    val closedHistory = dim.filter(col("valid_to").isNotNull)
    val stillCurrent = current.join(buildSide, keyCond(current), "left_anti")
    val closedNow = current.join(buildSide, keyCond(current), "left_semi")
      .withColumn("valid_to", lit(newVersion).cast("long"))
    val opened = changes.filter(st === "C" || st === "I")
      .select(keys.map(bq) ++
        vcols.map(c => bq(s"${opts.rightPrefix}$c").as(c)) ++ Seq(
          lit(newVersion).cast("long").as("valid_from"),
          lit(null).cast("long").as("valid_to")): _*)
    val cols = (keys ++ vcols ++ Seq("valid_from", "valid_to")).map(bq)
    closedHistory.select(cols: _*)
      .unionByName(stillCurrent.select(cols: _*))
      .unionByName(closedNow.select(cols: _*))
      .unionByName(opened.select(cols: _*))
  }

  /** Stream-vs-static diff: classify each arriving row against a static
    * snapshot — 'I' (key absent from the snapshot), 'C' (key present,
    * values differ), 'N' (identical). 'D' is deliberately NOT part of this
    * surface: a deletion is the absence of a future arrival, which an
    * append-mode stream can only assert at end-of-stream — a batch
    * [[diff]] over the compacted stream answers that question. Output
    * equals `diff(snapshot, stream)` minus its D rows: same preparation
    * (digests, widened retypes, refusals), same columns and types.
    *
    * Streaming-safe by construction: the plan is a stream-static LEFT
    * OUTER join (stateless — each micro-batch's rows probe the static
    * side; Spark re-broadcasts/re-scans the snapshot, no state store) plus
    * per-row projections, so the SAME function body serves the batch
    * oracle-checked key and the readStream variant
    * (StreamBatchParitySpec pins their agreement). 100 TB shape: the
    * snapshot side is the build side; for a dimension-sized snapshot it
    * broadcasts, for a fact-sized one Spark shuffles only the arriving
    * micro-batch against bucketed snapshot partitions.
    */
  def diffVsStatic(stream: DataFrame, snapshot: DataFrame, keys: Seq[String],
                   opts: DiffOptions = DiffOptions()): DataFrame = {
    val p = prepare(snapshot, stream, keys, opts)
    val status = statusOf(col(LP).isNull, lit(false), !p.allEqual)
    p.r().join(p.l(present = true), p.joinCond, "left_outer")
      .select(status.as(opts.statusCol) +:
        (keys.map(k => q("r", k).as(k)) ++ p.valuePairs()): _*)
  }

  /** Directional containment check (datacompy's `subset()`): is every
    * `candidate` row present in `reference` with equal values under the
    * keys? Returns a ONE-ROW census — n_reference / n_candidate /
    * n_candidate_only (keys absent from reference) / n_changed (matched
    * but differing) / is_subset (1 iff both violation counts are 0) —
    * the assertion an ingest gate runs before promoting a partition.
    * 100 TB shape: one [[diffVsStatic]] left join (candidate-side,
    * reference broadcasts when dim-sized) collapsed by a
    * map-side-combinable census agg, plus a 1-row reference count
    * cross-joined in — never a driver-side count.
    */
  def subsetCheck(candidate: DataFrame, reference: DataFrame,
                  keys: Seq[String], opts: DiffOptions = DiffOptions()): DataFrame = {
    val st = opts.statusCol
    // Unique-key PRECONDITION, enforced loudly in-query: a
    // duplicate-keyed reference silently INFLATES the census — the left
    // join multiplies each candidate row per matching reference row, so
    // n_candidate overcounts and one equal-plus-one-differing duplicate
    // pair mints a spurious n_changed, flipping is_subset to 0 for a
    // genuinely contained candidate (datacompy dedupes before subset()).
    // Same tripwire mechanism as Q.requireBand: assert_true evaluates on
    // the 1-row census, so EVERY runner of the query (Verify, bench,
    // production) trips it, not just scalatest. Cost: one count(distinct
    // key-struct) accumulator beside the plain count — the 2-pass Expand
    // over the reference only, never the candidate.
    val refN = reference
      .agg(count(lit(1)).as("n_reference"),
        countDistinct(struct(keys.map(bq): _*)).as("__graft_nkeys"))
      .filter(assert_true(col("n_reference") === col("__graft_nkeys"),
        lit(s"subsetCheck precondition: reference has duplicate keys on " +
          s"(${keys.mkString(", ")}) — dedupe it first, the census would " +
          "overcount")).isNull)
      .select("n_reference")
    diffVsStatic(candidate, reference, keys, opts)
      .agg(count(lit(1)).as("n_candidate"),
        sum(when(col(st) === "I", 1L).otherwise(0L)).as("n_candidate_only"),
        sum(when(col(st) === "C", 1L).otherwise(0L)).as("n_changed"))
      .crossJoin(broadcast(refN))
      .select(col("n_reference").cast("long").as("n_reference"),
        col("n_candidate").cast("long").as("n_candidate"),
        coalesce(col("n_candidate_only"), lit(0L)).cast("long").as("n_candidate_only"),
        coalesce(col("n_changed"), lit(0L)).cast("long").as("n_changed"),
        when(coalesce(col("n_candidate_only"), lit(0L)) +
          coalesce(col("n_changed"), lit(0L)) === 0, 1L).otherwise(0L).as("is_subset"))
  }

  /** The headline human-readable artifact (datacompy's `report()`): ONE
    * long-format frame `(section, item, n, left_val, right_val)` composing
    *   - `counts`:       left_rows / right_rows,
    *   - `summary`:      rows per diff status (statuses with n > 0 only),
    *   - `column_stats`: per value column, matched rows where it differs,
    *   - `examples:<S>`: first `k` non-N rows per status (ordered by key),
    *                     with the `exampleOn` value pair.
    * Numbers stay in typed columns (n BIGINT, left/right_val DOUBLE) — a
    * stringly-rendered report would re-open every cross-engine float
    * formatting divergence.
    *
    * Lazy, one shuffle: building the report runs no Spark job, and the
    * plan reads the single-shuffle full-outer [[diff]] frame ONCE, so
    * executing it writes each side's key-hash shuffle once. Every section
    * comes out of ONE global aggregate over that frame: four status
    * counts, one changed count per value column, and per non-N status the
    * k smallest (keys…, example pair) structs, a heap of at most k per
    * partial buffer (at most statuses × k rows per partition reach the
    * final merge, at any scale). One generator then emits all rows;
    * left_rows = N+C+D and right_rows = N+C+I are arithmetic over the
    * counts. A union of a stat
    * branch and a separate examples branch would read the diff twice:
    * adaptive execution reuses an exchange only when its subtree matches,
    * and a cached input becomes a distinct table-cache stage per branch,
    * so over cached inputs the join would run twice. Empty summary rows
    * are dropped inside the generator's input array: a plan-level filter
    * over a stacked report has run the optimizer's constraint propagation
    * out of heap. When the changed fraction is small, feed this the
    * [[diffViaHash]] two-phase path instead of materializing N rows.
    */
  def report(left: DataFrame, right: DataFrame, keys: Seq[String],
             exampleOn: String,
             opts: DiffOptions = DiffOptions(), k: Int = 5): DataFrame = {
    // Column stats re-compare the SAME prepared values the diff compared.
    val p = prepare(left, right, keys, opts)
    val vcols = p.vcols
    val st = opts.statusCol
    val d = diffOf(p)
    val nullD = lit(null).cast("double")

    // The example pair: try_cast, not cast — under ANSI a plain cast
    // THROWS on a non-numeric exampleOn column (the totality house rule),
    // so a string example column degrades to NULL values, never a crash.
    // An exampleOn that isn't a shared value column (incl. the
    // zero-value-column degenerate case) degrades the same way: the
    // example ROWS still matter, only the value pair is absent.
    def exampleVal(prefix: String): Column =
      if (vcols.contains(exampleOn)) expr(s"try_cast(${sqlBq(s"$prefix$exampleOn")} AS DOUBLE)")
      else nullD
    // A struct orders field by field, so the k smallest of (keys…, values)
    // are the first k rows in key order.
    val example = struct((keys.zipWithIndex.map { case (kc, i) => bq(kc).as(s"k$i") } :+
      exampleVal(opts.leftPrefix).as("lv") :+ exampleVal(opts.rightPrefix).as("rv")): _*)
    val exampleStatuses = if (k > 0) Seq("C", "I", "D") else Nil

    // count(when(…)), not sum: 0, not NULL, over two empty inputs.
    def n(status: String): Column = col(s"__graft_n$status")
    val aggs = Statuses.map(s => count(when(col(st) === s, 1)).as(s"__graft_n$s")) ++
      vcols.zipWithIndex.map { case (c, i) =>
        count(when(col(st).isin("N", "C") && !p.colEq(c, bq(s"${opts.leftPrefix}$c"),
          bq(s"${opts.rightPrefix}$c")), 1)).as(s"__graft_c$i")
      } ++ exampleStatuses.map { s =>
        ColumnBridge.smallestK(when(col(st) === s, example), k).as(s"__graft_e$s")
      }
    val totals = d.agg(aggs.head, aggs.tail: _*)
    def row(section: String, item: String, cnt: Column): Column =
      struct(lit(section).as("section"), lit(item).as("item"), cnt.as("n"),
        nullD.as("left_val"), nullD.as("right_val"))
    val stats = Statuses.map(s => row("summary", s, n(s))) ++
      Seq(row("counts", "left_rows", n("N") + n("C") + n("D")),
        row("counts", "right_rows", n("N") + n("C") + n("I"))) ++
      vcols.zipWithIndex.map { case (c, i) => row("column_stats", c, col(s"__graft_c$i")) }
    val examples = exampleStatuses.map { s =>
      transform(col(s"__graft_e$s"), (x, i) => struct(lit(s"examples:$s").as("section"),
        concat_ws("|", keys.indices.map(j => x.getField(s"k$j").cast("string")): _*).as("item"),
        (i + 1).cast("long").as("n"), x.getField("lv").as("left_val"),
        x.getField("rv").as("right_val")))
    }
    // The cast only widens nullability: `item` and `n` stay nullable, as
    // the report's schema has always declared them.
    val rowType = StructType(Seq(StructField("section", StringType, nullable = false),
      StructField("item", StringType), StructField("n", LongType),
      StructField("left_val", DoubleType), StructField("right_val", DoubleType)))
    totals.select(inline(filter(concat(array(stats: _*) +: examples: _*),
      r => r.getField("section") =!= "summary" || r.getField("n") > 0)
      .cast(ArrayType(rowType, containsNull = false))))
  }
}
