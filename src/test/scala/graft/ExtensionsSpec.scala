package graft

import org.apache.spark.sql.functions.{col, count, lit, when}

/** SQL-surface registration of the native kernels. */
class ExtensionsSpec extends SparkTestBase {

  test("float_vec_dot and sorted_intersect_count are callable from SQL") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  float_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |  sorted_intersect_count(array('a', 'b', 'c'), array('b', 'c', 'd')) AS inter
        |""".stripMargin).collect().head
    assert(row.getDouble(0) == 11.0)
    assert(row.getLong(1) == 2L)
  }

  test("byte_vec_dot and bounded_levenshtein are callable from SQL") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  byte_vec_dot(array(CAST(3 AS TINYINT), CAST(-2 AS TINYINT)),
        |               array(CAST(5 AS TINYINT), CAST(7 AS TINYINT))) AS dot,
        |  bounded_levenshtein('Customer#001', 'Customer#100', 2) AS d2,
        |  bounded_levenshtein('abc', 'xyzabc', 2) AS over
        |""".stripMargin).collect().head
    assert(row.getLong(0) == 1L)   // 15 - 14
    assert(row.getInt(1) == 2)
    assert(row.getInt(2) == -1)    // distance 3 > k=2
  }

  test("registration is idempotent and survives re-registering") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    val n = spark.sql("SELECT sorted_intersect_count(array('x'), array('x'))")
      .collect().head.getLong(0)
    assert(n == 1L)
  }

  test("register twice keeps every registered entry (no replacement)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftExtensions.register(spark)
    val (fns, tvfs) = (spark.sessionState.functionRegistry,
      spark.sessionState.tableFunctionRegistry)
    val names = Seq("float_vec_dot", "bounded_levenshtein", "graft_diff", "graft_diff_report")
      .map(FunctionIdentifier(_))
    // A replacement stores a new (info, builder) pair; the same pair means
    // the second call left the entry alone.
    def entries: Seq[(ExpressionInfo, AnyRef)] = names.map { n =>
      fns.lookupFunction(n).zip(fns.lookupFunctionBuilder(n))
        .orElse(tvfs.lookupFunction(n).zip(tvfs.lookupFunctionBuilder(n)))
        .getOrElse(fail(s"$n is not registered"))
    }
    val before = entries
    GraftExtensions.register(spark)
    entries.zip(before).foreach { case ((info, builder), (info0, builder0)) =>
      assert((info eq info0) && (builder eq builder0), s"${info.getName} was replaced")
    }
  }

  test("optimizer rule rewrites levenshtein(a,b) <= k onto the banded kernel, semantics intact") {
    import spark.implicits._
    val rows = Seq(
      ("abc", "abd"), ("abc", "abc"), ("Customer#001", "Customer#100"),
      ("abc", "xyzabc"), ("", ""), ("", "ab"), ("日本語x", "日本語y"),
      (null.asInstanceOf[String], "abc"), ("abc", null.asInstanceOf[String]))
      .toDF("a", "b")
    // INDEPENDENT truth (hand-computed distances — never derived from a
    // Spark eval: sibling tests in this suite register the rule into the
    // shared session, so any levenshtein-predicate eval here could already
    // be running the kernel and a Spark-derived oracle would be vacuous).
    val dist = Map(
      ("abc", "abd") -> 1, ("abc", "abc") -> 0,
      ("Customer#001", "Customer#100") -> 2, ("abc", "xyzabc") -> 3,
      ("", "") -> 0, ("", "ab") -> 2, ("日本語x", "日本語y") -> 1)
    val expected = Seq(
      ("abc", "abd"), ("abc", "abc"), ("Customer#001", "Customer#100"),
      ("abc", "xyzabc"), ("", ""), ("", "ab"), ("日本語x", "日本語y"))
      .map { case (a, b) =>
        (a, b, Boolean.box(dist((a, b)) <= 2), Boolean.box(dist((a, b)) < 2))
      }.toSet[(String, String, Any, Any)] ++
      Set[(String, String, Any, Any)](
        (null, "abc", null, null), ("abc", null, null, null))
    GraftExtensions.register(spark)
    val df = rows.selectExpr(
      "a", "b", "levenshtein(a, b) <= 2 AS le2", "levenshtein(a, b) < 2 AS lt2")
    // literal frames constant-fold away entirely, so the rewrite (which
    // runs before folding could matter) is proven on a table-backed plan:
    val nat = Tables.table(spark, "/root/testdata/sf0.001", "nation")
      .selectExpr("n_name", "levenshtein(n_name, 'CANADA') <= 2 AS close")
    val opt = nat.queryExecution.optimizedPlan.toString
    assert(opt.contains("bounded_levenshtein")
        && "(?<!bounded_)levenshtein\\(".r.findFirstIn(opt).isEmpty,
      s"predicates must rewrite onto the kernel:\n$opt")
    // semantics: the (folded or kernel) results equal the pre-rule truth
    val got = df.collect().map(r => (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getBoolean(2),
      if (r.isNullAt(3)) null else r.getBoolean(3))).toSet
    assert(got == expected, s"semantics drifted:\nexp=$expected\ngot=$got")
    // ...and on the table-backed kernel plan vs the raw-distance column
    val truthVsKernel = Tables.table(spark, "/root/testdata/sf0.001", "nation")
      .selectExpr("levenshtein(n_name, 'CANADA') AS d",
        "levenshtein(n_name, 'CANADA') <= 2 AS close")
      .collect()
    assert(truthVsKernel.forall(r => (r.getInt(0) <= 2) == r.getBoolean(1)),
      "kernel predicate disagrees with the raw distance")
    // non-literal bound and bare values keep the built-in
    val keep = Tables.table(spark, "/root/testdata/sf0.001", "nation")
      .selectExpr("levenshtein(n_name, 'CANADA') AS d",
        "levenshtein(n_name, 'CANADA') <= length(n_name) AS dyn")
    assert(!keep.queryExecution.optimizedPlan.toString.contains("bounded_levenshtein"),
      "value contexts / dynamic bounds must not rewrite")
  }

  test("sorted_long_intersect_count == size(array_intersect) on random sorted sets") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(42)
    for (i <- 1 to 20) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      def sqlArr(xs: Seq[Long]) =
        if (xs.isEmpty) "CAST(array() AS ARRAY<BIGINT>)"
        else xs.mkString("array(", "L, ", "L)")
      val row = spark.sql(
        s"""SELECT sorted_long_intersect_count(${sqlArr(a)}, ${sqlArr(b)}) AS fast,
           |       CAST(size(array_intersect(${sqlArr(a)}, ${sqlArr(b)})) AS BIGINT) AS slow
           |""".stripMargin).collect().head
      assert(row.getLong(0) == row.getLong(1),
        s"case $i: a=$a b=$b fast=${row.getLong(0)} slow=${row.getLong(1)}")
    }
  }

  test("graft_diff / graft_diff_summary TVFs resolve and match the Scala API (r11)") {
    GraftExtensions.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    val l = graft.queries.DiffQueries.left(spark, sfDir)
    val r = graft.queries.DiffQueries.right(spark, sfDir)
    l.createOrReplaceTempView("ext_diff_l")
    r.createOrReplaceTempView("ext_diff_r")

    // The TVF must be PLAN-equivalent to the API call — same rows, same
    // columns, and the spliced subtree still plans the one full-outer join.
    val viaSql = spark.sql(
      "SELECT * FROM graft_diff('ext_diff_l', 'ext_diff_r', 'o_orderkey')")
    val viaApi = graft.operators.Differ.diff(l, r, Seq("o_orderkey"))
    assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
    assert(rowsOf(viaSql) == rowsOf(viaApi))

    val sumSql = spark.sql(
      "SELECT * FROM graft_diff_summary('ext_diff_l', 'ext_diff_r', 'o_orderkey')")
    val sumApi = graft.operators.Differ.summary(l, r, Seq("o_orderkey"))
    assert(rowsOf(sumSql) == rowsOf(sumApi))

    // TVFs compose like any relation: usable in a FROM with WHERE/agg.
    val nChanged = spark.sql(
      """SELECT count(*) FROM graft_diff('ext_diff_l', 'ext_diff_r', 'o_orderkey')
        |WHERE diff_status = 'C'""".stripMargin).collect().head.getLong(0)
    val sumC = sumApi.filter(col("diff_status") === "C")
      .collect().headOption.map(_.getLong(1)).getOrElse(0L)
    assert(nChanged == sumC)

    // Data-dependent table names cannot choose a plan: non-literal args fail.
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff(concat('ext_', 'diff_l'), 'ext_diff_r', 'o_orderkey')")
        .collect()
    }
  }

  test("graft_diff named options reach DiffOptions (r12): each arg resolves, typos fail") {
    GraftExtensions.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    val l = graft.queries.DiffQueries.left(spark, sfDir)
    val r = graft.queries.DiffQueries.right(spark, sfDir)
    l.createOrReplaceTempView("ext_opt_l")
    r.createOrReplaceTempView("ext_opt_r")
    import graft.operators.{DiffOptions, Differ}
    val keys = Seq("o_orderkey")

    // Each named option must produce the exact rows of the Scala API call
    // with the corresponding DiffOptions field set.
    def viaSql(opts: String) = rowsOf(spark.sql(
      s"SELECT * FROM graft_diff('ext_opt_l', 'ext_opt_r', 'o_orderkey', $opts)"))
    def viaApi(o: DiffOptions) = rowsOf(Differ.diff(l, r, keys, o))

    assert(viaSql("abs_tol => 1000.0, tol_cols => 'o_totalprice'") ==
      viaApi(DiffOptions(absTol = 1000.0, tolCols = Set("o_totalprice"))))
    assert(viaSql("rel_tol => 0.2, tol_cols => 'o_totalprice'") ==
      viaApi(DiffOptions(relTol = 0.2, tolCols = Set("o_totalprice"))))
    assert(viaSql("ignore_cols => 'o_orderpriority,o_orderdate'") ==
      viaApi(DiffOptions(ignoreCols = Set("o_orderpriority", "o_orderdate"))))
    assert(viaSql("ignore_case => true, trim_ws => true") ==
      viaApi(DiffOptions(ignoreCase = true, trimWs = true)))
    assert(viaSql("null_safe_keys => false") ==
      viaApi(DiffOptions(nullSafeKeys = false)))
    assert(viaSql("digest_cols => 'o_orderpriority'") ==
      viaApi(DiffOptions(digestCols = Set("o_orderpriority"))))

    // The summary TVF folds the same options.
    assert(rowsOf(spark.sql(
      """SELECT * FROM graft_diff_summary('ext_opt_l', 'ext_opt_r', 'o_orderkey',
        |  abs_tol => 1000.0, tol_cols => 'o_totalprice')""".stripMargin)) ==
      rowsOf(Differ.summary(l, r, keys,
        DiffOptions(absTol = 1000.0, tolCols = Set("o_totalprice")))))

    // A misspelled option must fail LOUDLY (silent defaults would lie),
    // and the message must name the supported list.
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_diff('ext_opt_l', 'ext_opt_r', 'o_orderkey', abs_tolerance => 1.0)")
        .collect()
    }
    assert(e.getMessage.contains("abs_tolerance") || e.getMessage.contains("unknown option"),
      s"typo error should name the bad option: ${e.getMessage.take(200)}")

    // Options choose the plan — a column-valued tolerance is meaningless.
    intercept[Exception] {
      spark.sql(
        """SELECT * FROM graft_diff('ext_opt_l', 'ext_opt_r', 'o_orderkey',
          |  abs_tol => rand())""".stripMargin).collect()
    }

    // Boolean options must be BOOLEAN literals — a quoted 'true' or a 1
    // would otherwise silently mean the default (r12 review fix).
    val eb = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_diff('ext_opt_l', 'ext_opt_r', 'o_orderkey', ignore_case => 'true')")
        .collect()
    }
    assert(eb.getMessage.contains("BOOLEAN"), eb.getMessage.take(200))
  }

  test("graft_diff auto_map => true discovers renamed columns from SQL (r13)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.Differ
    val l = Seq((1L, "F", "HIGH"), (2L, "O", "LOW"), (3L, "P", "MED"))
      .toDF("k", "status", "prio")
    val r = l.withColumnRenamed("status", "st").withColumnRenamed("prio", "pr")
    l.createOrReplaceTempView("ext_am_l")
    r.createOrReplaceTempView("ext_am_r")
    val viaSql = spark.sql(
      "SELECT * FROM graft_diff('ext_am_l', 'ext_am_r', 'k', auto_map => true)")
    val viaApi = Differ.diffAutoMapped(l, r, Seq("k"))
    assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
    assert(rowsOf(viaSql) == rowsOf(viaApi))
    // the summary TVF composes with auto_map
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_diff_summary('ext_am_l', 'ext_am_r', 'k', auto_map => true)"))
      == rowsOf(Differ.diffAutoMapped(l, r, Seq("k"))
        .groupBy("diff_status").agg(count(lit(1)).as("n"))))
    // auto_map must be a BOOLEAN literal like every other boolean option
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff('ext_am_l', 'ext_am_r', 'k', auto_map => 'yes')")
        .collect()
    }
    assert(e.getMessage.contains("BOOLEAN"), e.getMessage.take(200))
    // an ambiguous rename fails the QUERY at analysis time, naming candidates
    r.withColumn("st2", col("st")).createOrReplaceTempView("ext_am_amb")
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff('ext_am_l', 'ext_am_amb', 'k', auto_map => true)")
        .collect()
    }
    assert(e2.getMessage.contains("AMBIGUOUS"), e2.getMessage.take(300))
  }

  test("graft_diff_dup: dup-key rank diff from SQL, dup_pairing selects the order (r13)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.{DiffOptions, Differ, DupPairing}
    val rows = (1 to 8).map(i => (1L, i.toLong, s"p$i"))
    val l = rows.toDF("k", "a", "s")
    val r = rows.map { case (k, a, s) => if (a == 4L) (k, a, "CHANGED") else (k, a, s) }
      .toDF("k", "a", "s")
    l.createOrReplaceTempView("ext_dup_l")
    r.createOrReplaceTempView("ext_dup_r")
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_diff_dup('ext_dup_l', 'ext_dup_r', 'k')")) ==
      rowsOf(Differ.diffDupKeyRank(l, r, Seq("k"))))
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_diff_dup('ext_dup_l', 'ext_dup_r', 'k', dup_pairing => 'by_value')")) ==
      rowsOf(Differ.diffDupKeyRank(l, r, Seq("k"),
        DiffOptions(dupPairing = DupPairing.ByValue))))
    // a backticked key names the column, as in graft_diff
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_diff_dup('ext_dup_l', 'ext_dup_r', '`k`')")) ==
      rowsOf(Differ.diffDupKeyRank(l, r, Seq("k"))))
    // an unknown pairing value fails loudly naming the legal ones
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_diff_dup('ext_dup_l', 'ext_dup_r', 'k', dup_pairing => 'closest')")
        .collect()
    }
    assert(e.getMessage.contains("by_hash") && e.getMessage.contains("by_value"),
      e.getMessage.take(200))
  }

  test("graft_diff resolves parquet PATHS where a name is not in the catalog (r13)") {
    GraftExtensions.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    import graft.operators.Differ
    val dir = java.nio.file.Files.createTempDirectory("graft-tvf-path-")
    val lPath = s"$dir/l.parquet"
    val rPath = s"$dir/r.parquet"
    graft.queries.DiffQueries.left(spark, sfDir).write.parquet(lPath)
    graft.queries.DiffQueries.right(spark, sfDir).write.parquet(rPath)

    // path + path
    val viaPath = spark.sql(
      s"SELECT * FROM graft_diff_summary('$lPath', '$rPath', 'o_orderkey')")
    val viaApi = Differ.summary(
      spark.read.parquet(lPath), spark.read.parquet(rPath), Seq("o_orderkey"))
    assert(rowsOf(viaPath) == rowsOf(viaApi))

    // catalog name takes precedence and mixes freely with a path
    spark.read.parquet(lPath).createOrReplaceTempView("ext_path_l")
    assert(rowsOf(spark.sql(
      s"SELECT * FROM graft_diff_summary('ext_path_l', '$rPath', 'o_orderkey')")) ==
      rowsOf(viaApi))

    // neither a table nor an existing path → loud failure naming both
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_diff_summary('$dir/nope.parquet', '$rPath', 'o_orderkey')")
        .collect()
    }
    assert(e.getMessage.contains("neither a table") ||
      Option(e.getCause).exists(_.getMessage.contains("neither a table")),
      s"expected the dual-resolution failure, got: ${e.getMessage.take(300)}")
  }

  test("graft_diff_report TVF == Differ.report; example_on/k options; composable (r14)") {
    GraftExtensions.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    import graft.operators.Differ
    val l = graft.queries.DiffQueries.left(spark, sfDir)
    val r = graft.queries.DiffQueries.right(spark, sfDir)
    l.createOrReplaceTempView("ext_rep_l")
    r.createOrReplaceTempView("ext_rep_r")
    // TVF ≡ API, default example_on = first shared non-key column
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_diff_report('ext_rep_l', 'ext_rep_r', 'o_orderkey')")) ==
      rowsOf(Differ.report(l, r, Seq("o_orderkey"), exampleOn = "o_custkey")))
    // explicit example_on + k
    assert(rowsOf(spark.sql(
      """SELECT * FROM graft_diff_report('ext_rep_l', 'ext_rep_r', 'o_orderkey',
        |  example_on => 'o_totalprice', k => 2)""".stripMargin)) ==
      rowsOf(Differ.report(l, r, Seq("o_orderkey"),
        exampleOn = "o_totalprice", k = 2)))
    // composes like any relation
    val sections = spark.sql(
      """SELECT item, n FROM graft_diff_report('ext_rep_l', 'ext_rep_r', 'o_orderkey')
        |WHERE section = 'summary'""".stripMargin).collect()
    assert(sections.map(_.getString(0)).sorted.toSeq == Seq("C", "D", "I", "N"))
    // an unknown option fails loudly naming graft_diff_report's surface
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_diff_report('ext_rep_l', 'ext_rep_r', 'o_orderkey', exmple => 'x')")
        .collect()
    }
    assert(e.getMessage.contains("graft_diff_report") &&
      e.getMessage.contains("example_on"), e.getMessage.take(300))
  }

  test("graft_schema_diff TVF == Differ.schemaDiff; usage errors name the TVF (r14)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.Differ
    val l = Seq((1L, "a", 1.5)).toDF("k", "s", "v")
    val r = Seq((1L, 2, "x")).toDF("k", "s", "w") // s retyped, v removed, w added
    l.createOrReplaceTempView("ext_sd_l")
    r.createOrReplaceTempView("ext_sd_r")
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_schema_diff('ext_sd_l', 'ext_sd_r')")) ==
      rowsOf(Differ.schemaDiff(spark, l, r)))
    // wrong arity fails the usage check loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_schema_diff('ext_sd_l')").collect()
    }
    assert(e.getMessage.contains("graft_schema_diff"), e.getMessage.take(300))
    // the resolver error names the TVF the user called (r13 ADVICE)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_schema_diff('ext_sd_l', 'no_such_thing')").collect()
    }
    val msg = e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("graft_schema_diff") && msg.contains("neither a table"),
      msg.take(300))
  }

  test("graft_diff_catalog TVF == Differ.catalogDiffTables; options fold; typos fail (r14)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.{DiffOptions, Differ}
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    val aTol = Seq((1L, "x", 1.4), (2L, "y", 2.0)).toDF("k", "s", "v")
    a.createOrReplaceTempView("extcat_a_old")
    aTol.createOrReplaceTempView("extcat_a_new")
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_diff_catalog('extcat_.*_old', '_old', '_new')")) ==
      rowsOf(Differ.catalogDiffTables(spark, "extcat_.*_old",
        n => n.stripSuffix("_old") + "_new")))
    // named options reach the sweep's DiffOptions: under abs_tol the 1.0
    // vs 1.4 drift is N and the verdict flips to pass
    val tol = spark.sql(
      """SELECT DISTINCT verdict FROM graft_diff_catalog(
        |  'extcat_.*_old', '_old', '_new', abs_tol => 0.5)""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(tol == Seq("pass"), tol)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_diff_catalog('extcat_.*_old', '_old', '_new', bogus => 1)")
        .collect()
    }
    assert(e.getMessage.contains("graft_diff_catalog"), e.getMessage.take(300))
  }

  test("graft_diff_txnlog TVF == Differ.catalogDiffTxnLog; usage names the TVF (r14)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.Differ
    import graft.sources.TxnLog
    val root = java.nio.file.Files.createTempDirectory("graft_txntvf").toString
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    TxnLog.init(a, s"$root/t1")
    TxnLog.overwrite(Seq((1L, "x", 9.0)).toDF("k", "s", "v"), s"$root/t1")
    assert(rowsOf(spark.sql(s"SELECT * FROM graft_diff_txnlog('$root')")) ==
      rowsOf(Differ.catalogDiffTxnLog(spark, root)))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff_txnlog('/a', '/b')").collect()
    }
    assert(e.getMessage.contains("graft_diff_txnlog"), e.getMessage.take(300))
  }

  test("graft_diff_streams[_latest]: TVF == keyed batch API; payload mode + literal width enforced (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.streaming.StreamOps
    val l = Seq((100L, 1L, "a", 1.5), (200L, 1L, "a", 2.5), (150L, 2L, "b", 7.0))
      .toDF("ts_us", "k", "et", "v")
    val r = Seq((110L, 1L, "a", 1.5), (210L, 1L, "a", 3.5), (160L, 3L, "b", 7.0))
      .toDF("ts_us", "k", "et", "v")
    l.createOrReplaceTempView("gds_l")
    r.createOrReplaceTempView("gds_r")
    val W = 1000000L
    // census TVF == the keyed batch API
    val cT = spark.sql(s"SELECT * FROM graft_diff_streams('gds_l', 'gds_r', " +
      s"'ts_us', 'k,et', 'v', $W)")
    assert(rowsOf(cT) == rowsOf(
      StreamOps.diffStreamStreamBatchKeyed(l, r, "ts_us", Seq("k", "et"), Seq("v"), W)))
    // latest TVF, numeric default == keyed latest API
    val vT = spark.sql(s"SELECT * FROM graft_diff_streams_latest('gds_l', " +
      s"'gds_r', 'ts_us', 'k,et', 'v', $W)")
    assert(rowsOf(vT) == rowsOf(
      StreamOps.diffStreamStreamLatestBatchKeyed(l, r, "ts_us", Seq("k", "et"), Seq("v"), W)))
    // backticked keys and value columns name the columns, as in graft_diff
    assert(rowsOf(spark.sql(s"SELECT * FROM graft_diff_streams('gds_l', 'gds_r', " +
      s"'ts_us', '`k`,et', '`v`', $W)")) == rowsOf(cT))
    assert(rowsOf(spark.sql(s"SELECT * FROM graft_diff_streams_latest('gds_l', " +
      s"'gds_r', 'ts_us', '`k`,et', '`v`', $W)")) == rowsOf(vT))
    // payload => 'any' switches to the canonical-payload form
    val aT = spark.sql(s"SELECT * FROM graft_diff_streams_latest('gds_l', " +
      s"'gds_r', 'ts_us', 'k', 'v,et', $W, payload => 'any')")
    assert(rowsOf(aT) == rowsOf(
      StreamOps.diffStreamStreamLatestAnyBatch(l, r, "ts_us", Seq("k"), Seq("v", "et"), W)))
    // 'payload' is a latest-only option; the census TVF refuses it
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_diff_streams('gds_l', 'gds_r', " +
        s"'ts_us', 'k', 'v', $W, payload => 'any')").collect()
    }
    assert(e1.getMessage.contains("graft_diff_streams_latest only"),
      e1.getMessage.take(300))
    // width chooses the window assignment — a column ref is refused by the
    // analyzer itself (TVF args see no input rows), and a NULL literal is
    // refused by the builder naming the argument
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff_streams('gds_l', 'gds_r', " +
        "'ts_us', 'k', 'v', CAST(NULL AS BIGINT))").collect()
    }
    assert(e2.getMessage.contains("width_us"), e2.getMessage.take(300))
  }

  test("graft_diff keys => 'auto' infers the key; '`auto`' means the real column (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.Differ
    // decoy-shaped pair: a churned unique load_ts AHEAD of the real key —
    // the sentinel must elect k (overlap tie-break), not schema order
    val l = (1L to 100L).map(k => (2 * k + 1, k, k % 7)).toDF("load_ts", "k", "v")
    val r = (1L to 100L).filter(_ % 11 != 0)
      .map(k => (2 * k, k, k % 7)).toDF("load_ts", "k", "v")
    l.createOrReplaceTempView("gda_l")
    r.createOrReplaceTempView("gda_r")
    val auto = spark.sql("SELECT * FROM graft_diff('gda_l', 'gda_r', 'auto')")
    assert(rowsOf(auto) == rowsOf(Differ.diff(l, r, Seq("k"))))
    // a REAL column named auto: the quoted form addresses the column...
    val la = (1L to 50L).map(k => (k, k % 5)).toDF("auto", "v")
    la.createOrReplaceTempView("gda_auto_l")
    la.createOrReplaceTempView("gda_auto_r")
    val quoted = spark.sql(
      "SELECT * FROM graft_diff('gda_auto_l', 'gda_auto_r', '`auto`')")
    assert(rowsOf(quoted) == rowsOf(Differ.diff(la, la, Seq("auto"))))
    // ...and the bare word still means the sentinel on the same pair (the
    // election picks the unique column, which here IS `auto`) — the two
    // addressing modes coexist with no shadowing
    val bare = spark.sql(
      "SELECT * FROM graft_diff('gda_auto_l', 'gda_auto_r', 'auto')")
    assert(rowsOf(bare) == rowsOf(quoted))
    // no unique column on both sides: the single-pair call fails LOUDLY
    // (a diff was asked for, not a sweep error row)
    Seq((1L, "a"), (1L, "a"), (2L, "a")).toDF("k", "s")
      .createOrReplaceTempView("gda_dup")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff('gda_dup', 'gda_dup', 'auto')").collect()
    }
    assert(e.getMessage.contains("auto") && e.getMessage.contains("graft_diff"),
      e.getMessage.take(300))
  }

  test("graft_diff_txnlog from_version/to_version == the ranged API; range differs from prev-vs-latest (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.{DiffOptions, Differ}
    import graft.sources.TxnLog
    val root = java.nio.file.Files.createTempDirectory("graft_tvfrange").toString
    val t = s"$root/t3"
    TxnLog.init(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), t) // v0
    TxnLog.overwrite(Seq((1L, 1.0)).toDF("k", "v"), t) // v1: k=2 deleted
    TxnLog.overwrite(Seq((1L, 9.0), (2L, 2.0)).toDF("k", "v"), t) // v2
    val api = Differ.catalogDiffTxnLog(spark, root, DiffOptions(),
      fromVer = Some(0L), toVer = Some(2L))
    val tvf = spark.sql(s"SELECT * FROM graft_diff_txnlog('$root', " +
      "from_version => 0, to_version => 2)")
    assert(rowsOf(tvf) == rowsOf(api))
    // v0→v2 sees k=2 on both ends (N); prev-vs-latest (v1→v2) reads it as
    // I — the range pin is load-bearing, not a default in disguise
    val dflt = Differ.catalogDiffTxnLog(spark, root)
    def n(df: org.apache.spark.sql.DataFrame, item: String) =
      df.filter(col("item") === item).select("n").collect().head.getLong(0)
    assert(n(api, "I") == 0L && n(dflt, "I") == 1L,
      s"range I=${n(api, "I")} default I=${n(dflt, "I")}")
  }

  test("graft_diff_txnlog from_ts/to_ts resolve at-or-before per table; predating log = error row (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.{DiffOptions, Differ}
    import graft.sources.TxnLog
    val root = java.nio.file.Files.createTempDirectory("graft_tvfasof").toString
    val t = s"$root/t3"
    TxnLog.init(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), t) // v0
    TxnLog.overwrite(Seq((1L, 1.0)).toDF("k", "v"), t) // v1: k=2 deleted
    TxnLog.overwrite(Seq((1L, 9.0), (2L, 2.0)).toDF("k", "v"), t) // v2
    def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli
    TxnLog.setCommitTime(t, 0L, ms("2026-01-05T00:00:00Z"))
    TxnLog.setCommitTime(t, 1L, ms("2026-01-06T00:00:00Z"))
    TxnLog.setCommitTime(t, 2L, ms("2026-01-07T00:00:00Z"))
    // AT-OR-BEFORE, not nearest: 23:59 on Jan 5 sits a minute from v1's
    // commit but must resolve v0
    assert(TxnLog.versionAsOf(t, ms("2026-01-05T23:59:00Z")).contains(0L))
    // a tie at the exact commit instant resolves to that version (≤, not <)
    assert(TxnLog.versionAsOf(t, ms("2026-01-06T00:00:00Z")).contains(1L))
    assert(TxnLog.versionAsOf(t, ms("2026-01-04T00:00:00Z")).isEmpty)
    val api = Differ.catalogDiffTxnLog(spark, root, DiffOptions(),
      fromTs = Some(ms("2026-01-05T23:59:00Z")),
      toTs = Some(ms("2026-01-07T01:00:00Z")))
    // the ISO-instant string and epoch-millis spellings both parse, and
    // the TVF splices the API's plan
    val tvf = spark.sql(s"SELECT * FROM graft_diff_txnlog('$root', " +
      "from_ts => '2026-01-05T23:59:00Z', to_ts => " +
      ms("2026-01-07T01:00:00Z") + ")")
    assert(rowsOf(tvf) == rowsOf(api))
    // resolution is the ONLY delta vs the version-pinned sweep...
    val ranged = Differ.catalogDiffTxnLog(spark, root, DiffOptions(),
      fromVer = Some(0L), toVer = Some(2L))
    assert(rowsOf(api) == rowsOf(ranged))
    // ...and MIXING spellings across endpoints is legal (fromVer + toTs)
    val mixed = Differ.catalogDiffTxnLog(spark, root, DiffOptions(),
      fromVer = Some(0L), toTs = Some(ms("2026-01-07T01:00:00Z")))
    assert(rowsOf(mixed) == rowsOf(ranged))
    // a from_ts the whole log postdates survives as an error row
    val err = Differ.catalogDiffTxnLog(spark, root, DiffOptions(),
      fromTs = Some(ms("2026-01-04T00:00:00Z")))
    val rows = err.filter(col("kind") === "error").collect()
    assert(rows.length == 1 && rows.head.getString(2) == "timestamp_out_of_range",
      rows.mkString(";"))
    // both spellings of ONE endpoint refuse loudly at construction
    val e = intercept[IllegalArgumentException] {
      Differ.catalogDiffTxnLog(spark, root, DiffOptions(),
        fromVer = Some(0L), fromTs = Some(0L))
    }
    assert(e.getMessage.contains("from_version OR from_ts"), e.getMessage)
    // a malformed TVF timestamp names the argument and the accepted forms
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_diff_txnlog('$root', " +
        "from_ts => 'last monday')").collect()
    }
    assert(e2.getMessage.contains("from_ts") &&
      e2.getMessage.contains("ISO-8601"), e2.getMessage.take(300))
  }

  test("graft_diff_catalog keys_for pins composite keys == the API; malformed entries refuse (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.Differ
    val l = (1L to 40L).flatMap(k => Seq(1L, 2L).map(p => (k, p, k + p)))
      .toDF("k", "part", "v")
    val r = l.withColumn("v",
      when(col("k") % 5 === 0 && col("part") === 2L, col("v") + 1)
        .otherwise(col("v")))
    l.createOrReplaceTempView("gkf_t_l"); r.createOrReplaceTempView("gkf_t_r")
    val tvf = spark.sql("SELECT * FROM graft_diff_catalog('gkf_t_l', '_l', " +
      "'_r', keys_for => 'gkf_t_l:k,part')")
    val api = Differ.catalogDiffTables(spark, "gkf_t_l", _ => "gkf_t_r",
      keysFor = Map("gkf_t_l" -> Seq("k", "part")))
    assert(rowsOf(tvf) == rowsOf(api))
    // the census is the override's (8 C = %5 keys at part 2), not an error
    assert(rowsOf(tvf).exists(s => s.contains("C") && s.contains("8")),
      rowsOf(tvf).mkString(";"))
    // a keys_for entry without 'table:cols' shape refuses naming the entry
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff_catalog('gkf_t_l', '_l', '_r', " +
        "keys_for => 'gkf_t_l')").collect()
    }
    assert(e.getMessage.contains("keys_for entry"), e.getMessage.take(300))
    // the same table twice would silently last-win through .toMap — refuse
    val eDup = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff_catalog('gkf_t_l', '_l', '_r', " +
        "keys_for => 'gkf_t_l:k;gkf_t_l:part')").collect()
    }
    assert(eDup.getMessage.contains("more than once"), eDup.getMessage.take(300))
    // the TxnLog sweep TVF takes the same override spelling
    import graft.sources.TxnLog
    val root = java.nio.file.Files.createTempDirectory("graft_gkf").toString
    TxnLog.init(l, s"$root/lines")
    TxnLog.overwrite(r, s"$root/lines")
    val txnTvf = spark.sql(s"SELECT * FROM graft_diff_txnlog('$root', " +
      "keys_for => 'lines:k,part')")
    val txnApi = Differ.catalogDiffTxnLog(spark, root,
      keysFor = Map("lines" -> Seq("k", "part")))
    assert(rowsOf(txnTvf) == rowsOf(txnApi))
    assert(rowsOf(txnTvf).exists(s => s.contains("C") && s.contains("8")),
      rowsOf(txnTvf).mkString(";"))
  }

  test("graft_diff_cols honors options + the auto sentinel; graft_diff_unkeyed refuses options (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.{DiffOptions, Differ}
    val l = (1L to 50L).map(k => (k, k * 1.0, s"s$k")).toDF("k", "v", "s")
    val r = l.withColumn("v", col("v") + 0.3)
      .withColumn("s", when(col("k") % 10 === 0, lit("x")).otherwise(col("s")))
    l.createOrReplaceTempView("gdc_l"); r.createOrReplaceTempView("gdc_r")
    // options fold onto DiffOptions exactly as in the API
    val tvf = spark.sql("SELECT * FROM graft_diff_cols('gdc_l', 'gdc_r', " +
      "'k', abs_tol => 0.5)")
    assert(rowsOf(tvf) ==
      rowsOf(Differ.columnStats(l, r, Seq("k"), DiffOptions(absTol = 0.5))))
    assert(tvf.filter(col("column_name") === "v").collect().head.getLong(1) == 0L)
    assert(tvf.filter(col("column_name") === "s").collect().head.getLong(1) == 5L)
    // the auto sentinel elects k (unique + null-free both sides)
    val auto = spark.sql(
      "SELECT * FROM graft_diff_cols('gdc_l', 'gdc_r', 'auto')")
    assert(rowsOf(auto) == rowsOf(Differ.columnStats(l, r, Seq("k"))))
    // the unkeyed TVF matches the API and takes NO options
    val unk = spark.sql("SELECT * FROM graft_diff_unkeyed('gdc_l', 'gdc_r')")
    assert(rowsOf(unk) == rowsOf(Differ.diffUnkeyed(l, r)))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_diff_unkeyed('gdc_l', 'gdc_r', " +
        "abs_tol => 0.5)").collect()
    }
    assert(e.getMessage.contains("no options"), e.getMessage.take(300))
  }

  test("graft_diff_catalog_cols == the API; un-censusable tables survive as note rows (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.operators.Differ
    val l = (1L to 30L).map(k => (k, k % 4, s"s$k")).toDF("k", "v", "s")
    val r = l.withColumn("v",
      when(col("k") % 6 === 0, col("v") + 10).otherwise(col("v")))
    l.createOrReplaceTempView("gcc_a_l"); r.createOrReplaceTempView("gcc_a_r")
    // a keyless pair (all columns duplicated) and a counterpart-less one
    val dup = Seq((1L, "x"), (1L, "x")).toDF("d", "s")
    dup.createOrReplaceTempView("gcc_nokey_l")
    dup.createOrReplaceTempView("gcc_nokey_r")
    l.createOrReplaceTempView("gcc_lost_l")
    val tvf = spark.sql(
      "SELECT * FROM graft_diff_catalog_cols('gcc_.*_l', '_l', '_r')")
    val api = Differ.catalogDiffTablesCols(spark, "gcc_.*_l",
      n => n.stripSuffix("_l") + "_r")
    assert(rowsOf(tvf) == rowsOf(api))
    // healthy census rows: v drifts on the %6 class (5 of 30), s never
    val a = tvf.filter(col("table_name") === "gcc_a_l").collect()
      .map(x => (x.getString(1), x.getLong(2), x.getLong(3))).toSet
    assert(a == Set(("v", 5L, 30L), ("s", 0L, 30L)), a.toString)
    // error classes: one note row each, census columns NULL
    val notes = tvf.filter(col("note").isNotNull).collect()
      .map(x => (x.getString(0), x.getString(4).takeWhile(_ != ':'))).toSet
    assert(notes == Set(("gcc_nokey_l", "no_unique_key"),
      ("gcc_lost_l", "missing_right")), notes.mkString(";"))
    assert(tvf.filter(col("note").isNotNull)
      .filter(col("column_name").isNull && col("n_diff").isNull &&
        col("n_matched").isNull).count() == 2)
    // a table whose key covers EVERY shared column: a no_value_columns
    // note row, never silence (r15 review — a dropped table would read
    // as "never swept")
    val ko = (1L to 20L).flatMap(k => Seq(1L, 2L).map(p => (k, p)))
      .toDF("k", "part")
    ko.createOrReplaceTempView("gcc_ko_l"); ko.createOrReplaceTempView("gcc_ko_r")
    val withKo = Differ.catalogDiffTablesCols(spark, "gcc_(a|ko)_l",
      n => n.stripSuffix("_l") + "_r")
    val koRows = withKo.filter(col("table_name") === "gcc_ko_l").collect()
    assert(koRows.length == 1 &&
      koRows.head.getString(4).startsWith("no_value_columns"),
      koRows.mkString(";"))
    // the row-grain sweep still censuses the same table (all-N pass)
    val rowGrain = Differ.catalogDiffTables(spark, "gcc_ko_l", _ => "gcc_ko_r")
    assert(rowGrain.filter(col("kind") === "census").count() == 4)
  }

  test("graft_diff_report honors the shared keys convention: 'auto' infers, backticks address (r15)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val l = (1L to 30L).map(k => (k, k % 5)).toDF("k", "v")
    val r = l.withColumn("v", when(col("k") % 6 === 0, col("v") + 1)
      .otherwise(col("v")))
    l.createOrReplaceTempView("grk_l"); r.createOrReplaceTempView("grk_r")
    val auto = spark.sql(
      "SELECT * FROM graft_diff_report('grk_l', 'grk_r', 'auto')")
    val explicit = spark.sql(
      "SELECT * FROM graft_diff_report('grk_l', 'grk_r', 'k')")
    assert(rowsOf(auto) == rowsOf(explicit))
  }

  /** Every message on `e`'s cause chain, joined. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("every TVF's binder names the TVF on a wrong-typed literal and lists exactly its options") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((100L, 1L, "a", 1.5)).toDF("ts_us", "k", "et", "v").createOrReplaceTempView("bind_l")
    Seq((110L, 1L, "a", 2.5)).toDF("ts_us", "k", "et", "v").createOrReplaceTempView("bind_r")
    val diffOpts = Seq("abs_tol", "rel_tol", "tol_cols", "ignore_cols", "bag_cols",
      "digest_cols", "ignore_case", "trim_ws", "null_safe_keys")
    val pair = "'bind_l', 'bind_r'"
    val streams = s"$pair, 'ts_us', 'k', 'v', 1000"
    // (TVF, positional arguments, a call with one wrong-typed literal, the
    // named options it accepts)
    val cases = Seq(
      ("graft_diff", s"$pair, 'k'", s"$pair, 1", diffOpts :+ "auto_map"),
      ("graft_diff_summary", s"$pair, 'k'", s"$pair, 'k', abs_tol => 'x'", diffOpts :+ "auto_map"),
      ("graft_diff_dup", s"$pair, 'k'", s"$pair, 'k', dup_pairing => 1", diffOpts :+ "dup_pairing"),
      ("graft_diff_report", s"$pair, 'k'", s"$pair, 'k', k => 'five'",
        diffOpts ++ Seq("example_on", "k")),
      ("graft_schema_diff", pair, "1, 'bind_r'", Nil),
      ("graft_diff_catalog", "'bind_l', '_l', '_r'", "'bind_l', 1, '_r'", diffOpts :+ "keys_for"),
      ("graft_diff_cols", s"$pair, 'k'", s"$pair, 'k', ignore_case => 1", diffOpts),
      ("graft_diff_unkeyed", pair, "'bind_l', 2", Nil),
      ("graft_diff_catalog_cols", "'bind_l', '_l', '_r'", "'bind_l', '_l', '_r', keys_for => 1",
        diffOpts :+ "keys_for"),
      ("graft_diff_txnlog", "'/d'", "'/d', from_version => 'x'",
        diffOpts ++ Seq("from_version", "to_version", "from_ts", "to_ts", "keys_for")),
      ("graft_diff_streams", streams, s"$pair, 'ts_us', 'k', 'v', 1.5", Seq("payload")),
      ("graft_diff_streams_latest", streams, s"$streams, payload => true", Seq("payload")))
    assert(cases.map(_._1).distinct.size == 12)
    for ((tvf, positional, wrongTyped, options) <- cases) {
      val typed = messages(intercept[Exception](spark.sql(s"SELECT * FROM $tvf($wrongTyped)")))
      assert(typed.contains(s"$tvf: "), s"$tvf: $typed")
      val unknown = messages(intercept[Exception](
        spark.sql(s"SELECT * FROM $tvf($positional, bogus => 1)")))
      val listed = s"$tvf: unknown option 'bogus' \\(supported: ([^)]*)\\)".r
        .findFirstMatchIn(unknown).map(_.group(1))
        .getOrElse(fail(s"$tvf: no supported list in: $unknown"))
      if (options.isEmpty) assert(listed.startsWith("none"), s"$tvf: $listed")
      else assert(listed.split(", ").toSeq.sorted == options.sorted, s"$tvf: $listed")
    }
  }

  test("analysing the pairwise TVFs with explicit keys over catalog views fires no Spark job") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    graft.queries.DiffQueries.left(spark, sfDir).createOrReplaceTempView("an_l")
    graft.queries.DiffQueries.right(spark, sfDir).createOrReplaceTempView("an_r")
    Seq((100L, 1L, "a", 1.5)).toDF("ts_us", "k", "et", "v").createOrReplaceTempView("an_sl")
    Seq((110L, 1L, "a", 2.5)).toDF("ts_us", "k", "et", "v").createOrReplaceTempView("an_sr")
    val keyed = "'an_l', 'an_r', 'o_orderkey'"
    val calls = Seq(s"graft_diff($keyed)", s"graft_diff_summary($keyed)",
      s"graft_diff_cols($keyed)", "graft_diff_unkeyed('an_l', 'an_r')",
      s"graft_diff_dup($keyed)", s"graft_diff_report($keyed)",
      "graft_schema_diff('an_l', 'an_r')",
      "graft_diff_streams('an_sl', 'an_sr', 'ts_us', 'k', 'v', 1000)",
      "graft_diff_streams_latest('an_sl', 'an_sr', 'ts_us', 'k', 'v', 1000)")
    for (call <- calls)
      assert(fired(spark.sql(s"SELECT * FROM $call"))._1 == 0, s"analysing $call ran a Spark job")
  }
}
