package graft

/** Regression pins for the shared-input cache. */
class TablesSpec extends SparkTestBase {

  test("cached is reentrant: a builder may call cached again (no Recursive update)") {
    // KMeansSql.assignments nests cachedTable("embeddings") inside its own
    // cached block; with computeIfAbsent this threw
    // IllegalStateException("Recursive update") whenever the IVF family was
    // the session's first embeddings toucher.
    val df = Tables.cached(spark, "tables-spec/outer") {
      Tables.cached(spark, "tables-spec/inner") {
        spark.range(3).toDF("id")
      }.selectExpr("id * 2 AS id2")
    }
    assert(df.count() == 3)
    // both levels are served from the cache on re-entry (same instance)
    assert(Tables.cached(spark, "tables-spec/outer")(fail("must not rebuild")) eq df)
  }

  test("two live sessions never see each other's entries") {
    val other = spark.newSession()
    val key = "tablesspec-two-sessions"
    val mine = Tables.cached(spark, key)(spark.range(2).toDF("id"))
    val theirs = Tables.cached(other, key)(other.range(5).toDF("id"))
    assert(mine.count() == 2 && theirs.count() == 5)
    assert(Tables.cached(spark, key)(fail("must not rebuild")) eq mine)
    assert(Tables.cached(other, key)(fail("must not rebuild")) eq theirs)
    // releasing one session's registry leaves the other's cached and served
    Tables.unpersistAll(other)
    assert(!theirs.storageLevel.useMemory && mine.storageLevel.useMemory)
    assert(Tables.cached(spark, key)(fail("must not rebuild")) eq mine)
    mine.unpersist()
  }

  test("tsUsExpr bridges every ts flavor to the same epoch micros") {
    // The fixture generator has shipped events.ts as bigint nanos
    // (timestamp[ns] + nanosAsLong), timestamp_ntz (timestamp[us]), and
    // could ship plain timestamp; the round-7 regeneration silently
    // switched flavors and broke the hard-coded `ts div 1000` bridge. Pin
    // that all three read paths agree on ts_us for the same instant.
    import org.apache.spark.sql.functions._
    Tables.ensureConfs(spark) // UTC session zone — NTZ wall clock == UTC
    val us = 1704067798778549L // 2024-01-01T00:09:58.778549Z
    val fromNanos = spark.range(1)
      .select(lit(us * 1000 + 829).as("ts")) // sub-µs nanos truncate
    val fromNtz = spark.range(1)
      .select(expr(s"cast(timestamp_micros(${us}L) as timestamp_ntz)").as("ts"))
    val fromLtz = spark.range(1)
      .select(expr(s"timestamp_micros(${us}L)").as("ts"))
    for (df <- Seq(fromNanos, fromNtz, fromLtz)) {
      val got = df.select(Tables.tsUsExpr(df.schema("ts").dataType).as("ts_us"))
        .head().getLong(0)
      assert(got == us, s"${df.schema("ts").dataType} bridged to $got, want $us")
    }
  }

  test("unpersistAll releases exactly this session's registry entries") {
    import spark.implicits._
    val df = Tables.cached(spark, "tablesspec-unpersist-probe") {
      Seq(1, 2, 3).toDF("x")
    }
    df.count()
    assert(df.storageLevel.useMemory, "registered frame should be cached")
    // an independently-cached frame the registry does NOT own must survive
    val foreign = Seq(9).toDF("y").cache()
    foreign.count()
    Tables.unpersistAll(spark)
    assert(!df.storageLevel.useMemory, "registry frame still cached after hook")
    assert(foreign.storageLevel.useMemory, "hook must not clearCache foreign frames")
    foreign.unpersist()
    // the registry key is free again: a rebuild gets a fresh cached frame
    val rebuilt = Tables.cached(spark, "tablesspec-unpersist-probe") {
      Seq(4).toDF("x")
    }
    assert(rebuilt.head().getInt(0) == 4, "stale registry entry returned after unpersistAll")
    Tables.unpersistAll(spark)
  }
}
