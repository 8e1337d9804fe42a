package graft

/** Per-query wall-second benchmark over every declared query; one JSON line
  * on stdout (driver contract).
  *
  * Methodology (r1 fix): every query runs once UNTIMED first, so shared
  * input caches (Tables.cachedTable / the diff fixture) and the OS page
  * cache are warm before the timed pass — otherwise the first query to
  * touch a table pays its materialization and per-query attribution is
  * noise. Each query is then timed ITERS times and the minimum reported:
  * on a 32-thread local JVM, GC pauses and scheduler contention add
  * multi-second spikes to arbitrary queries (observed 6x run-to-run), and
  * noise is strictly additive, so the min is the intrinsic cost. Failures
  * are loud: recorded in a "failed" array, printed to stderr, non-zero
  * exit.
  *
  * Timed action (r11 fix): `write.format("noop")`, NOT `count()`. A
  * count() lets Catalyst prune every column the count doesn't need — a
  * bare-aggregate top loses its aggregate expressions (agg_hll_sketch
  * timed 0.11 s while the actual sketch build costs 0.56 s) and a
  * map-only projection (regex features, PNG decode) degenerates to a row
  * count. The noop sink evaluates EVERY output column and discards it —
  * the honest per-query cost, directly comparable to what Verify's
  * parquet dump pays minus the encoder. Totals step up vs the ≤r10
  * count()-based ledger; BASELINE.md records the break.
  */
object Bench {
  /** Full-column evaluation: the noop sink runs the whole plan and
    * discards rows, so projection pruning can't hollow out the timing.
    */
  private def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // Optional comma-separated filter for local iteration (the driver sets
    // no filter, so its contract run always covers every declared query).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Warmup pass also records each key's FIRST-run duration (cold_s):
    // the r8 lesson is that without the split, a shared build (the PQ
    // code index, the IVF assignment) evicted between warmup and timing
    // gets charged to whichever key's timed run rebuilds it, and a
    // driver single-run can't tell a plan regression from attribution.
    val coldTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val warmFailed = queries.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        coldTimes(name) = (System.nanoTime() - t0) / 1e9
        None
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name FAILED: $e"); Some(name)
      }
    }
    // 5 iterations: this box has multi-second co-tenant load spikes that
    // can span 3 consecutive iterations of one query (observed: a 1.8s
    // query reading 75s); min-of-5 widens the window for a clean sample
    // at ~30s extra wall time over the whole run.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    val results = queries.map { case (name, fn) =>
      // One untimed re-touch immediately before this key's timed
      // iterations: by the time the loop reaches key ~300, caches the
      // warmup pass populated for it may have been LRU-evicted by the
      // intervening 299 keys' builds; the touch re-materializes them so
      // the timed min measures the QUERY, not cache-churn attribution
      // (r8: sim_search_pq read 1.92s in the driver run vs 0.30s warm —
      // same plan). The rebuild cost itself is visible in cold_s.
      try force(fn(spark, sfDir))
      catch { case _: Throwable => () } // failure re-reported by the timed loop
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e"); false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      (name, times.map(_._1).min, times.forall(_._2))
    }
    val failed = (warmFailed ++ results.collect { case (n, _, false) => n }).distinct.sorted
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // "queries" stays the warm (min-of-iters) number — the per-key plan
    // cost. "cold" is each key's first-ever run including any shared-cache
    // build it triggered; a key whose cold/warm ratio is large is paying a
    // shared build, not running a slow plan.
    val coldJson = results.map { case (k, _, _) =>
      "\"" + k + "\":" + coldTimes.get(k).fold("null")(_.toString)
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold":$coldJson,"failed":$failedJson,"sf":"$sfDir"}"""
    println(fullLine)
    // Also write the full line to a file: the driver's stdout capture
    // prefixes sbt's "[info] " and keeps only a tail window, which left
    // BENCH_r*.json "parsed": null every round. A plain-file copy is
    // unconditionally machine-readable.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/graft_bench.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // The driver captures only the LAST 2000 chars of stdout; with 77
    // queries the full line above is ~2.2k chars, so r2's BENCH json ended
    // up truncated mid-line and unparseable ("parsed": null). Re-emit the
    // same contract line LAST in a compact form guaranteed to fit: ms
    // precision, and if still over budget drop the *fastest* queries from
    // the map (count recorded in "omitted" — never silent).
    // Locale.ROOT, not the f-interpolator: f"" formats with the JVM default
    // locale, and a comma-decimal locale would emit unparseable JSON in the
    // exact code path that exists to keep the driver's tail-window parse
    // working.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The parsed block carries cold alongside warm for every kept key
    // (r9-verdict ask #5): "queries" stays the warm min (the per-key plan
    // cost, and the shape older rounds' tooling already reads); "cold"
    // mirrors the same keys with each one's first-run duration, and
    // "cold_total" is the full warmup-pass wall — cold/warm ≫ 1 on a key
    // means it pays a shared-cache build, not a slow plan.
    val coldTotal = coldTimes.values.sum
    def compactLine(qseq: Seq[(String, Double)], omitted: Int): String = {
      val sorted = qseq.sortBy(_._1)
      val m = sorted.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val c = sorted.map { case (k, _) =>
        "\"" + k + "\":" + coldTimes.get(k).fold("null")(fmt) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cold_total":${fmt(coldTotal)},""" +
        s""""queries":$m,"cold":$c,""" +
        s""""n":${results.size},"omitted":$omitted,"failed":$failedJson,"sf":"$sfDir"}"""
    }
    val bySlowest = results.map { case (k, v, _) => (k, v) }.sortBy(-_._2)
    val budget = 1700 // tail window 2000 minus sbt's trailing [success] line
    val keep = (results.size to 1 by -1)
      .map(n => (n, compactLine(bySlowest.take(n), results.size - n)))
      .find(_._2.length <= budget)
      .map(_._2).getOrElse(compactLine(Nil, results.size))
    println(keep)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
