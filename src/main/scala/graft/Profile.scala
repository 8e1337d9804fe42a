package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dev-only per-key cost profiler and plan snapshotter (not part of the
  * declared surface).
  *
  * Three modes:
  *   - `sbt "runMain graft.Profile <k1,k2,...> [iters]"` runs each key on
  *     its own: a warm pass (iter 0), then `iters` more (default 2) on warm
  *     caches, and lists every Spark job that ran, with wall ms,
  *     description and its stages' call sites with task counts
  *     (`parquet at TxnLog.scala:648 [1t]`). A last line lists every key
  *     whose warm iterations (iter ≥ 1) still compile generated classes,
  *     with the count per iteration: a deterministic plan compiles none.
  *   - `sbt "runMain graft.Profile --cycle <k1,k2,...> [passes]"` runs the
  *     keys in the listed order as one first pass plus `passes` cleared
  *     passes (default 3). Each cleared pass starts after
  *     `Tables.unpersistAll` and `spark.catalog.clearCache()`, the way a new
  *     job pays its cache builds. A last line gives the median generated
  *     classes compiled per cleared pass: the number that shows whether
  *     the keys' working set fits Spark's codegen cache.
  *   - `sbt "runMain graft.Profile --plans <tag> <k1,k2,...|--all> <outDir>"`
  *     runs nothing: it writes `<outDir>/<key>_<tag>.txt`, the
  *     `.explain("formatted")` output of each key's plan — the evidence for
  *     plan-shape claims (exchange count, join strategy, PushedFilters /
  *     ReadSchema) in the session the bench times.
  *
  * The first two modes split each run of a key into:
  *   - build: the `fn(spark, sfDir)` call — plan construction INCLUDING
  *     any eager jobs the operator runs at construction time (key-election
  *     collects, codebook builds, fixture writes);
  *   - exec: the noop-sink run of the returned frame (Bench's timed action
  *     runs both, so build + exec ≈ the bench number);
  * and each part reports its wall time, the Spark jobs it fired, the
  * generated classes Spark compiled (the JVM-wide `CodegenMetrics` compile
  * count, so a class already in Spark's codegen cache counts 0) and the
  * JIT compiler's milliseconds (`CompilationMXBean`).
  *
  * Inputs come from the test-data directory named by `SPARK_GRAFT_SF_DIR`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val cycle = args.headOption.contains("--cycle")
    val plans = args.headOption.contains("--plans")
    val rest = if (cycle || plans) args.drop(1) else args
    require(if (plans) rest.length == 3 else rest.nonEmpty,
      "usage: Profile <key1,key2,...> [iters] | Profile --cycle <key1,key2,...> [passes]" +
        " | Profile --plans <tag> <key1,key2,...|--all> <outDir>")
    val keyArg = if (plans) rest(1) else rest(0)
    val keys =
      if (keyArg == "--all") SparkEntry.queries.keys.toSeq.sorted
      else keyArg.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val n = if (plans) 0 else if (rest.length > 1) rest(1).toInt else if (cycle) 3 else 2
    val fns = keys.map(k => k -> SparkEntry.queries.getOrElse(k,
      sys.error(s"Profile: unknown query '$k'"))).toMap
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val (started, sentinels) = (new AtomicInteger, new AtomicInteger)
    val Sentinel = "profile-sentinel"
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc == Sentinel) sentinels.incrementAndGet()
        else {
          started.incrementAndGet()
          jobs.put(js.jobId, (js.time, desc + "  <" + js.stageInfos.sortBy(_.stageId)
            .map(s => s"${s.name} [${s.numTasks}t]").mkString("; ") + ">"))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(je.jobId)
        if (st != null) done.add((je.jobId, je.time - st._1, st._2))
      }
    })

    /** Jobs started so far. The listener bus is asynchronous, so a sentinel
      * job drains it: once the sentinel's start event arrives, every
      * earlier event has.
      */
    def jobsStarted(): Int = {
      val sc = spark.sparkContext
      val (s0, desc) = (sentinels.get, sc.getLocalProperty("spark.job.description"))
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(desc)
      val deadline = System.nanoTime() + 30000000000L
      while (sentinels.get == s0 && System.nanoTime() < deadline) Thread.sleep(2)
      started.get
    }

    /** Runs one key once; returns the classes it compiled. */
    def run(key: String, label: String, listJobs: Boolean): Long = {
      done.clear()
      spark.sparkContext.setJobDescription(s"$key build")
      val j0 = jobsStarted()
      val (t0, c0) = (System.nanoTime(), compileCounters())
      val df = fns(key)(spark, sfDir)
      val (t1, c1) = (System.nanoTime(), compileCounters())
      val j1 = jobsStarted()
      spark.sparkContext.setJobDescription(s"$key exec")
      df.write.format("noop").mode("overwrite").save()
      val (t2, c2) = (System.nanoTime(), compileCounters())
      val j2 = jobsStarted()
      spark.sparkContext.setJobDescription(null)
      println(f"[profile] $key $label: build ${(t1 - t0) / 1e9}%.3fs  " +
        f"exec ${(t2 - t1) / 1e9}%.3fs  total ${(t2 - t0) / 1e9}%.3fs")
      println(s"[profile]   jobs: build ${j1 - j0}, exec ${j2 - j1}; " +
        s"codegen: build ${c1._1 - c0._1} classes, jit ${c1._2 - c0._2} ms; " +
        s"exec ${c2._1 - c1._1} classes, jit ${c2._2 - c1._2} ms")
      if (listJobs) {
        val evs = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        for ((id, ms, desc) <- evs)
          println(f"[profile]   job $id%4d ${ms}%6d ms  $desc")
      }
      if (sys.env.contains("GRAFT_PROF_STORAGE")) {
        val infos = spark.sparkContext.getRDDStorageInfo
        val totalMB = infos.map(_.memSize).sum / 1e6
        val partial = infos.filter(i => i.numCachedPartitions < i.numPartitions)
        println(f"[profile]   storage: ${infos.length} cached RDDs, " +
          f"$totalMB%.0f MB, ${partial.length} PARTIALLY cached")
        for (i <- partial.take(10))
          println(s"[profile]     PARTIAL ${i.numCachedPartitions}/" +
            s"${i.numPartitions} ${i.memSize / 1048576} MB  ${i.name.take(120)}")
      }
      c2._1 - c0._1
    }

    if (plans) writePlans(spark, keys.map(k => k -> fns(k)), sfDir, tag = rest(0), outDir = rest(2))
    else if (cycle) {
      // pass 0 is the first pass; passes 1..n start cleared
      val perPass = (0 to n).map { pass =>
        if (pass > 0) {
          Tables.unpersistAll(spark)
          spark.catalog.clearCache()
        }
        val (t0, cpu0) = (System.nanoTime(), processCpuNanos())
        val compiled = keys.map(k => run(k, s"pass $pass", listJobs = false)).sum
        println(f"[profile] pass $pass: ${(System.nanoTime() - t0) / 1e9}%.3fs wall, " +
          f"${(processCpuNanos() - cpu0) / 1e9}%.3f process CPU-s, $compiled classes compiled")
        compiled
      }
      val cleared = perPass.drop(1).sorted
      if (cleared.nonEmpty) {
        val median = (cleared((cleared.size - 1) / 2) + cleared(cleared.size / 2)) / 2.0
        println(s"[profile] cleared passes compiled ${perPass.drop(1).mkString(", ")} " +
          s"classes (median $median)")
      }
    } else {
      // a deterministic plan compiles nothing once warm; a key that still
      // does generates sources that differ from run to run
      val unstable = keys.flatMap { key =>
        val warm = (0 to n).map(i => run(key, s"iter $i", listJobs = true)).drop(1)
        Option.when(warm.exists(_ > 0))(s"$key (${warm.mkString(", ")})")
      }
      println("[profile] warm iterations (iter >= 1) compiling classes: " +
        (if (unstable.isEmpty) "none" else unstable.mkString("; ")))
    }
    spark.stop()
  }

  /** `--plans`: each key's formatted plan into `<outDir>/<key>_<tag>.txt`. */
  private def writePlans(spark: SparkSession,
                         fns: Seq[(String, (SparkSession, String) => DataFrame)],
                         sfDir: String, tag: String, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for ((key, fn) <- fns) {
      spark.sparkContext.setJobDescription(s"plans: $key")
      val txt = fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${key}_$tag.txt"), txt.getBytes(StandardCharsets.UTF_8))
      println(s"[profile] wrote $outDir/${key}_$tag.txt (${txt.length} chars)")
    }
  }

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** (generated classes compiled, JIT milliseconds) so far in this JVM. */
  private def compileCounters(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L)

  /** CPU time of every thread of this process so far. */
  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
}
