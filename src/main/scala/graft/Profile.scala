package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only per-key cost profiler for the optimization rounds (not part of
  * the declared surface; run via `sbt "runMain graft.Profile <k1,k2,...>"`).
  *
  * For each named declared query, runs a warm pass (iter 0) and then
  * `iters` more, and splits each one's cost into:
  *   - build_s: the `fn(spark, sfDir)` call — plan construction INCLUDING
  *     any eager jobs the operator runs at construction time (key-election
  *     collects, codebook builds, fixture writes);
  *   - exec_s: the noop-sink run of the returned frame (Bench's timed
  *     action runs both, so build_s + exec_s ≈ the bench number);
  * and prints every Spark job that ran, with wall ms, description and its
  * stages' call sites with task counts (`parquet at TxnLog.scala:648
  * [1t]`) — the "which job is the expensive one, and which line fired it"
  * view the disabled UI would give. Each of build and exec also reports
  * the generated classes Spark compiled during it (the JVM-wide
  * `CodegenMetrics` compile count, so a class already in Spark's codegen
  * cache counts 0) and the JIT compiler's milliseconds
  * (`CompilationMXBean`).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <key1,key2,...> [iters]")
    val keys = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("") + "  <" + js.stageInfos.sortBy(_.stageId)
            .map(s => s"${s.name} [${s.numTasks}t]").mkString("; ") + ">"))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(je.jobId)
        if (st != null) done.add((je.jobId, je.time - st._1, st._2))
      }
    })

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    for (key <- keys) {
      val fn = SparkEntry.queries.getOrElse(key,
        sys.error(s"Profile: unknown query '$key'"))
      // iter 0 is the warm pass, which pays the key's first compiles.
      for (i <- 0 to iters) {
        done.clear()
        spark.sparkContext.setJobDescription(s"$key build")
        val (t0, c0) = (System.nanoTime(), compileCounters())
        val df = fn(spark, sfDir)
        val (t1, c1) = (System.nanoTime(), compileCounters())
        spark.sparkContext.setJobDescription(s"$key exec")
        force(df)
        val (t2, c2) = (System.nanoTime(), compileCounters())
        println(f"[profile] $key iter $i: build ${(t1 - t0) / 1e9}%.3fs  " +
          f"exec ${(t2 - t1) / 1e9}%.3fs  total ${(t2 - t0) / 1e9}%.3fs")
        println(s"[profile]   codegen: build ${c1._1 - c0._1} classes, " +
          s"jit ${c1._2 - c0._2} ms; exec ${c2._1 - c1._1} classes, jit ${c2._2 - c1._2} ms")
        // drain listener events (job end can lag the action return slightly)
        Thread.sleep(200)
        val evs = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        for ((id, ms, desc) <- evs)
          println(f"[profile]   job $id%4d ${ms}%6d ms  $desc")
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
      }
    }
    spark.stop()
  }

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** (generated classes compiled, JIT milliseconds) so far in this JVM. */
  private def compileCounters(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L)
}
