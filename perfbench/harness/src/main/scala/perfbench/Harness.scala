package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: set-up, a first pass, then a fixed number
  * of passes with cleared caches. Calls only the
  * program's public entry points (`SparkEntry.queries`, the `Graft`
  * facade, `GraftExtensions.register`, `Tables.unpersistAll`) and writes
  * one JSON record; `perfbench/run.py` turns it into the result line.
  *
  * Load model: one driver thread, closed loop (an operation starts when
  * the previous one has finished), `local[cores]` with
  * `spark.sql.shuffle.partitions = cores`.
  */
object Harness {

  /** One timed operation: `build` is the program call; the harness then
    * forces every output column with a noop write, observing the output's
    * multiset digest (and any `extra` aggregates, which reach the output's
    * columns through the name -> column function they are given) in the
    * same job, and hands the observed values to `check`, which returns an
    * error or None.
    */
  final case class Op(name: String, build: () => DataFrame,
                      extra: (String => Column) => Seq[Column] = _ => Nil,
                      check: Map[String, Any] => Option[String])

  final case class OpSample(pass: Int, name: String, buildS: Double, planS: Double,
                            execS: Double, error: Option[String]) {
    def totalS: Double = buildS + planS + execS
  }

  final case class PassStats(index: Int, kind: String, traced: Boolean, wallS: Double,
                             cpuS: Double, gcS: Double, samples: Seq[OpSample],
                             layers: Map[String, Double])

  /** A workload: generates its inputs (repeatable: the same seed writes the
    * same files) and lists a pass's operations.
    */
  trait Workload {
    def setup(spark: SparkSession): Unit
    def ops(spark: SparkSession, pass: Int): Seq[Op]
    def inputs: Map[String, Any]
    def finish(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = workload match {
      case "diff_snapshot" => new DiffSnapshot(s"$work/in", DiffSnapshot.Rows, seed)
      case "near_dup" | "catalog_txnlog" =>
        new Fixture(s"$work/in", Fixture.keys(workload), Fixture.tables(workload), seed,
          a.get("digests"), a.get("record-digests"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def generate(): Double = {
      val t0 = System.nanoTime(); wl.setup(spark); (System.nanoTime() - t0) / 1e9
    }
    val genS = ArrayBuffer(generate())
    val toFirstOpS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val passes = ArrayBuffer[PassStats]()
    def runPass(kind: String, traced: Boolean, clear: Boolean): PassStats = {
      val i = passes.size
      if (clear) { graft.Tables.unpersistAll(spark); spark.catalog.clearCache() }
      if (traced) spark.sparkContext.addSparkListener(tracer)
      val p = timePass(spark, wl.ops(spark, i), i, kind, if (traced) Some(tracer) else None,
        cores)
      if (traced) spark.sparkContext.removeSparkListener(tracer)
      passes += p
      p
    }

    // First pass in the fresh JVM, then ClearedPasses cleared passes: a
    // fixed count, not a time budget, because the JIT is still warming up
    // through the run and a faster tree given more (later, faster) passes
    // would read better than it is. A traced run instead runs cleared passes
    // untraced, traced, traced, untraced — the order cancels that warm-up,
    // so the tracing overhead is measured in the same process — then adds
    // one pass with the caches kept.
    runPass("first", traced = false, clear = false)
    if (trace) Seq(false, true, true, false).foreach(t => runPass("cleared", t, clear = true))
    else (1 to ClearedPasses).foreach(_ => runPass("cleared", traced = false, clear = true))
    if (trace) runPass("hot", traced = true, clear = false)
    val probe = if (trace) Kernels.probe(spark, seed) else Map.empty[String, Double]
    // setup_s is session time plus the median of SetupReps input generations,
    // for steadiness. The first generation precedes the first pass; the
    // repeats run only now, so the measured passes see no warm-up from them.
    if (!trace) while (genS.size < SetupReps) genS += generate()
    val setupS = sessionS + median(genS.toSeq)

    wl.finish()
    val cleared = passes.toSeq.filter(_.kind == "cleared")
    val plain = cleared.filterNot(_.traced)
    val traced = cleared.filter(_.traced)
    val samples = plain.flatMap(_.samples).map(_.totalS).sorted
    val allSamples = passes.toSeq.flatMap(_.samples)
    val failures = allSamples.filter(_.error.isDefined)

    val metrics = new JMap[String, Any]()
    if (!trace) {
      metrics.put("setup_s", setupS)
      metrics.put("first_pass_s", passes.head.wallS)
      metrics.put("pass_s", median(plain.map(_.wallS)))
      metrics.put("op_p50_s", quantile(samples, 0.5))
      metrics.put("op_p90_s", quantile(samples, 0.9))
      metrics.put("cpu_s", median(plain.map(_.cpuS)))
    } else {
      for (k <- traced.head.layers.keys.toSeq.sorted)
        metrics.put(k, median(traced.map(_.layers(k))))
      metrics.put("Tables.hot_pass_s", passes.last.wallS)
      metrics.put("trace.overhead_s", median(traced.map(_.wallS)) - median(plain.map(_.wallS)))
      probe.foreach { case (k, v) => metrics.put(s"functions.$k.ns_per_row", v) }
    }

    val rec = new JMap[String, Any]()
    rec.put("workload", workload)
    rec.put("seed", seed)
    rec.put("trace", trace)
    rec.put("seconds", seconds)
    rec.put("nproc", Runtime.getRuntime.availableProcessors())
    rec.put("cores", cores)
    rec.put("heap_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
    rec.put("spark_version", spark.version)
    rec.put("java_version", System.getProperty("java.version"))
    rec.put("inputs", jmap(wl.inputs))
    rec.put("setup", jmap(Map("session_s" -> sessionS, "generate_s" -> jlist(genS.toSeq),
      "to_first_op_s" -> toFirstOpS)))
    rec.put("harness_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    rec.put("op_samples", samples.size)
    rec.put("attempted", allSamples.size)
    rec.put("failed", failures.size)
    rec.put("failures", jlist(failures.map(f => s"pass ${f.pass} ${f.name}: ${f.error.get}")))
    rec.put("metrics", metrics)
    rec.put("passes", jlist(passes.toSeq.map { p =>
      jmap(Map("index" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "layers" -> jmap(p.layers),
        "ops" -> jlist(p.samples.map(s => jmap(Map("name" -> s.name, "build_s" -> s.buildS,
          "plan_s" -> s.planS, "exec_s" -> s.execS, "error" -> s.error.orNull)))))) }))
    if (trace) {
      rec.put("trace_pass_s", median(traced.map(_.wallS)))
      rec.put("untraced_pass_s", median(plain.map(_.wallS)))
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.write(Paths.get(a("out")), mapper.writeValueAsBytes(rec))
    if (trace) a.get("spans").foreach { path =>
      Files.write(Paths.get(path), mapper.writeValueAsBytes(jlist(tracer.spans.toSeq.map { s =>
        val w = tracer.workOf(s.id)
        jmap(Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "op" -> s.op,
          "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> w.jobs,
          "stages" -> w.stages, "tasks" -> w.tasks, "task_cpu_ns" -> w.cpuNs,
          "shuffle_write_bytes" -> w.shuffleWrite, "shuffle_read_bytes" -> w.shuffleRead))
      })))
    }
    spark.stop()
  }

  private val ClearedPasses = 2
  private val SetupReps = 3

  /** Runs one pass and measures it; with a tracer, each operation is
    * split into build / plan / exec spans and Spark's work is summed per
    * layer.
    */
  private def timePass(spark: SparkSession, ops: Seq[Op], pass: Int, kind: String,
                       tracer: Option[Tracer], cores: Int): PassStats = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val samples = ops.map(op => runOp(op, pass, tracer))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      t.drain()
      layerMetrics(spark, t, pass, wallS, cpuS, gcS, cores)
    }
    PassStats(pass, kind, tracer.isDefined, wallS, cpuS, gcS, samples, layers)
  }

  private def runOp(op: Op, pass: Int, tracer: Option[Tracer]): OpSample = {
    def timed[T](parent: Int, layer: String)(body: => T): (T, Double) = tracer match {
      case Some(t) =>
        val (v, s) = t.span(parent, pass, op.name, layer)(body)
        (v, s.seconds)
      case None =>
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
    }
    val opSpan = tracer.fold(-1)(_.spans.size) // the id the op span takes
    var buildS, planS, execS = 0.0
    val error = try {
      timed(-1, "op") {
        val (df, b) = timed(opSpan, "build")(op.build())
        buildS = b
        if (tracer.isDefined) planS = timed(opSpan, "plan")(df.queryExecution.executedPlan)._2
        // Unique column names, so duplicate names in an output cannot make
        // the digest's column references ambiguous.
        val out = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
        val order = df.columns.zipWithIndex.sortBy(identity).map(_._2)
        val aggs = Seq(count(lit(1)).as("rows"),
          sum(Digest.rowHash(out, order).cast(DecimalType(38, 0))).as("hash")) ++
          op.extra(name => out.col(s"c${df.columns.indexOf(name)}"))
        val obs = Observation()
        val observed = out.observe(obs, aggs.head, aggs.tail: _*)
        execS = timed(opSpan, "exec") {
          observed.write.format("noop").mode("overwrite").save()
        }._2
        op.check(obs.get)
      }._1
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    OpSample(pass, op.name, buildS, planS, execS, error)
  }

  /** Per-layer figures of one traced pass, from its spans and the work the
    * listener charged to them.
    */
  private def layerMetrics(spark: SparkSession, t: Tracer, pass: Int, wallS: Double,
                           cpuS: Double, gcS: Double, cores: Int): Map[String, Double] = {
    val spans = t.spans.toSeq.filter(_.pass == pass)
    def in(layer: String) = spans.filter(_.layer == layer)
    def sumWork(ss: Seq[Span]) = { val w = new Work; ss.foreach(s => w += t.workOf(s.id)); w }
    val all = sumWork(spans)
    val build = sumWork(in("build"))
    val exec = sumWork(in("exec"))
    val execWall = in("exec").map(_.seconds).sum
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    val mb = 1.0 / (1 << 20)
    Map(
      "queries.build_s" -> in("build").map(_.seconds).sum,
      "queries.eager_jobs" -> build.jobs.toDouble,
      "catalyst.plan_s" -> in("plan").map(_.seconds).sum,
      "exec.jobs" -> all.jobs.toDouble,
      "exec.stages" -> all.stages.toDouble,
      "exec.tasks" -> all.tasks.toDouble,
      "exec.wall_s" -> execWall,
      "exec.task_cpu_s" -> all.cpuNs / 1e9,
      "exec.task_run_s" -> all.runMs / 1e3,
      "exec.core_util" -> (if (execWall > 0) exec.runMs / 1e3 / (execWall * cores) else 0.0),
      "exec.gc_s" -> gcS,
      "shuffle.write_mb" -> all.shuffleWrite * mb,
      "shuffle.read_mb" -> all.shuffleRead * mb,
      "spill_mb" -> all.spill * mb,
      "output.write_mb" -> (all.outBytes - exec.outBytes) * mb,
      "output.records" -> (all.outRecords - exec.outRecords).toDouble,
      "driver.cpu_s" -> (cpuS - all.cpuNs / 1e9),
      "trace.pass_s" -> wallS,
      "Tables.cached_rdds" -> storage.length.toDouble,
      "Tables.partial_rdds" -> storage.count(r => r.numCachedPartitions < r.numPartitions).toDouble,
      "Tables.cached_mb" -> storage.map(r => r.memSize + r.diskSize).sum * mb)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def jmap(m: Map[String, Any]): JMap[String, Any] = {
    val out = new JMap[String, Any](); m.toSeq.sortBy(_._1).foreach { case (k, v) => out.put(k, v) }; out
  }
  def jlist(xs: Seq[Any]): JList[Any] = new JList[Any](xs.asJava)
}

/** Order-independent multiset digest of a frame: row count plus the sum of
  * `xxhash64` over each row's columns (taken in name order, maps as sorted
  * entry arrays, since `xxhash64` refuses maps).
  */
object Digest {
  /** `xxhash64` over `df`'s columns at positions `order`. */
  def rowHash(df: DataFrame, order: Seq[Int]): Column = {
    val fields = df.schema.fields
    xxhash64(order.map(i => hashable(col(fields(i).name), fields(i).dataType)): _*)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c)).cast("string")
    case other if hasMap(other) => to_json(c)
    case _ => c
  }
}
