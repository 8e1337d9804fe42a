package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work Spark did on behalf of one span: scheduler counts and summed task
  * metrics. Only the listener-bus thread writes it.
  */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, outBytes, outRecords = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    outBytes += o.outBytes; outRecords += o.outRecords
  }
}

/** A timed interval around one harness call. `layer` is `op` for a whole
  * operation and `build` / `plan` / `exec` for its parts, whose `parent`
  * is the operation's span id.
  */
final case class Span(id: Int, parent: Int, pass: Int, op: String, layer: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the listener that charges every job,
  * stage and task to the span whose thread started the job (the span id
  * travels as a local property, so jobs fired from Spark's helper threads
  * on behalf of that thread inherit it). Spans stay in memory until
  * [[Harness]] writes them out at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()

  private def of(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  def workOf(span: Int): Work = work.getOrDefault(span, new Work)

  /** Runs `body` inside a new span; Spark jobs it starts are charged to it. */
  def span[T](parent: Int, pass: Int, op: String, layer: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, parent, pass, op, layer, System.nanoTime())
    spans += s
    val prevProp = sc.getLocalProperty(Prop)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty(Prop, s.id.toString)
    sc.setJobDescription(s"perfbench pass $pass $op $layer")
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Prop, prevProp)
      sc.setJobDescription(prevDesc)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    of(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageSpan.getOrDefault(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outBytes += m.outputMetrics.bytesWritten
      w.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
