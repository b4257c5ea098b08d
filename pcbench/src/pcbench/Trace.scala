package pcbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThanOrEqual}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code around a call into a
  * layer. `op` groups the spans of one operation; `parent` is the
  * enclosing span's id, -1 at the root. */
final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Off, it runs the body and records nothing, so
  * untraced ops carry no tracing cost. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  private var stack = List.empty[Int]
  private var op = ""

  def inOp[T](opId: String)(body: => T): T = { op = opId; try span("op")(body) finally op = "" }

  /** Runs `body` as a span; returns its value and the span (null off). */
  def timed[T](name: String)(body: => T): (T, Span) =
    if (!on) (body, null)
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val start = System.nanoTime() - t0
      try {
        val v = body
        val s = Span(id, parent, op, name, start, System.nanoTime() - t0)
        spans(id) = s
        (v, s)
      } finally stack = stack.tail
    }

  def span[T](name: String)(body: => T): T = timed(name)(body)._1
}

/** Spark work of one job group (one op, or one op's build step). */
final class JobCounts {
  var jobs, tasks, taskMs, shuffleWriteBytes, spillBytes, jobMs = 0L
}

/** Listener-bus counters: jobs, tasks and task metrics per job group,
  * plus every QueryExecution that finished. The benchmark sets the job
  * group to the op id and drains the bus before reading. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val groups = mutable.HashMap.empty[String, JobCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStarts = mutable.HashMap.empty[Int, (String, Long)]
  private val executions = mutable.ArrayBuffer.empty[(String, QueryExecution)]

  private def counts(g: String) = groups.getOrElseUpdate(g, new JobCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStarts.put(e.jobId, (g, e.time))
    counts(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, t) => counts(g).jobMs += e.time - t }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += ((funcName, qe)) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Removes and returns the counts of group `g`. */
  def takeGroup(g: String): JobCounts = synchronized { groups.remove(g).getOrElse(new JobCounts) }

  /** Removes and returns the executions finished so far, with the name
    * of the action that ran each. */
  def takeExecutions(): Seq[(String, QueryExecution)] = synchronized {
    val all = executions.toList
    executions.clear()
    all
  }
}

/** SQL metrics summed over the executed plans of one op. */
final case class PlanStats(scanRows: Long, filesRead: Long, pushedRanges: Long,
    generatedRows: Long, rddScanRows: Long) {
  def +(o: PlanStats): PlanStats = PlanStats(scanRows + o.scanRows, filesRead + o.filesRead,
    pushedRanges + o.pushedRanges, generatedRows + o.generatedRows, rddScanRows + o.rddScanRows)
}

object PlanStats {
  val zero: PlanStats = PlanStats(0, 0, 0, 0, 0)

  /** Every node of the executed plan, through adaptive wrappers and
    * query stages; a reused exchange is not walked twice. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Range terms on sfc_head in a scan filter: each BETWEEN is a `>=`
    * and a `<=`, a single-key range an `=`. */
  private def ranges(f: Expression): Long = f.collect {
    case GreaterThanOrEqual(a: Attribute, _) if a.name == "sfc_head" => 1
    case EqualTo(a: Attribute, _) if a.name == "sfc_head" => 1
  }.size.toLong

  def of(qe: QueryExecution): PlanStats = nodes(qe.executedPlan).map {
    case s: FileSourceScanExec =>
      PlanStats(metric(s, "numOutputRows"), metric(s, "numFiles"),
        s.dataFilters.map(ranges).sum, 0, 0)
    case g: GenerateExec => PlanStats(0, 0, 0, metric(g, "numOutputRows"), 0)
    case r: RDDScanExec => PlanStats(0, 0, 0, 0, metric(r, "numOutputRows"))
    case _ => zero
  }.foldLeft(zero)(_ + _)
}

/** Highest heap in use right after a GC, sampled by forcing a full
  * collection at fixed points of the timed phase and reading the heap
  * pools' collection usage from the memory MXBeans. Forced collections
  * measure what the driver holds, not how far garbage piled up before
  * the collector happened to run. */
object HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private var peak = 0L

  def reset(): Unit = peak = 0L

  /** Forces a full GC and folds the heap left in use into the peak. */
  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / 1048576.0
}
