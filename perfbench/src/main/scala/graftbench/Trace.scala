package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One traced interval. Spans of one op share `op`; `parent` is the id of
  * the span that caused it (-1 for an op's root). Times are epoch ns. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String) {
  def dur: Long = end - start
}

/** In-memory span recorder for the benchmark's own calls into each layer;
  * written out once, when the run ends. */
final class Tracer {
  // epoch-ns clock from the monotonic one, so listener timestamps (epoch
  // ms) fall on the same axis as the spans
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + base

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = ""

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, now(), 0L, parent, op)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = now())
    }
  }

  def inOp[T](opId: String, name: String)(body: => T): T = {
    op = opId
    try span(name)(body) finally op = ""
  }

  /** Attach Spark jobs as child spans of the innermost span of the same op
    * that encloses each job's start. */
  def addJobs(jobs: Iterable[(String, Long, Long)]): Unit =
    jobs.toSeq.sortBy(_._2).foreach { case (opId, s, e) =>
      val enclosing = spans.filter(p => p.op == opId && p.name != "spark.job" && p.start <= s && s <= p.end)
      if (enclosing.nonEmpty) {
        val parent = enclosing.maxBy(_.start)
        spans += Span(spans.size, "spark.job", s, math.max(s, e), parent.id, opId)
      }
    }

  /** Span duration minus the part of it that its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    s.dur - covered
  }
}

/** Per-op Spark execution statistics, gathered at job, stage, task and SQL
  * execution boundaries and scoped to an op by its job group. */
final class Collector extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, singleTaskStages, failedTasks, aqeReplans = 0L
    var taskWaitMs, runMs, cpuNs, gcMs, spill, shuffleRead, shuffleWrite = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byOp = mutable.Map.empty[String, Acc]
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val execOp = mutable.Map.empty[Long, String]
  // jobs this listener saw start and not yet end; an end event queued before
  // the listener was added must not count
  private val open = mutable.Set.empty[Int]

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open += e.jobId
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      acc(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open -= e.jobId
    jobOp.get(e.jobId).foreach(op => acc(op).jobSpans += ((jobStart(e.jobId), e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val a = acc(op)
      a.stages += 1
      if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = acc(op)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(s => a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(execOp(s.executionId) = _)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => execOp.get(u.executionId).foreach(acc(_).aqeReplans += 1)
      case _ => ()
    }
  }

  /** Wait until every started job has ended (events arrive asynchronously). */
  def awaitQuiet(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      val (o, n) = synchronized((open.size, byOp.values.map(_.tasks).sum + byOp.size))
      stable = if (o == 0 && n == last) stable + 1 else 0
      last = n
      Thread.sleep(100)
    }
  }

  def forOp(op: String): Acc = synchronized(byOp.getOrElse(op, new Acc))
  def jobs(): Seq[(String, Long, Long)] = synchronized {
    byOp.toSeq.flatMap { case (op, a) => a.jobSpans.map { case (s, e) => (op, s * 1000000L, e * 1000000L) } }
  }
}

/** Statistics of one forced QueryExecution. */
final case class PlanStats(analysisMs: Long, optimizationMs: Long, planningMs: Long, exchanges: Int,
    scanPartitions: Long, scanRows: Long)

object PlanStats {
  // `intoCache`: also walk the plan that filled the cached relation this
  // plan reads (only the outermost one: inner caches were filled earlier)
  private def walk(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, intoCache)
    case s: QueryStageExec        => walk(s.plan, intoCache)
    case m: InMemoryTableScanExec => if (intoCache) walk(m.relation.cachedPlan, intoCache = false) else Nil
    case other => other.children.flatMap(walk(_, intoCache)) ++ other.subqueries.flatMap(walk(_, intoCache))
  })

  /** Stats of an executed plan; `filledCache` when forcing it filled the
    * cache of a persisted DataFrame, whose plan then counts as executed. */
  def of(qe: QueryExecution, filledCache: Boolean = false): PlanStats = {
    val phases = qe.tracker.phases
    def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
    val nodes = walk(qe.executedPlan, filledCache)
    val scans = nodes.collect { case b: BatchScanExec => b }
    PlanStats(ms("analysis"), ms("optimization"), ms("planning"),
      nodes.count(_.isInstanceOf[Exchange]),
      scans.map(_.inputPartitions.size.toLong).sum,
      scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(collection.immutable.ListMap(p.productElementNames.zip(p.productIterator).toSeq: _*))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
