package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Half-open time interval in epoch microseconds. */
final case class Iv(start: Long, end: Long) {
  def len: Long = math.max(0L, end - start)
}

object Iv {
  /** Merge overlapping intervals. */
  def union(xs: Iterable[Iv]): Vector[Iv] =
    xs.toVector.filter(_.len > 0).sortBy(_.start).foldLeft(Vector.empty[Iv]) {
      case (acc :+ last, iv) if iv.start <= last.end => acc :+ Iv(last.start, math.max(last.end, iv.end))
      case (acc, iv) => acc :+ iv
    }
  def covered(xs: Iterable[Iv]): Long = union(xs).map(_.len).sum
  /** Time inside `outer` that none of `inner` covers. */
  def self(outer: Iterable[Iv], inner: Iterable[Iv]): Long = {
    val o = union(outer)
    o.map(_.len).sum - covered(for (a <- o; b <- inner) yield Iv(math.max(a.start, b.start), math.min(a.end, b.end)))
  }
}

/** A recorded span: `parent` 0 is a root, `req` ties it to one request. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, req: Long) {
  def iv: Iv = Iv(start, end)
}

/** In-memory span recorder. Clock: epoch microseconds derived from
  * nanoTime, so spans and Spark's millisecond event stamps share a base. */
final class Spans {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val all = new ConcurrentLinkedQueue[Span]()

  def now(): Long = base + System.nanoTime() / 1000L

  def record(name: String, start: Long, end: Long, parent: Long = 0, req: Long = 0): Span = {
    val s = Span(ids.incrementAndGet(), name, start, end, parent, req)
    all.add(s)
    s
  }

  def span[T](name: String, parent: Long = 0, req: Long = 0)(f: => T): (T, Span) = {
    val t0 = now()
    val out = f
    (out, record(name, t0, now(), parent, req))
  }

  /** A span whose body records children under it: `f` gets the span's id. */
  def parent[T](name: String)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = now()
    val out = f(id)
    all.add(Span(id, name, t0, now(), 0, 0))
    out
  }

  def named(name: String): Vector[Span] = all.asScala.filter(_.name == name).toVector
}

/** Spark job/stage metrics, SQL executions, Catalyst phases and streaming
  * state-commit times, each attributed to a scope: the submitting thread's
  * `perfbench.scope` local property when set, otherwise the scope the
  * benchmark thread declared. Callers drain the listener bus before they
  * change scope, so with one request in flight every event lands on it.
  */
final class Collector(spark: SparkSession) {
  import Collector._

  @volatile var scope: String = ""
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val queries = new ConcurrentLinkedQueue[Query]()
  val commits = new ConcurrentLinkedQueue[(String, Long)]()
  /** Top-level SQL executions, with the call site that started them. */
  val execs = new ConcurrentLinkedQueue[Exec]()

  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val openExecs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()

  private def scopeOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(ScopeKey))).getOrElse(scope)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val result = e.stageInfos.maxBy(_.stageId)
      open.put(e.jobId, Job(e.jobId, scopeOf(e.properties), e.time * 1000, 0L,
        result.name, result.details))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time * 1000)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if x.rootExecutionId.forall(_ == x.executionId) =>
        openExecs.put(x.executionId, Exec(x.executionId, x.time * 1000, 0L, x.details,
          x.physicalPlanDescription.contains("account_new")))
      case x: SparkListenerSQLExecutionEnd =>
        Option(openExecs.remove(x.executionId)).foreach(q => execs.add(q.copy(end = x.time * 1000)))
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageScope.put(e.stageInfo.stageId, scopeOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val journal = i.rddInfos.exists(_.callSite.contains("Journal.scala"))
      stages.add(Stage(i.stageId, Option(stageScope.remove(i.stageId)).getOrElse(scope),
        i.submissionTime.getOrElse(0L) * 1000, i.completionTime.getOrElse(0L) * 1000,
        i.numTasks, journal,
        if (m == null) Metrics.zero else Metrics(
          m.executorCpuTime / 1000000,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      queries.add(Query(scope, ms("analysis"), ms("optimization"), ms("planning"),
        Plans.filesRead(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      commits.add((scope, e.progress.stateOperators.map(_.commitTimeMs).sum))
  }

  def start(): Collector = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Drain, then attribute later events to `s`. */
  def enter(s: String): Unit = { drain(); scope = s }

  def jobsIn(s: String => Boolean): Vector[Job] = jobs.asScala.filter(j => s(j.scope)).toVector
  def stagesIn(s: String => Boolean): Vector[Stage] = stages.asScala.filter(x => s(x.scope)).toVector
  def queriesIn(s: String => Boolean): Vector[Query] = queries.asScala.filter(q => s(q.scope)).toVector
}

object Collector {
  val ScopeKey = "perfbench.scope"

  final case class Job(id: Int, scope: String, start: Long, end: Long,
      name: String, details: String) {
    def iv: Iv = Iv(start, end)
  }
  /** A SQL execution; `writesAccountNew` marks the account table rewrite. */
  final case class Exec(id: Long, start: Long, end: Long, details: String,
      writesAccountNew: Boolean) {
    def iv: Iv = Iv(start, end)
  }
  final case class Metrics(cpuMs: Long, inputBytes: Long,
      inputRecords: Long, outputBytes: Long, shuffleWriteBytes: Long)
  object Metrics { val zero: Metrics = Metrics(0, 0, 0, 0, 0) }
  final case class Stage(id: Int, scope: String, start: Long, end: Long, tasks: Int,
      journal: Boolean, m: Metrics) {
    def iv: Iv = Iv(start, end)
  }
  final case class Query(scope: String, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, filesRead: Long) {
    def catalystMs: Long = analysisMs + optimizationMs + planningMs
  }
}

/** Physical-plan walks that see through adaptive query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  def filesRead(p: SparkPlan): Long =
    try collectWithSubqueries(p) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    catch { case _: Exception => 0L }
}

/** Plain JSON writing for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => Http.mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toSeq.to(mutable.LinkedHashMap))
    case other => apply(other.toString)
  }
}
