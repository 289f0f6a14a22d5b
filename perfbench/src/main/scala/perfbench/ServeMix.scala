package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import graft.api.{GraphQL, GraphQLExecutor, HttpEdge}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The serve phase of serve_sync: read-only serving. A closed loop of
  * keep-alive clients over HttpEdge on the warehouse synced at set-up; the
  * edge is never refreshed while they run. */
object ServeMix {
  val Clients = 4
  /** Requests per 1-client pass of a traced run (two cycles of the mix). */
  val TracedRequests: Int = 2 * Routes.Kinds.size

  /** The serve phase over the freshly synced warehouse `wh`: a warm-up of
    * every hot shape, then the measured closed loop (or, traced, the
    * 1-client passes). Measures for `share` of the run's seconds. */
  def run(spark: SparkSession, a: Args, res: Result, ledger: Ledger, edge: HttpEdge,
      wh: Path, share: Double): Unit = {
    val routes = new Routes(ledger, a.seed)
    // warm-up, unmeasured: every hot shape once, so the JIT and the plan
    // cache start warm
    val warm = routes.hot.values.flatten.toVector
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        val http = new Http(edge.boundPort)
        var i = next.getAndIncrement()
        while (i < warm.size) { res.op(http.send(warm(i)).error); i = next.getAndIncrement() }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    if (a.trace) traced(spark, a, res, edge, routes, wh)
    else measure(a, res, edge, routes, share)
  }

  private def measure(a: Args, res: Result, edge: HttpEdge, routes: Routes,
      share: Double): Unit = {
    val start = System.nanoTime()
    val deadline = a.deadlineNs(start, share)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val http = new Http(edge.boundPort)
        val r = new SplittableRandom(a.seed * 1000003L + c)
        var i = c * (Routes.Kinds.size / Clients)
        while (System.nanoTime() < deadline) {
          done.add(http.send(routes.next(r, i / Routes.Kinds.size, i % Routes.Kinds.size)))
          i += 1
        }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val ds = done.asScala.toVector
    ds.foreach(d => res.op(d.error))
    val elapsed = (ds.map(_.t1).max - start) / 1e9
    val ms = ds.map(_.ms)
    res.metric("latency_p50_ms", Stats.median(ms), "ms")
    res.metric("throughput_per_s", ds.size / elapsed, "1/s")
    res.summary("latency_p95_ms") = Stats.quantile(ms, 0.95)
    res.summary("requests") = ds.size
    res.summary("per_kind_p50_ms") = Routes.Kinds.distinct.map(k => k -> Stats.median(ds.filter(_.kind == k).map(_.ms))).toMap
    res.summary("hot_p50_ms") = Stats.median(ds.filter(_.hot).map(_.ms))
    res.summary("cold_p50_ms") = Stats.median(ds.filter(!_.hot).map(_.ms))
  }

  /** One client, fixed request lists of the same composition: half a list
    * untraced, a full list traced, half a list untraced. Per-layer metrics
    * come from the traced list. */
  private def traced(spark: SparkSession, a: Args, res: Result, edge: HttpEdge,
      routes: Routes, wh: Path): Unit = {
    val http = new Http(edge.boundPort)
    def list(seed: Long) = {
      val r = new SplittableRandom(seed)
      (0 until TracedRequests).map(i => routes.next(r, i / Routes.Kinds.size, i % Routes.Kinds.size))
    }
    def untraced(seed: Long) =
      list(seed).take(TracedRequests / 2).map { q => val d = http.send(q); res.op(d.error); d }
    // untraced, traced, untraced: the overhead estimate is not biased by
    // the JIT still warming up during the first list
    val before = untraced(a.seed * 7 + 1)

    val spans = new Spans
    val col = new Collector(spark).start()
    val reqs = spans.parent("serve.traced") { id =>
      list(a.seed * 7 + 2).zipWithIndex.map { case (q, i) =>
        col.enter(s"req:$i")
        val (d, s) = spans.span(s"edge:${q.kind}", parent = id, req = i + 1)(http.send(q))
        res.op(d.error)
        (d, s)
      }
    }
    col.stop()
    val plain = before ++ untraced(a.seed * 7 + 3)

    // GraphQL layers, called directly on the mix's documents
    val exec = new GraphQLExecutor(() => spark.read.parquet(s"$wh/tenant"),
      () => spark.read.parquet(s"$wh/account"), () => spark.read.parquet(s"$wh/transfer"))
    val docs = routes.hot.values.flatten.flatMap(_.gql).toVector
    def timeMs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val out = f; (out, (System.nanoTime() - t0) / 1e6)
    }
    val gq = docs.map { d =>
      val parse = Stats.median((1 to 3).map(_ => timeMs(GraphQL.parse(d))._2))
      val (plans, plan) = (1 to 3).map(_ => timeMs(exec.plans(d))).minBy(_._2)
      val render = Stats.median((1 to 3).map(_ => timeMs(exec.renderResponse(plans))._2))
      (parse, math.max(0.0, plan - parse), render)
    }
    res.metric("graphql.parse_ms", Stats.median(gq.map(_._1)), "ms")
    res.metric("graphql.compile_ms", Stats.median(gq.map(_._2)), "ms")
    res.metric("graphql.render_ms", Stats.median(gq.map(_._3)), "ms")

    final case class PerReq(done: Done, jobs: Vector[Collector.Job],
        stages: Vector[Collector.Stage], queries: Vector[Collector.Query], jobUs: Long, wallUs: Long) {
      def catalystMs: Long = queries.map(_.catalystMs).sum
    }
    val per = reqs.map { case (d, s) =>
      val scope = s"req:${s.req - 1}"
      val jobs = col.jobsIn(_ == scope)
      PerReq(d, jobs, col.stagesIn(_ == scope), col.queriesIn(_ == scope),
        Iv.covered(jobs.map(_.iv)), s.end - s.start)
    }
    def mean(f: PerReq => Double) = per.map(f).sum / per.size
    res.metric("edge.self_ms", mean(p => (p.wallUs - p.jobUs) / 1000.0 - p.catalystMs), "ms")
    res.metric("edge.hot_p50_ms", Stats.median(per.filter(_.done.hot).map(_.wallUs / 1000.0)), "ms")
    res.metric("edge.cold_p50_ms", Stats.median(per.filter(!_.done.hot).map(_.wallUs / 1000.0)), "ms")
    res.metric("catalyst.analysis_ms", mean(_.queries.map(_.analysisMs).sum.toDouble), "ms")
    res.metric("catalyst.optimization_ms", mean(_.queries.map(_.optimizationMs).sum.toDouble), "ms")
    res.metric("catalyst.planning_ms", mean(_.queries.map(_.planningMs).sum.toDouble), "ms")
    res.metric("catalyst.plans_per_req", mean(_.queries.size.toDouble), "count")
    res.metric("spark.jobs_per_req", mean(_.jobs.size.toDouble), "count")
    res.metric("spark.tasks_per_req", mean(_.stages.map(_.tasks).sum.toDouble), "count")
    res.metric("spark.job_ms_per_req", mean(_.jobUs / 1000.0), "ms")
    res.metric("spark.cpu_ms_per_req", mean(_.stages.map(_.m.cpuMs).sum.toDouble), "ms")
    res.metric("spark.files_read_per_req", mean(_.queries.map(_.filesRead).sum.toDouble), "count")
    res.metric("spark.input_bytes_per_req", mean(_.stages.map(_.m.inputBytes).sum.toDouble), "bytes")
    res.metric("spark.driver_serial_ms", mean(p => (p.wallUs - p.jobUs) / 1000.0), "ms")
    val plainP50 = Stats.median(plain.map(_.ms))
    val tracedP50 = Stats.median(reqs.map(_._1.ms))
    res.metric("trace.overhead_pct", 100.0 * (tracedP50 - plainP50) / plainP50, "%")
    res.summary("untraced_p50_ms") = plainP50
    res.summary("traced_p50_ms") = tracedP50

    res.counters("serve.jobs") = per.map(_.jobs.size.toLong).sum
    res.counters("serve.stages") = per.map(_.stages.size.toLong).sum
    res.counters("serve.tasks") = per.map(_.stages.map(_.tasks.toLong).sum).sum
    res.counters("serve.files_read") = per.map(_.queries.map(_.filesRead).sum).sum
    res.counters("serve.plans") = per.map(_.queries.size.toLong).sum
    Main.writeTrace(a, "serve", spans, col)
  }
}
