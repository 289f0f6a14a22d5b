package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicReference

import graft.api.HttpEdge
import graft.warehouse.Warehouse
import org.apache.spark.sql.SparkSession
import perfbench.Http._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The sync phase of serve_sync: one writer appends seeded deltas to a
  * journal much larger than any delta, runs `Warehouse.sync` and refreshes
  * the edge; one reader
  * meanwhile polls, over HTTP, the balance reports and transfer pages of
  * the tenants the latest delta touched. The run ends with one pass over
  * the unchanged journal, which must discover nothing.
  *
  * The reader stays on the routes the program serves consistently while a
  * pass runs: `/balances` (the published balance MV, pinned until refresh)
  * and transfer pages (an append-only table). `/account` joins the account
  * table, which a pass replaces; a plan cached before the swap then fails
  * with FILE_NOT_EXIST until the next refresh (see DESIGN.md). */
object SyncLive {
  /** About 5% of the base journal (ServeSync.Transfers). */
  val DeltaTransfers = 60
  /** Incremental passes of a traced run (a fixed number, so its counters
    * are comparable between runs). */
  val TracedPasses = 4
  /** Passes of an untraced run, at the least: the first pass after the
    * serve phase runs slow, and the median of four leaves it out. */
  val MinPasses = 4

  def checkStats(what: String, got: Warehouse.SyncStats, want: Ledger.Expected): Option[String] =
    if (got.newTenants != want.tenants || got.newAccounts != want.accounts ||
      got.newTransfers != want.transfers) fail(what, got, want)
    else None

  /** What the reader needs to know about one written delta: the first
    * transfer key it wrote in each tenant. */
  final case class Delta(k: Int, firstKey: Map[String, (String, String)]) {
    val tenants: Vector[String] = firstKey.keys.toVector.sorted
  }

  /** The sync phase: measures for `share` of the run's seconds (a traced
    * run makes TracedPasses passes). */
  def run(spark: SparkSession, a: Args, res: Result, ledger: Ledger, journal: Path,
      wh: Path, edge: HttpEdge, share: Double): Unit = {
    // balance history: per account, (delta index, cents after it)
    val history = mutable.HashMap.empty[(String, String), Vector[(Int, Long)]]
    ledger.balance.foreach { case (k, v) => history(k) = Vector((0, v)) }
    def balanceAt(acct: (String, String), j: Int): Long =
      history.getOrElse(acct, Vector.empty).takeWhile(_._1 <= j).lastOption.map(_._2).getOrElse(0L)
    // every transfer key with the delta that wrote it
    val keyDelta = mutable.HashMap.empty[(String, String), Int]
    ledger.tenants.foreach(t => ledger.tenantTransfers(t).foreach(x => keyDelta(x.key) = 0))

    val latest = new AtomicReference[Delta](null)
    @volatile var synced = 0 // deltas whose sync pass has started
    @volatile var refreshed = 0 // deltas visible through a refreshed edge
    @volatile var stop = false
    @volatile var seenUpTo = 0 // newest delta the reader has seen over HTTP
    val lags = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    // nanoTime at the end of each delta's journal write
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val spans = new Spans
    val col = if (a.trace) Some(new Collector(spark).start()) else None
    col.foreach(_.scope = "reader")

    val reader = new Thread(() => {
      val http = new Http(edge.boundPort)
      var i = 0
      while (!stop) {
        val d = latest.get()
        if (d == null) Thread.sleep(5)
        else {
          val lo = refreshed
          // the tenants the delta touched in turn: the balance report, then
          // a keyset page of transfers from the delta's first transfer on
          val t = d.tenants((i / 2) % d.tenants.size)
          val req =
            if (i % 2 == 1) {
              val (tx, tr) = d.firstKey(t)
              // the cursor sits just before the delta's first key of this tenant
              val after = (s"${tx.dropRight(1)}${(tx.last - 1).toChar}", tr)
              val cursor = s"${after._1},${after._2}"
              Req("transfers_keyset", hot = false, s"/transfers?tenant=$t&limit=20&after=$cursor", None,
                n => ledger.synchronized {
                  val got = rows(n)
                  val hi = synced
                  val ok = (lo to hi).exists { j =>
                    val want = ledger.tenantTransfers(t).iterator
                      .filter(x => Ordering[(String, String)].gt(x.key, after) &&
                        keyDelta.getOrElse(x.key, Int.MaxValue) <= j)
                      .take(20).toVector
                    Routes.checkTransfers(got, want, ledger, resolve = false).isEmpty
                  }
                  if (ok) None else fail(s"keyset page of $t after $cursor matches no synced state $lo..$hi", got.size, "")
                })
            } else
              Req("balances", hot = false, s"/balances?tenant=$t", None,
                n => ledger.synchronized {
                  val got = rows(n).map(x => (str(x, "name"), dec(x, "balance")))
                  val hi = synced
                  val accts = history.keysIterator.filter(_._1 == t).toVector
                  // the whole report must be one synced state: its accounts
                  // are those with a committed transfer by then, at their
                  // balances of then
                  val states = (lo to hi).filter { j =>
                    val want = accts.filter(a => history(a).head._1 <= j).sortBy(_._2)
                    got.map(_._1) == want.map(_._2) &&
                      got.zip(want).forall { case ((_, b), a) => sameMoney(b, balanceAt(a, j)) }
                  }
                  if (states.isEmpty) fail(s"balances of $t match no synced state $lo..$hi", got.size, "")
                  else {
                    // the report is no older than its oldest matching
                    // state: every delta up to it is now visible
                    val now = System.nanoTime()
                    (seenUpTo + 1 to states.min).foreach(j => lags.add((now - written.get(j)) / 1e9))
                    seenUpTo = math.max(seenUpTo, states.min)
                    None
                  }
                })
          reads.add(http.send(req))
          i += 1
        }
      }
    }, "reader")

    val passes = mutable.ArrayBuffer.empty[Double]
    val refreshes = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val deadline = a.deadlineNs(start, share)
    reader.start()
    try {
      var k = 0
      def more = if (a.trace) k < TracedPasses else k < MinPasses || System.nanoTime() < deadline
      while (more) {
        k += 1
        val exp = ledger.synchronized {
          val before = ledger.transfers.map { case (t, m) => t -> m.size }
          val out = ledger.delta(DeltaTransfers, addTenant = k % 4 == 0)
          out._2.foreach(acct => history(acct) = history.getOrElse(acct, Vector.empty) :+ ((k, ledger.balance(acct))))
          val firstKey = ledger.tenants.toSeq.flatMap { t =>
            val fresh = ledger.tenantTransfers(t).iterator.drop(before.getOrElse(t, 0)).toVector
            fresh.foreach(x => keyDelta(x.key) = k)
            fresh.headOption.map(x => t -> x.key)
          }.toMap
          (out._1, firstKey)
        }
        written.put(k, System.nanoTime())
        latest.set(Delta(k, exp._2))
        synced = k
        spark.sparkContext.setLocalProperty(Collector.ScopeKey, s"sync:$k")
        val (stats, pass) = spans.span("sync.pass", req = k)(
          Warehouse.sync(spark, journal.toString, wh.toString))
        spark.sparkContext.setLocalProperty(Collector.ScopeKey, null)
        res.op(checkStats(s"pass $k", stats, exp._1))
        passes += (pass.end - pass.start) / 1e6
        val (_, r) = spans.span("edge.refresh", req = k)(edge.refresh())
        refreshed = k
        refreshes += (r.end - r.start) / 1e6
      }
      // let the reader see the last delta before the closing no-op pass
      val waitUntil = System.nanoTime() + 20L * 1000000000L
      while (seenUpTo < k && System.nanoTime() < waitUntil) Thread.sleep(5)
      stop = true
      reader.join()
      spark.sparkContext.setLocalProperty(Collector.ScopeKey, "sync:noop")
      val (noop, np) = spans.span("sync.noop")(Warehouse.sync(spark, journal.toString, wh.toString))
      spark.sparkContext.setLocalProperty(Collector.ScopeKey, null)
      res.op(checkStats("unchanged-journal pass", noop, Ledger.Expected(0, 0, 0)))
      val noopS = (np.end - np.start) / 1e6

      val rs = reads.asScala.toVector
      rs.foreach(d => res.op(d.error))
      val readMs = rs.map(_.ms)
      val end = rs.map(_.t1).max
      res.metric("work_s", Stats.median(passes.toSeq), "s")
      res.summary("sync_read_p50_ms") = Stats.median(readMs)
      res.summary("sync_read_p95_ms") = Stats.quantile(readMs, 0.95)
      res.summary("sync_reads_per_s") = rs.size / ((end - start) / 1e9)
      res.summary("passes") = passes.size
      res.summary("pass_s") = passes.toSeq
      res.summary("refresh_s") = refreshes.toSeq
      res.summary("fresh_lag_s") = lags.asScala.toSeq
      res.summary("fresh_lag_p50_s") = if (lags.isEmpty) -1.0 else Stats.median(lags.asScala.toSeq)
      res.summary("noop_pass_s") = noopS
      res.summary("reads") = rs.size
      res.summary("journal_files_end") = ledger.files
      res.op(if (seenUpTo == k) None else Some(s"the reader never saw delta $k, only $seenUpTo"))

      col.foreach { c =>
        c.stop()
        res.counters("warehouse.files_total") = Main.countFiles(wh)
        traced(res, c, spans.named("sync.pass"), noopS, refreshes.toSeq, lags.asScala.toSeq)
        Main.writeTrace(a, "sync", spans, c)
      }
    } finally {
      stop = true
      reader.join()
    }
  }

  private def traced(res: Result, c: Collector, passes: Seq[Span], noopS: Double,
      refreshes: Seq[Double], lags: Seq[Double]): Unit = {
    val n = passes.size
    // the writer's SQL executions, by pass and by the step that started them
    val writer = c.execs.asScala.toVector.filter(_.details.contains("graft.warehouse.Warehouse$"))
    final case class PerPass(wallUs: Long, jobs: Vector[Collector.Job], stages: Vector[Collector.Stage],
        journal: Vector[Collector.Stage], append: Vector[Collector.Exec],
        mv: Vector[Collector.Exec], swap: Vector[Collector.Exec])
    val per = passes.zipWithIndex.map { case (span, i) =>
      val scope = s"sync:${i + 1}"
      val stages = c.stagesIn(_ == scope)
      val execs = writer.filter(e => e.start >= span.start && e.end <= span.end)
      val mv = execs.filter(_.details.contains("VersionedRoot"))
      PerPass(span.end - span.start, c.jobsIn(_ == scope), stages, stages.filter(_.journal),
        execs.filter(e => e.details.contains("append$") && !mv.contains(e)), mv,
        execs.filter(_.writesAccountNew))
    }
    def perPass(f: PerPass => Double) = per.map(f).sum / n
    res.metric("journal.read_s_per_pass", perPass(p => Iv.covered(p.journal.map(_.iv)) / 1e6), "s")
    res.metric("journal.files_read_per_pass", perPass(_.journal.map(_.m.inputRecords).sum.toDouble), "count")
    res.metric("warehouse.append_s_per_pass", perPass(p => Iv.self(p.append.map(_.iv), p.journal.map(_.iv)) / 1e6), "s")
    res.metric("warehouse.account_swap_s_per_pass", perPass(p => Iv.covered(p.swap.map(_.iv)) / 1e6), "s")
    res.metric("warehouse.jobs_per_pass", perPass(_.jobs.size.toDouble), "count")
    res.metric("warehouse.shuffle_bytes_per_pass", perPass(_.stages.map(_.m.shuffleWriteBytes).sum.toDouble), "bytes")
    res.metric("warehouse.bytes_written_per_pass", perPass(_.stages.map(_.m.outputBytes).sum.toDouble), "bytes")
    res.metric("warehouse.files_total", res.counters("warehouse.files_total").toDouble, "count")
    res.metric("mv.publish_s_per_pass", perPass(p => Iv.covered(p.mv.map(_.iv)) / 1e6), "s")
    res.metric("sync.noop_pass_s", noopS, "s")
    res.metric("sync.driver_serial_s_per_pass", perPass(p => (p.wallUs - Iv.covered(p.jobs.map(_.iv))) / 1e6), "s")
    res.metric("sync.fresh_lag_p50_s", if (lags.isEmpty) 0.0 else Stats.median(lags), "s")
    res.metric("edge.refresh_s", Stats.median(refreshes), "s")
    res.counters("sync.jobs") = per.map(_.jobs.size.toLong).sum
    res.counters("sync.stages") = per.map(_.stages.size.toLong).sum
    res.counters("sync.tasks") = per.map(_.stages.map(_.tasks.toLong).sum).sum
    res.counters("sync.journal_files_read") = per.map(_.journal.map(_.m.inputRecords).sum).sum
    res.counters("sync.bytes_written") = per.map(_.stages.map(_.m.outputBytes).sum).sum
    res.counters("sync.shuffle_bytes") = per.map(_.stages.map(_.m.shuffleWriteBytes).sum).sum
    res.counters("sync.noop_jobs") = c.jobsIn(_ == "sync:noop").size.toLong
  }
}
