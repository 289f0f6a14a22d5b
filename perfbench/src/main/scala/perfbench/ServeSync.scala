package perfbench

import java.nio.file.Path

import graft.api.HttpEdge
import graft.warehouse.Warehouse
import org.apache.spark.sql.SparkSession

/** serve_sync: a warehouse synced from a seeded journal, served over HTTP
  * (the serve phase, ServeMix) and then kept live by incremental sync
  * passes under a concurrent reader (the sync phase, SyncLive). Both phases
  * share one set-up: the initial sync and the edge start, done SetupReps
  * times into fresh warehouses; setup_s is their median. */
object ServeSync {
  val Tenants = 4
  val Accounts = 150
  val Transfers = 1200
  val SetupReps = 3

  /** Sync `journal` into a fresh warehouse and start an edge on it. */
  def setUp(spark: SparkSession, journal: Path, wh: Path, want: Ledger.Expected,
      res: Result): (HttpEdge, Double) = {
    val t0 = System.nanoTime()
    val stats = Warehouse.sync(spark, journal.toString, wh.toString)
    val edge = new HttpEdge(spark, wh.toString, port = 0).start()
    val s = (System.nanoTime() - t0) / 1e9
    res.op(SyncLive.checkStats("initial sync", stats, want))
    (edge, s)
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val dir = a.work.resolve("serve_sync")
    Main.clean(dir)
    val journal = dir.resolve("journal")
    val ledger = new Ledger(a.seed, journal)
    val want = ledger.base(Tenants, Accounts, Transfers)
    val setups = (1 to SetupReps).map { i =>
      val (e, s) = setUp(spark, journal, dir.resolve(s"wh$i"), want, res)
      if (i < SetupReps) e.stop()
      (e, s)
    }
    val edge = setups.last._1
    val wh = dir.resolve(s"wh$SetupReps")
    res.summary("journal_files") = ledger.files
    res.summary("setup_reps_s") = setups.map(_._2)
    if (!a.trace) res.metric("setup_s", Stats.median(setups.map(_._2)), "s")
    try {
      ServeMix.run(spark, a, res, ledger, edge, wh, share = 0.5)
      SyncLive.run(spark, a, res, ledger, journal, wh, edge, share = 0.5)
    } finally edge.stop()
  }
}
