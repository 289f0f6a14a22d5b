package perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** gate_suite: a fixed subset of the `SparkEntry.queries` gates on seeded
  * tables, run one at a time with graft.Bench's full-plan sink. Each gate
  * runs once untimed, writing its rows (it builds its fixtures and warms
  * the JIT), and then in timed rounds until the time is up; every timed run
  * must return as many rows as the first, whose rows run.py checks against
  * the DuckDB oracle. */
object GateSuite {
  /** (gate, group): two gates of each group the ROADMAP rewrites. */
  val Gates: Seq[(String, String)] = Seq(
    "q_audio_index_purge" -> "index",
    "q_semantic_index_update" -> "index",
    "q_stream_custom_state" -> "stream",
    "q_stream_tws" -> "stream",
    "q_tpch_q1" -> "relational",
    "q_balance_mv_incr" -> "relational")
  val Groups: Seq[String] = Seq("index", "stream", "relational")
  /** Timed rounds of an untraced run, at the least: the JIT is still
    * warming during the first, and the median of three leaves it out. */
  val MinRounds = 3

  /** graft.Bench's sink: execute the full physical plan. Returns the row
    * count and the Catalyst time of the sink's own plan (the listener does
    * not see `toRdd`). */
  private def sink(spark: SparkSession, name: String, dir: String): (Long, Long) = {
    val qe = SparkEntry.queries(name)(spark, dir).queryExecution
    val n = qe.toRdd.count()
    (n, qe.tracker.phases.values.map(_.durationMs).sum)
  }

  /** Rows of the parquet files in `dir`, from their footers (no job). */
  private def parquetRows(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val files = Files.list(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum finally files.close()
  }

  /** Collection time of the whole JVM so far: in local mode the tasks run
    * in the driver JVM, and the collector pauses every thread, not only the
    * task that allocated. */
  private def gcMs(): Long = {
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** graft.Bench's between-runs settle: drop cached data, let the context
    * cleaner run, so earlier cleanup does not land in the timed runs. It
    * runs before the set-up and before each round, not before each gate:
    * per gate it would take a third of the measuring time. */
  private def settle(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    Thread.sleep(150)
    System.gc()
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val dir = a.work.resolve("tables").toString
    val out = a.work.resolve("gate_out")
    Main.clean(out)

    // set-up: each gate's first run, which builds its stored fixtures and
    // writes the rows the oracle checks
    val rows = mutable.LinkedHashMap.empty[String, Long]
    settle(spark)
    val setup = Gates.map { case (g, _) =>
      val t0 = System.nanoTime()
      SparkEntry.queries(g)(spark, dir).coalesce(1).write.parquet(out.resolve(g).toString)
      val s = (System.nanoTime() - t0) / 1e9
      rows(g) = parquetRows(spark, out.resolve(g))
      s
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json(Gates.map(_._1)
      .flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _)).toMap))

    val times = mutable.LinkedHashMap(Gates.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
    val sinkPlanMs = mutable.HashMap.empty[String, Long]
    val gateGcMs = mutable.HashMap.empty[String, Long]
    def round(col: Option[Collector], spans: Spans): Unit = spans.parent("gate.round") { id =>
      settle(spark)
      Gates.foreach { case (g, _) =>
        col.foreach(_.enter(s"gate:$g"))
        val gc0 = gcMs()
        val ((n, planMs), s) = spans.span(s"gate:$g", parent = id)(sink(spark, g, dir))
        col.foreach(_.enter(""))
        times(g) += (s.end - s.start) / 1e6
        if (col.isDefined) { sinkPlanMs(g) = planMs; gateGcMs(g) = gcMs() - gc0 }
        res.op(if (n == rows(g)) None else Some(s"$g returned $n rows, its first run ${rows(g)}"))
      }
    }

    val spans = new Spans
    if (!a.trace) {
      val start = System.nanoTime()
      val deadline = a.deadlineNs(start)
      while (times.head._2.size < MinRounds || System.nanoTime() < deadline) round(None, spans)
      val med = Gates.map { case (g, _) => g -> Stats.median(times(g).toSeq) }
      val runs = times.values.map(_.size).sum
      res.metric("setup_s", setup.sum, "s")
      res.metric("work_s", med.map(_._2).sum, "s")
      res.metric("latency_p50_ms", Stats.median(med.map(_._2)) * 1000, "ms")
      res.metric("throughput_per_s", runs / ((System.nanoTime() - start) / 1e9), "1/s")
      res.summary("rounds") = times.head._2.size
      res.summary("round_s") = times.values.map(_.toSeq).transpose.map(_.sum)
      res.summary("gate_median_s") = med.toMap
      res.summary("setup_per_gate_s") = Gates.map(_._1).zip(setup).toMap
    } else {
      // untraced, traced and untraced rounds of the same gates; the
      // overhead compares the traced round with the mean untraced one
      round(None, spans)
      val col = new Collector(spark).start()
      round(Some(col), spans)
      col.stop()
      val traced = Gates.map { case (g, _) => times(g).last }
      round(None, spans)
      val plain = Gates.map { case (g, _) => (times(g)(0) + times(g)(2)) / 2 }.sum
      res.metric("trace.overhead_pct", 100.0 * (traced.sum - plain) / plain, "%")
      Gates.zip(traced).foreach { case ((g, _), s) => res.metric(s"gate.${g}_s", s, "s") }
      Groups.foreach { grp =>
        val in = Gates.filter(_._2 == grp).map(_._1).toSet
        val scopes = (s: String) => s.startsWith("gate:") && in(s.stripPrefix("gate:"))
        val jobs = col.jobsIn(scopes)
        val stages = col.stagesIn(scopes)
        // the traced round's spans: the second of each gate's three
        val wallUs = Gates.filter(_._2 == grp).map(g => spans.named(s"gate:${g._1}")(1))
        val serialUs = wallUs.map(w => w.end - w.start - Iv.covered(jobs.map(_.iv).map(j =>
          Iv(math.max(j.start, w.start), math.min(j.end, w.end))))).sum
        res.metric(s"gate.$grp.jobs", jobs.size, "count")
        res.metric(s"gate.$grp.stages", stages.size, "count")
        res.metric(s"gate.$grp.shuffle_bytes", stages.map(_.m.shuffleWriteBytes).sum.toDouble, "bytes")
        res.metric(s"gate.$grp.gc_ms", in.toSeq.map(gateGcMs).sum.toDouble, "ms")
        res.metric(s"gate.$grp.planning_ms",
          (col.queriesIn(scopes).map(_.catalystMs).sum + in.toSeq.map(sinkPlanMs).sum).toDouble, "ms")
        res.metric(s"gate.$grp.driver_serial_s", serialUs / 1e6, "s")
        res.counters(s"gate.$grp.jobs") = jobs.size.toLong
        res.counters(s"gate.$grp.stages") = stages.size.toLong
        res.counters(s"gate.$grp.tasks") = stages.map(_.tasks.toLong).sum
        res.counters(s"gate.$grp.shuffle_bytes") = stages.map(_.m.shuffleWriteBytes).sum
        res.counters(s"gate.$grp.bytes_written") = stages.map(_.m.outputBytes).sum
      }
      val commits = col.commits.toArray(Array.empty[(String, Long)])
      res.metric("gate.stream.state_commit_ms", commits.map(_._2).sum.toDouble, "ms")
      res.summary("untraced_round_s") = plain
      res.summary("traced_round_s") = traced.sum
      Main.writeTrace(a, "gates", spans, col)
    }
  }
}
