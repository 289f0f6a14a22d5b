package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command line of one benchmark run (see run.py, which builds the
  * classpath and passes these through). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path) {
  def deadlineNs(from: Long, share: Double = 1.0): Long = from + (seconds * share * 1e9).toLong
}

/** Everything a run reports: the result-line metrics plus a summary and
  * the deterministic counters for the counter diff. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val summary = mutable.LinkedHashMap.empty[String, Any]
  val counters = mutable.LinkedHashMap.empty[String, Long]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one checked operation; a failure keeps its first few reasons. */
  def op(error: Option[String]): Unit = synchronized {
    attempted += 1
    error.foreach { e => failed += 1; if (errors.size < 20) errors += e }
  }

  def json: String = Json(mutable.LinkedHashMap[String, Any](
    "correct" -> (failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) },
    "summary" -> summary,
    "counters" -> counters,
    "errors" -> errors))
}

object Main {
  /** The per-layer metric names. A traced run reports all of them; a layer
    * the workload does not call reads 0 (see DESIGN.md). */
  def perLayer(gates: Seq[String]): Seq[(String, String)] = Seq(
    "edge.self_ms" -> "ms", "edge.hot_p50_ms" -> "ms", "edge.cold_p50_ms" -> "ms",
    "edge.refresh_s" -> "s",
    "graphql.parse_ms" -> "ms", "graphql.compile_ms" -> "ms", "graphql.render_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.plans_per_req" -> "count",
    "spark.jobs_per_req" -> "count", "spark.tasks_per_req" -> "count",
    "spark.job_ms_per_req" -> "ms", "spark.cpu_ms_per_req" -> "ms",
    "spark.files_read_per_req" -> "count", "spark.input_bytes_per_req" -> "bytes",
    "spark.driver_serial_ms" -> "ms",
    "journal.read_s_per_pass" -> "s", "journal.files_read_per_pass" -> "count",
    "warehouse.append_s_per_pass" -> "s", "warehouse.account_swap_s_per_pass" -> "s",
    "warehouse.jobs_per_pass" -> "count", "warehouse.shuffle_bytes_per_pass" -> "bytes",
    "warehouse.bytes_written_per_pass" -> "bytes", "warehouse.files_total" -> "count",
    "sync.noop_pass_s" -> "s", "sync.driver_serial_s_per_pass" -> "s",
    "sync.fresh_lag_p50_s" -> "s", "mv.publish_s_per_pass" -> "s") ++
    gates.map(g => s"gate.${g}_s" -> "s") ++
    GateSuite.Groups.flatMap(g => Seq(s"gate.$g.jobs" -> "count", s"gate.$g.stages" -> "count",
      s"gate.$g.shuffle_bytes" -> "bytes", s"gate.$g.gc_ms" -> "ms",
      s"gate.$g.planning_ms" -> "ms", s"gate.$g.driver_serial_s" -> "s")) ++
    Seq("gate.stream.state_commit_ms" -> "ms", "trace.overhead_pct" -> "%")

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def clean(dir: Path): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    Files.createDirectories(dir)
  }

  def countFiles(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).count() finally s.close()
  }

  /** Dump the spans and the raw collected events of a traced run. */
  def writeTrace(a: Args, phase: String, spans: Spans, col: Collector): Unit = {
    import scala.jdk.CollectionConverters._
    Files.writeString(a.work.resolve(s"trace-$phase.json"), Json(mutable.LinkedHashMap(
      "spans" -> spans.all.asScala.toSeq,
      "jobs" -> col.jobs.asScala.toSeq.map(j => j.copy(details = j.details.linesIterator.take(8).mkString("\n"))),
      "stages" -> col.stages.asScala.toSeq,
      "queries" -> col.queries.asScala.toSeq,
      "state_commits" -> col.commits.asScala.toSeq)))
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val res = new Result
    val spark = session(a.work)
    try {
      a.workload match {
        case "serve_sync" => ServeSync.run(spark, a, res)
        case "gate_suite" => GateSuite.run(spark, a, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) {
        // a traced run reports every per-layer metric; layers the workload
        // never calls read 0
        val all = perLayer(GateSuite.Gates.map(_._1))
        val traced = res.metrics.clone()
        res.metrics.clear()
        all.foreach { case (k, u) => res.metric(k, traced.get(k).map(_._1).getOrElse(0.0), u) }
        traced.foreach { case (k, v) => if (!res.metrics.contains(k)) res.summary(k) = v._1 }
      }
      Files.writeString(a.out, res.json)
    } finally spark.stop()
  }
}
