package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.operators.VersionedRoot
import graft.sources.Journal
import graft.streaming.JournalStream
import graft.warehouse.Warehouse
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental-sync behavior: watermark advancement (T3/P8), ownership and
  * status-assert filters (P6/P7), and the Structured Streaming variant (T2).
  */
class SyncSpec extends SparkSpec {

  private def put(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** Fixture with one committed 1 CZK transfer CREDIT←DEBIT (event v1). */
  private def baseFixture(): Path = {
    val root = Files.createTempDirectory("journal")
    put(root, "t_T/account/CREDIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put(root, "t_T/account/DEBIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put(root, "t_T/account/CREDIT/events/0000000000/1_1_TRN", "1\n")
    put(root, "t_T/account/DEBIT/events/0000000000/1_-1_TRN", "1\n")
    put(root, "t_T/transaction/TRN",
      "committed\nTRX T CREDIT T DEBIT 2020-01-01T00:00:00Z 1 CZK\n")
    root
  }

  test("sync advances account watermarks and skips synced events") {
    val root = baseFixture()
    val wh = Files.createTempDirectory("wh").toString
    // A2 discovery counters (reference metrics.feature: tenant=1,
    // account=2, transfer=1 for a scenario-3-shaped journal)
    val stats = Warehouse.sync(spark, root.toString, wh)
    assert(stats == Warehouse.SyncStats(1, 2, 1))

    val marks = spark.read.parquet(s"$wh/account")
      .select("name", "last_syn_snapshot", "last_syn_event")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(marks == Map("CREDIT" -> (0, 1), "DEBIT" -> (0, 1)))
    assert(spark.read.parquet(s"$wh/transfer").count() == 1)

    // second event (v2) lands: only it is ingested on the next pass
    put(root, "t_T/account/CREDIT/events/0000000000/1_1_TRN2", "2\n")
    put(root, "t_T/account/DEBIT/events/0000000000/1_-1_TRN2", "2\n")
    put(root, "t_T/transaction/TRN2",
      "committed\nTRX2 T CREDIT T DEBIT 2020-01-02T00:00:00Z 2 CZK\n")
    Warehouse.sync(spark, root.toString, wh)

    val marks2 = spark.read.parquet(s"$wh/account")
      .select("name", "last_syn_event").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(marks2 == Map("CREDIT" -> 2, "DEBIT" -> 2))
    val transfers = spark.read.parquet(s"$wh/transfer")
      .select("transfer").orderBy("transfer").collect().map(_.getString(0)).toSeq
    assert(transfers == Seq("TRX", "TRX2"))

    // third pass on an unchanged journal is a no-op, counters all zero
    assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(0, 0, 0))
    assert(spark.read.parquet(s"$wh/transfer").count() == 2)
  }

  test("sync ingests a rotated snapshot's events despite restarted versions") {
    val root = baseFixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, root.toString, wh) // watermark now (0, 1)

    // snapshot rotates to 1; event versions RESTART at 1 (ref
    // PrimaryDataExplorationService.scala:157-158) — version 1 is <= the
    // stored last_syn_event, so a watermark that compares versions across
    // snapshots would silently drop this event and lose TRX3
    put(root, "t_T/account/CREDIT/events/0000000001/1_1_TRN3", "1\n")
    put(root, "t_T/account/DEBIT/events/0000000001/1_-1_TRN3", "1\n")
    put(root, "t_T/transaction/TRN3",
      "committed\nTRX3 T CREDIT T DEBIT 2020-02-01T00:00:00Z 5 CZK\n")
    val stats = Warehouse.sync(spark, root.toString, wh)
    assert(stats.newTransfers == 1)

    val marks = spark.read.parquet(s"$wh/account")
      .select("name", "last_syn_snapshot", "last_syn_event")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(marks == Map("CREDIT" -> (1, 1), "DEBIT" -> (1, 1)))
    assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(0, 0, 0))
  }

  test("sync ignores transfers whose transaction no event announced") {
    val root = baseFixture()
    // orphan transaction file: no event references it -> not ingested
    put(root, "t_T/transaction/ORPHAN",
      "committed\nTRX9 T CREDIT T DEBIT 2020-01-03T00:00:00Z 9 CZK\n")
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, root.toString, wh)
    assert(spark.read.parquet(s"$wh/transfer").count() == 1)
  }

  test("sync raises on event/transfer status mismatch (P7)") {
    val root = baseFixture()
    // event announces status 2 (rollbacked) but the transaction says committed
    put(root, "t_T/account/CREDIT/events/0000000000/2_1_TRNBAD", "2\n")
    put(root, "t_T/transaction/TRNBAD",
      "committed\nTRXB T CREDIT T DEBIT 2020-01-04T00:00:00Z 3 CZK\n")
    val wh = Files.createTempDirectory("wh").toString
    val e = intercept[IllegalStateException] {
      Warehouse.sync(spark, root.toString, wh)
    }
    assert(e.getMessage.contains("status"))
  }

  test("streaming sync ingests files appended mid-run (T2)") {
    val root = baseFixture()
    val wh = Files.createTempDirectory("whs").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val q = JournalStream.start(spark, root.toString, wh, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$wh/transfer").count() == 1)
      // a new transaction file appears while the query runs
      put(root, "t_T/transaction/TRN2",
        "committed\nTRX2 T CREDIT T DEBIT 2020-01-02T00:00:00Z 2 CZK\n")
      q.processAllAvailable()
      val transfers = spark.read.parquet(s"$wh/transfer")
        .select("transfer").orderBy("transfer").collect().map(_.getString(0)).toSeq
      assert(transfers == Seq("TRX", "TRX2"))
    } finally q.stop()
  }
  test("hybrid sync: manifest history + live tail equals full-tree sync") {
    // full journal: base + one extra account/event/transaction (the tail)
    val full = baseFixture()
    put(full, "t_T/account/LATE/snapshot/0000000000", "EUR FORMAT_T\n")
    put(full, "t_T/account/LATE/events/0000000000/1_1_TRN9", "1\n")
    put(full, "t_T/transaction/TRN9",
      "committed\nTRX9 T LATE T DEBIT 2021-01-01T00:00:00Z 2 CZK\n")

    // reference result: one sync over the whole tree
    val whFull = Files.createTempDirectory("whfull").toString
    Warehouse.sync(spark, full.toString, whFull)

    // hybrid: compact the BASE history, keep only the tail as live files
    // (plus one overlapping file present in both, to prove the dedupe)
    val m = Files.createTempDirectory("manifest").toString
    val base = baseFixture()
    graft.sources.Journal.compact(spark, base.toString, m)
    val tail = Files.createTempDirectory("tail")
    put(tail, "t_T/account/LATE/snapshot/0000000000", "EUR FORMAT_T\n")
    put(tail, "t_T/account/LATE/events/0000000000/1_1_TRN9", "1\n")
    put(tail, "t_T/transaction/TRN9",
      "committed\nTRX9 T LATE T DEBIT 2021-01-01T00:00:00Z 2 CZK\n")
    put(tail, "t_T/transaction/TRN",
      "committed\nTRX T CREDIT T DEBIT 2020-01-01T00:00:00Z 1 CZK\n") // overlap
    val whHybrid = Files.createTempDirectory("whhybrid").toString
    val stats = Warehouse.sync(spark, tail.toString, whHybrid,
      manifestDir = Some(m))
    assert(stats == Warehouse.SyncStats(1, 3, 2))

    def dump(wh: String, t: String): Set[String] =
      spark.read.parquet(s"$wh/$t").collect().map(_.toString).toSet
    for (t <- Seq("tenant", "account", "transfer"))
      assert(dump(whHybrid, t) == dump(whFull, t), s"table $t diverged")

    // idempotent hybrid re-sync discovers nothing
    assert(Warehouse.sync(spark, tail.toString, whHybrid, manifestDir = Some(m))
      == Warehouse.SyncStats(0, 0, 0))
  }

  /** The stage infos and job stage names of everything `f` ran, collected
    * by a listener; a sentinel job after `f` marks the end (the bus
    * delivers in order). */
  private def traced[A](f: => A): (A, Seq[SparkListenerStageCompleted], Seq[String]) = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerStageCompleted]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stages.add(sc): Unit
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          done.countDown()
        else js.stageInfos.foreach(si => jobs.add(si.name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      spark.sparkContext.setJobDescription("sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS), "sentinel never arrived")
      (out, stages.asScala.toVector, jobs.asScala.toVector)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Files read by the stages that read transaction files (one record
    * per file). */
  private def transactionFilesRead(stages: Seq[SparkListenerStageCompleted]): Long = {
    val tx = stages.filter(_.stageInfo.rddInfos.exists(_.name.contains("/transaction/")))
    assert(tx.nonEmpty, "no stage read transaction files")
    tx.map(_.stageInfo.taskMetrics.inputMetrics.recordsRead).sum
  }

  private def addTransfer(root: Path, tx: String, v: Int, amount: Int): Unit = {
    put(root, s"t_T/account/CREDIT/events/0000000000/1_1_$tx", s"$v\n")
    put(root, s"t_T/account/DEBIT/events/0000000000/1_-1_$tx", s"$v\n")
    put(root, s"t_T/transaction/$tx",
      s"committed\nX$tx T CREDIT T DEBIT 2020-01-01T00:00:00Z $amount CZK\n")
  }

  test("an incremental pass reads only its announced transaction file and infers no schema") {
    val root = baseFixture()
    (2 to 30).foreach(v => addTransfer(root, s"TRN$v", v, v))
    val wh = Files.createTempDirectory("wh").toString
    assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(1, 2, 30))
    // the declared schemas are the ones a pass writes
    for (t <- Seq("tenant", "account", "transfer"))
      assert(spark.read.parquet(s"$wh/$t").schema == Warehouse.tableSchemas(t), t)

    addTransfer(root, "TRN31", 31, 31)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (stats, stages, jobs) = traced(Warehouse.sync(spark, root.toString, wh))
    assert(stats == Warehouse.SyncStats(0, 0, 1))
    // the pass releases what it cached and checkpointed
    val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(left.isEmpty, s"persisted RDDs left by the pass: $left")
    val filesRead = transactionFilesRead(stages)
    assert(filesRead == 1, s"read $filesRead transaction files, want only TRN31 once")
    val schemaJobs = jobs.filter(_.startsWith("parquet at"))
    assert(schemaJobs.isEmpty, s"schema-inference jobs ran: $schemaJobs")
    assert(spark.read.parquet(s"$wh/transfer").count() == 31)
  }

  test("transaction ids with glob and separator characters sync like plain ids") {
    val odd = Seq("a[1]", "b{x}", "c,d", "e*")
    val plain = Seq("A1", "BX", "CD", "ES")
    def run(ids: Seq[String]): (Seq[Warehouse.SyncStats], Set[String]) = {
      val root = baseFixture()
      val wh = Files.createTempDirectory("wh").toString
      val first = Warehouse.sync(spark, root.toString, wh)
      // the ids arrive in an incremental pass, beside decoys: files a glob
      // or a comma split of the odd ids would match, announced by no event
      ids.zipWithIndex.foreach { case (id, i) => addTransfer(root, id, i + 2, i + 2) }
      Seq("a1", "bx", "c", "d", "eX").foreach(id => put(root, s"t_T/transaction/$id",
        "committed\nDECOY T CREDIT T DEBIT 2020-01-01T00:00:00Z 99 CZK\n"))
      val (second, stages, _) = traced(Warehouse.sync(spark, root.toString, wh))
      assert(transactionFilesRead(stages) == ids.size, s"$ids matched other files")
      val third = Warehouse.sync(spark, root.toString, wh)
      val rename = ids.zip(plain).toMap
      val rows = spark.read.parquet(s"$wh/transfer").collect().map { r =>
        val tx = r.getAs[String]("transaction")
        val p = rename.getOrElse(tx, tx)
        val xfer = r.getAs[String]("transfer")
        Seq(p, if (xfer == s"X$tx") s"X$p" else xfer, r.getAs[Any]("status"),
          r.getAs[Any]("amount")).mkString("|")
      }.toSet
      (Seq(first, second, third), rows)
    }
    val (oddStats, oddRows) = run(odd)
    val (plainStats, plainRows) = run(plain)
    assert(oddStats == plainStats)
    assert(oddStats(1) == Warehouse.SyncStats(0, 0, 4))
    assert(oddRows == plainRows)
    assert(!oddRows.exists(_.contains("DECOY")))
  }

  test("an announced transaction whose file is missing contributes nothing") {
    val root = baseFixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, root.toString, wh)
    addTransfer(root, "TRN2", 2, 2)
    put(root, "t_T/account/CREDIT/events/0000000000/1_1_GONE", "3\n")
    put(root, "t_T/account/DEBIT/events/0000000000/1_-1_GONE", "3\n")
    assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(0, 0, 1))
    // only the events of missing files: the pass reads nothing, still advances
    put(root, "t_T/account/CREDIT/events/0000000000/1_1_GONE2", "4\n")
    assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(0, 0, 0))
    val marks = spark.read.parquet(s"$wh/account").select("name", "last_syn_event")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(marks == Map("CREDIT" -> 4, "DEBIT" -> 3))
    assert(spark.read.parquet(s"$wh/transfer").count() == 2)
  }

  /** The CURRENT balance MV and balancePreAgg over the transfer table. */
  private def mvAndTruth(wh: String): (Set[String], Set[String]) = {
    def rows(df: DataFrame) = df.select("tenant", "name", "balance").collect().map(_.toString).toSet
    val (st, root) = Warehouse.balancesRoot(wh)
    (rows(spark.read.parquet(VersionedRoot.resolveAt(st, root))),
      rows(Warehouse.balancePreAgg(spark.read.parquet(s"$wh/transfer"))))
  }

  test("a pass after one stopped before its MV publish republishes the balance MV") {
    for (advanced <- Seq(false, true)) {
      val root = baseFixture()
      val wh = Files.createTempDirectory("wh").toString
      Warehouse.sync(spark, root.toString, wh)
      addTransfer(root, "TRN2", 2, 5)
      // the crashed pass: its new transfer rows appended ...
      Warehouse.newRows(Journal.transfers(spark, root.toString),
        spark.read.parquet(s"$wh/transfer"), Seq("tenant", "transaction", "transfer"))
        .write.mode("append").parquet(s"$wh/transfer")
      if (advanced) {
        // ... and the account swap done, watermarks past the delta
        spark.read.parquet(s"$wh/account").withColumn("last_syn_event", lit(2))
          .write.parquet(s"$wh/account_new")
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$wh/account"), true)
        fs.rename(new org.apache.hadoop.fs.Path(s"$wh/account_new"),
          new org.apache.hadoop.fs.Path(s"$wh/account"))
      }
      val (stale, truth) = mvAndTruth(wh)
      assert(stale != truth, "the crashed state must leave the MV behind")
      assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(0, 0, 0))
      val (mv, now) = mvAndTruth(wh)
      assert(mv == now, s"watermarks advanced=$advanced: MV stale after the rerun")
      assert(now == truth)
    }
  }

  /** A seeded multi-pass journal: pass k appends events and transaction
    * files with snapshot rotations (versions restart), committed,
    * rollbacked and pending transactions, multi-line transactions with a
    * non-party line (P6), transactions announced by one party now and the
    * other a pass later, announced transactions whose file is missing, and
    * (pass 3) a new tenant. After every pass: its SyncStats and a digest of
    * each table's rows and of the CURRENT balance MV. */
  private def seededPasses(seed: Long, passes: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val root = Files.createTempDirectory("seeded")
    val wh = Files.createTempDirectory("wh").toString
    val pos = scala.collection.mutable.LinkedHashMap.empty[(String, String), (Int, Int)]
    def open(t: String, n: Int): Unit = (0 until n).foreach { i =>
      val a = s"$t$i"
      put(root, s"t_$t/account/$a/snapshot/0000000000", s"${if (i % 2 == 0) "CZK" else "EUR"} FORMAT_T\n")
      pos((t, a)) = (0, 0)
    }
    def event(t: String, a: String, status: Int, dir: Int, tx: String): Unit = {
      val (snap, v) = pos((t, a))
      pos((t, a)) = (snap, v + 1)
      put(root, s"t_$t/account/$a/events/${Journal.versionSegment(snap)}/${status}_${dir}_$tx", s"${v + 1}\n")
    }
    val deferred = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def digest(table: DataFrame): String = {
      val rows = table.select(table.columns.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.mkString("|")).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      s"${rows.length}:" + md.digest(rows.mkString("\n").getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    }
    open("A", 5); open("B", 4)
    (1 to passes).map { k =>
      if (k == 3) open("C", 3)
      val pending = deferred.toList
      deferred.clear()
      pending.foreach(_())
      if (k > 1) pos.keys.toSeq.foreach { acct =>
        if (rng.nextDouble() < 0.2) pos(acct) = (pos(acct)._1 + 1, 0)
      }
      (0 until 12).foreach { i =>
        val tx = s"x$k-$i"
        val t = pos.keys.map(_._1).toSeq.distinct.sorted.apply(rng.nextInt(if (k >= 3) 3 else 2))
        val accts = pos.keys.filter(_._1 == t).map(_._2).toSeq
        val Seq(cr, db, other) = rng.shuffle(accts).take(3)
        val status = Seq(1, 1, 1, 2, 0)(rng.nextInt(5))
        val word = Seq("promised", "committed", "rollbacked")(status)
        val amount = s"${rng.nextInt(10000) / 100.0}"
        val date = s"2020-0${1 + k % 9}-1${i % 10}T00:00:00Z"
        val lines = Seq(s"y$k-$i $t $cr $t $db $date $amount CZK") ++
          (if (rng.nextDouble() < 0.2) Seq(s"z$k-$i $t $other $t $cr $date 1 CZK") else Nil) ++
          (if (rng.nextDouble() < 0.2) Seq(s"w$k-$i $t $other $t $other $date 2 CZK") else Nil)
        if (rng.nextDouble() >= 0.1) put(root, s"t_$t/transaction/$tx", (word +: lines).mkString("", "\n", "\n"))
        event(t, cr, status, 1, tx)
        if (rng.nextDouble() < 0.15) deferred += (() => event(t, db, status, -1, tx))
        else event(t, db, status, -1, tx)
      }
      val stats = Warehouse.sync(spark, root.toString, wh)
      val (st, mvRoot) = Warehouse.balancesRoot(wh)
      val tables = Seq("tenant", "account", "transfer").map(n => digest(spark.read.parquet(s"$wh/$n")))
      (s"pass $k: $stats" +: tables :+ digest(spark.read.parquet(VersionedRoot.resolveAt(st, mvRoot))))
        .mkString(" ")
    }
  }

  test("a seeded multi-pass journal syncs to the recorded rows and counts") {
    // recorded from the glob-reading sync (every transaction file read per
    // pass) this reader replaced
    val recorded = Seq(
      "pass 1: SyncStats(2,9,9) 2:23519a43c66b 9:a85e67cbe690 9:28a1eb0ef1aa 8:4ba18c4c3016",
      "pass 2: SyncStats(0,0,15) 2:23519a43c66b 9:74f88f170ee5 24:69fae3a6ce28 9:209298185160",
      "pass 3: SyncStats(1,3,13) 3:2e70d7238a20 12:90cddf2e2495 37:44a06bf818f0 9:e4945ddeed97",
      "pass 4: SyncStats(0,0,8) 3:2e70d7238a20 12:b40bf7b11915 45:f0cee82efe4f 9:6cdeb7908a15",
      "pass 5: SyncStats(0,0,10) 3:2e70d7238a20 12:706c18cacadd 55:12a7a172b9f2 12:4b9e504d1912")
    val got = seededPasses(seed = 7L, passes = 5)
    assert(got == recorded, got.mkString("\n", "\n", ""))
  }

  test("balance MV root dispatches backend by scheme; copy-rename stores fail fast") {
    // r19: an hdfs:// warehouseDir routes the SAME commit protocol
    // through the Hadoop backend (atomic rename on the NameNode) and the
    // root stays on that filesystem — never a bogus local path. Object
    // stores whose rename is copy+delete still error with adapter
    // guidance rather than committing on a non-atomic primitive.
    val (hdfsStore, hdfsRoot) = Warehouse.balancesRoot("hdfs://nn:8020/wh")
    assert(hdfsRoot == "hdfs://nn:8020/wh/balances")
    assert(hdfsStore.isInstanceOf[graft.operators.VStore.Hadoop])
    intercept[IllegalArgumentException] {
      Warehouse.balancesRoot("s3a://bucket/wh")
    }
    val (localStore, localRoot) = Warehouse.balancesRoot("/tmp/wh")
    assert(localRoot == "/tmp/wh/balances"
      && localStore == graft.operators.VStore.Local)
    val (fileStore, fileRoot) = Warehouse.balancesRoot("file:/tmp/wh")
    assert(fileRoot == "/tmp/wh/balances"
      && fileStore == graft.operators.VStore.Local)
  }
}
