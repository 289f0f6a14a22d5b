package graft.warehouse

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The warehouse core: idempotent merge primitives and the derived
  * balance-change table.
  *
  * The reference mirrors journal discoveries into Postgres with
  * `INSERT .. ON CONFLICT` upserts (SecondaryPersistence.scala:30-127).
  * On Parquet the same effectively-once semantics come from key-based
  * set operations:
  *   - insert-only keys (tenant, transfer): `left_anti` of discovered vs
  *     existing, then append (S7/S9, J3/E1);
  *   - keep-latest upsert (account with watermark columns): union + window
  *     `row_number()` rewrite (S8, §2e).
  * Both are shuffle-on-key operations that scale horizontally; neither
  * touches the driver.
  */
object Warehouse {

  /** Per-pass discovery counters — the reference's statsd
    * `discovery.tenant/account/transfer` metrics (A2,
    * PrimaryDataExplorationService.scala:58, 92, 247;
    * metrics/StatsDClient.scala:25-26). Collected via `Dataset.observe`, so
    * the counts ride the merge writes instead of costing extra passes.
    */
  final case class SyncStats(newTenants: Long, newAccounts: Long, newTransfers: Long)

  /** The balance-MV root plus the [[graft.operators.VStore]] backend its
    * scheme selects (r19 — the r18 local-only fail-fast retired): ONE
    * dispatcher, [[graft.operators.VStore.forRoot]] — schemeless/file:
    * take the java.nio fast path (normalized, so `file:/wh` and `/wh`
    * publish to the same place), allowlisted atomic-rename schemes
    * (hdfs://, …) commit the SAME protocol through the Hadoop backend,
    * and copy-rename object stores fail fast with adapter guidance
    * (route the MV through spark.graft.balance.mvPath + the
    * deployment's table-format commit there). */
  private[graft] def balancesRoot(warehouseDir: String)
      : (graft.operators.VStore, String) = {
    val (st, root) = graft.operators.VStore.forRoot(warehouseDir)
    (st, st.child(root, "balances"))
  }

  /** `INSERT … ON CONFLICT DO NOTHING` ≡ rows of `discovered` whose key is
    * absent from `existing` (left_anti), appended by the caller.
    * Ref: SecondaryPersistence.scala:30-58, 96-127.
    */
  def newRows(discovered: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    discovered
      .dropDuplicates(keys)
      .join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** `INSERT … ON CONFLICT DO UPDATE` ≡ keep the newest version of each key
    * across existing ∪ incoming. Incoming rows beat existing rows on a key
    * clash; `version` columns (descending) break ties among multiple
    * incoming rows for the same key, so the survivor is deterministic —
    * a bare precedence window would pick an arbitrary row when one batch
    * carries two updates for one key.
    * Ref: SecondaryPersistence.scala:60-94 (account upsert).
    */
  def upsert(incoming: DataFrame, existing: DataFrame, keys: Seq[String],
             version: Seq[String] = Seq.empty): DataFrame = {
    val inc = incoming.withColumn("__prec", lit(1))
    val ex  = existing.withColumn("__prec", lit(0))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__prec").desc +: version.map(col(_).desc): _*)
    ex.unionByName(inc)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prec", "__rn")
  }

  /** Derived `account_balance_change`: each committed transfer contributes
    * +amount to its credit account and −amount to its debit account — a
    * 2-way unpivot via `stack` (stays inside whole-stage codegen; no
    * self-union double-scan).
    *
    * Semantics inferred from the reference's black-box test
    * (bbtest/features/graphql_api.feature:95-142): one committed 1 CZK
    * transfer ⇒ credit balance +1, debit −1; `account_balance_change` itself
    * is only ever read (GraphQLPersistence.scala:68-85, :370-403).
    */
  def balanceChanges(transfers: DataFrame): DataFrame =
    transfers
      .filter(col("status") === 1)
      .select(
        expr("stack(2, credit_tenant, credit_name, amount, debit_tenant, debit_name, -amount)")
          .as(Seq("tenant", "name", "amount")),
        col("value_date"))

  /** balance(tenant, name) = SUM(amount) over balance changes, 0 when the
    * account has none. Ref: GraphQLPersistence.scala:370-403 (A1).
    * Partial+final hash aggregate; grouped form so one pass serves every
    * account (the reference recomputes per account per query).
    */
  def balances(balanceChanges: DataFrame): DataFrame =
    balanceChanges
      .groupBy(col("tenant"), col("name"))
      .agg(sum(col("amount")).cast(DecimalType(38, 18)).as("balance"))

  /** The (tenant, name) → SUM(amount) pre-aggregate at the Sum's OWN
    * type — the stored artifact [[graft.plans.BalanceMvRewrite]]
    * substitutes for the lake-wide aggregate (the rule's type check
    * requires the stored column to carry exactly the Sum's result type;
    * wrapper casts in queries re-apply above the substitution). ONE
    * spelling shared by the sync-path maintenance, the MV gates, and the
    * incremental-merge gate.
    */
  def balancePreAgg(transfers: DataFrame): DataFrame =
    balanceChanges(transfers)
      .groupBy(col("tenant"), col("name"))
      .agg(sum(col("amount")).as("balance"))

  /** Point-lookup balance for ONE account. The generic path (`balances ∘
    * balanceChanges` then filter) leaves the (tenant, name) predicate
    * ABOVE the `stack` unpivot — Catalyst cannot infer the credit/debit
    * disjunction through the generator, so a single account's balance
    * scans every transfer row. Spelling the disjunction out pushes it into
    * the parquet scan (row-group skipping on credit_/debit_name stats):
    * the aggregate then reads only the account's own transfers.
    */
  def balanceOf(transfers: DataFrame, tenant: String, name: String): DataFrame =
    balances(balanceChanges(
      transfers.filter(
        (col("credit_tenant") === lit(tenant) && col("credit_name") === lit(name)) ||
          (col("debit_tenant") === lit(tenant) && col("debit_name") === lit(name))))
      .filter(col("tenant") === lit(tenant) && col("name") === lit(name)))

  /** Balances restricted to the accounts of `keys` (any frame carrying
    * tenant, name — typically a paginated account page). The semi join
    * sits BELOW the aggregate, so a bounded page aggregates only its own
    * accounts' balance changes instead of every account ever seen; AQE
    * broadcasts the page side when it is small. (The per-name scan
    * disjunction of [[balanceOf]] doesn't generalize to N names — parquet
    * pushdown can't express it through the unpivot — so scoping the
    * aggregate is the page-shaped equivalent.)
    */
  def balancesFor(transfers: DataFrame, keys: DataFrame): DataFrame =
    balances(balanceChanges(transfers)
      .join(keys.select(col("tenant"), col("name")).distinct(),
        Seq("tenant", "name"), "left_semi"))

  /** The schemas of the tables [[sync]] writes, as Spark reads them back
    * (every column nullable). Readers pass them to `spark.read.schema`, so
    * opening a table lists its files and runs no schema-inference job.
    * SyncSpec pins them to what a sync pass actually writes.
    */
  val tableSchemas: Map[String, StructType] = {
    def cols(names: String*)(t: DataType) = names.map(StructField(_, t))
    Map(
      "tenant" -> StructType(cols("name")(StringType)),
      "account" -> StructType(cols("tenant", "name", "currency", "format")(StringType) ++
        cols("last_syn_snapshot", "last_syn_event")(IntegerType)),
      "transfer" -> StructType(cols("tenant", "transaction", "transfer")(StringType) ++
        cols("status")(IntegerType) ++
        cols("credit_tenant", "credit_name", "debit_tenant", "debit_name")(StringType) ++
        cols("amount")(DecimalType(38, 18)) ++ cols("currency")(StringType) ++
        cols("value_date")(TimestampType)))
  }

  /** The file in each balance-MV version naming the transfer-table files
    * it was computed from. */
  private val MvSourcesFile = "_transfer_files"

  /** One incremental ETL pass: journal → warehouse tables, idempotently
    * merged into `warehouseDir` (parquet dirs tenant/account/transfer).
    * Re-running on an unchanged journal is a no-op (T6 effectively-once).
    *
    * Mirrors the reference exploration loop
    * (PrimaryDataExplorationService.scala:116-264) Spark-first:
    *   1. tenants + newly-discovered accounts insert-only (S7/S8-insert);
    *   2. events past each account's watermark (P8: snapshot_version ≥
    *      last_syn_snapshot, version > last_syn_event);
    *   3. the transactions those events announce, read BY NAME
    *      (`t_<tenant>/transaction/<transaction>`, each file once; no other
    *      transaction file is listed or read), their transfers kept only
    *      where the event's account is the credit or debit party (P6, ref
    *      :215-218), with the transfer-status-vs-event-status assertion
    *      (P7, :219-226) evaluated in the same read; skipped when no event
    *      announces anything (a first pass then writes the empty table);
    *   4. new transfers appended (anti-join on key, J3/E1);
    *   5. account watermarks advanced via keep-latest upsert (T3, :260-264)
    *      with the (last_syn_snapshot, last_syn_event) version tie-break;
    *   6. the balance MV republished when its CURRENT version does not
    *      cover the transfer table's files (this pass appended, or a
    *      previous one stopped between steps 4 and 6).
    *
    * Event and snapshot reads stay O(journal): an event's version lives in
    * the file's contents, so finding the events past a watermark reads
    * every event file. Warehouse tables are opened with
    * [[tableSchemas]], so no pass runs a schema-inference job.
    *
    * Step 3's cost follows the announced transactions, which on the
    * initial pass are all of them: the pairs are collected to the driver,
    * each named file is looked up by one status call on the driver (on
    * s3a/hdfs, one metadata request per file), and every path travels in
    * the read's Hadoop job configuration. An incremental pass pays this
    * for its delta only.
    *
    * At 100 TB the tables would be `partitionBy("tenant")` so tenant-scoped
    * queries prune partitions, and the account-table rewrite in step 5 would
    * be a Delta/Iceberg MERGE instead of the write-new-then-swap used on
    * plain parquet here (the swap keeps the overwrite safe while the plan
    * still reads the old files).
    */
  def sync(spark: SparkSession, journalRoot: String, warehouseDir: String,
           metrics: graft.metrics.MetricsEmitter = graft.metrics.MetricsEmitter.Disabled,
           manifestDir: Option[String] = None): SyncStats = {
    import graft.operators.VersionedRoot
    import graft.sources.Journal
    import org.apache.spark.sql.Observation

    // Hybrid source (the at-scale operating mode): compacted history from
    // the parquet manifest (Journal.compact) plus the live tiny-file tail
    // under journalRoot, deduplicated per FILE (Journal.*Hybrid) — a file
    // that is both compacted and still on disk contributes once, so
    // compaction and deletion of the originals need not be atomic, while
    // duplicate records inside one file survive exactly as in a full read.
    def entity(live: => DataFrame, hybrid: String => DataFrame): DataFrame =
      manifestDir match {
        case Some(m) => hybrid(m)
        case None => live
      }

    val hconf = spark.sparkContext.hadoopConfiguration
    def tablePath(name: String) = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")

    // recover from a crash inside a previous pass's account-table swap:
    // if only the retired copy survives, promote it back
    locally {
      val fs = tablePath("account").getFileSystem(hconf)
      if (!fs.exists(tablePath("account")) && fs.exists(tablePath("account_old")))
        fs.rename(tablePath("account_old"), tablePath("account"))
      fs.delete(tablePath("account_old"), true)
      fs.delete(tablePath("account_new"), true)
      // the balance MV needs no recovery block: it lives in a
      // VersionedRoot (immutable version dirs + atomic pointer), where a
      // crashed publish leaves an orphan claim the next publish skips
    }

    // a warehouse table with its known schema (no inference job), or an
    // empty one before its first write
    def table(name: String): DataFrame = {
      val p = tablePath(name)
      if (p.getFileSystem(hconf).exists(p)) spark.read.schema(tableSchemas(name)).parquet(p.toString)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), tableSchemas(name))
    }

    // the transfer table's data files, one name per line: what the balance
    // MV must cover (a file listing, no Spark job)
    def transferFiles(): String = {
      val p = tablePath("transfer")
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) ""
      else fs.listStatus(p).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.mkString("\n")
    }

    // A2 discovery counters: observe the merge write itself (no extra pass)
    def append(df: DataFrame, name: String): Long = {
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("n")).write.mode("append").parquet(s"$warehouseDir/$name")
      obs.get("n").asInstanceOf[Long]
    }

    val tenants = entity(Journal.tenants(spark, journalRoot),
      Journal.tenantsHybrid(spark, journalRoot, _))
    val accounts = entity(Journal.accounts(spark, journalRoot),
      Journal.accountsHybrid(spark, journalRoot, _))

    val nTenants = append(newRows(tenants, table("tenant"), Seq("name")), "tenant")
    val nAccounts = append(newRows(accounts, table("account"), Seq("tenant", "name")), "account")

    val accountTable = table("account")

    // P8: watermark filter — events already mirrored are skipped. Event
    // versions restart per snapshot (ref :157-158), so the version guard
    // applies ONLY within the watermark snapshot; any newer snapshot's
    // events are all unseen regardless of their (restarted) version
    // (ref PrimaryDataExplorationService.scala:171-175).
    val events = entity(Journal.events(spark, journalRoot),
      Journal.eventsHybrid(spark, journalRoot, _))
      .join(accountTable.select(col("tenant"), col("name").as("account"),
        col("last_syn_snapshot"), col("last_syn_event")), Seq("tenant", "account"))
      .filter(col("snapshot_version") > col("last_syn_snapshot") ||
        (col("snapshot_version") === col("last_syn_snapshot") &&
          col("version") > col("last_syn_event")))
      .cache()

    // Non-pending events announce their transactions; only those files are
    // read, each once, however many accounts announce it. The same job
    // tells whether the pass found any new event (step 5's condition).
    val announces = coalesce(col("status") =!= 0, lit(false))
    val announced = events.filter(announces)
      .select(col("tenant"), col("account"), col("transaction"),
        col("status").as("event_status"))
    val newEvents = events.select(col("tenant"), col("transaction"), announces).distinct().collect()
    val txs = newEvents.filter(_.getBoolean(2)).map(r => (r.getString(0), r.getString(1))).toSeq
    val nTransfers =
      if (txs.isEmpty) {
        // nothing to read; the first pass still creates the (empty) table,
        // so every pass leaves all three tables for readers to open
        if (!tablePath("transfer").getFileSystem(hconf).exists(tablePath("transfer")))
          table("transfer").write.parquet(s"$warehouseDir/transfer")
        0L
      } else {
        // P6: the announcing account must be one side of the transfer. P7:
        // a transfer whose parsed status disagrees with its announcing
        // event's status is journal corruption — fail the pass (ref
        // :219-226). The check is observed on the one read of the files,
        // which the append then reuses from the local checkpoint (not a
        // cache: the append's stages then carry no journal-read lineage).
        val p7 = Observation()
        val txTransfers = entity(Journal.transfersOf(spark, journalRoot, txs),
          Journal.transfersOfHybrid(spark, journalRoot, _, txs))
          .join(announced, Seq("tenant", "transaction"))
          .filter(col("credit_name") === col("account") ||
            col("debit_name") === col("account"))
          .observe(p7, count(when(col("status") =!= col("event_status"), 1)).as("n"))
          .localCheckpoint()
        try {
          val mismatches = p7.get("n").asInstanceOf[Long]
          if (mismatches > 0)
            throw new IllegalStateException(
              s"$mismatches transfer(s) with status differing from their announcing event")
          append(newRows(txTransfers.drop("account", "event_status"), table("transfer"),
            Seq("tenant", "transaction", "transfer")), "transfer")
        } finally {
          // the checkpoint's blocks are this pass's alone: release them now,
          // not at the driver's next GC-triggered cleanup (Spark logs a
          // warning that the released RDD cannot be recomputed)
          txTransfers.queryExecution.analyzed
            .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
            .foreach(_.unpersist(blocking = false))
        }
      }

    // T3: advance per-account watermarks through the keep-latest upsert.
    // The new watermark is the lexicographic max of (snapshot, version) —
    // pairing max(snapshot) with the global max(version) ACROSS snapshots
    // would fabricate a watermark no event carries and skip real events
    // after a snapshot rotation (versions restart per snapshot).
    val marks = events.groupBy(col("tenant"), col("account").as("name"))
      .agg(max(struct(col("snapshot_version"), col("version"))).as("__m"))
      .select(col("tenant"), col("name"),
        col("__m.snapshot_version").as("last_syn_snapshot"),
        col("__m.version").as("last_syn_event"))
    if (newEvents.nonEmpty) {
      val updated = accountTable
        .join(marks, Seq("tenant", "name"), "left_semi")
        .drop("last_syn_snapshot", "last_syn_event")
        .join(marks, Seq("tenant", "name"))
        .select(accountTable.columns.map(col): _*)
      val merged = upsert(updated, accountTable, Seq("tenant", "name"),
        Seq("last_syn_snapshot", "last_syn_event"))
      // write-new-then-swap: the merged plan reads the live account files,
      // so a direct overwrite would delete its own input mid-plan. The
      // retire-then-promote rename order means a crash at any point leaves
      // either `account` or `account_old` intact (recovered at pass start);
      // a table format (Delta/Iceberg MERGE) is the real answer at scale.
      val fs = tablePath("account").getFileSystem(hconf)
      merged.write.mode("overwrite").parquet(s"$warehouseDir/account_new")
      fs.rename(tablePath("account"), tablePath("account_old"))
      fs.rename(tablePath("account_new"), tablePath("account"))
      fs.delete(tablePath("account_old"), true)
    }
    // M10 at ingest, executed: the sync pass maintains the balance
    // pre-agg the BalanceMvRewrite optimizer rule serves from
    // (`$warehouseDir/balances`), so API sessions installing the rule
    // answer full-lake balance reports from |accounts| rows. The MV is
    // PUBLISHED through [[graft.operators.VersionedRoot]] — immutable
    // `v<N>` dirs plus one atomic CURRENT pointer — so a serving session
    // mid-scan on the previous version never has files yanked from under
    // it (the swap-while-serving contract CompactionSpec pins, now the
    // production write path); readers resolve CURRENT once per
    // plan/refresh (HttpEdge.installMvRule, BalanceMvRewrite.fromConf).
    // The vacuum horizon is a POLICY KNOB (spark.graft.balance
    // .mvKeepVersions, default 2): retire(keep=K) guarantees a reader
    // that pinned a version survives K-1 subsequent sync publishes, so
    // the deployment contract is "edges refresh() at least every K-1
    // syncs" — the default prices one missed refresh; size K to the
    // real refresh cadence (or to a time horizon) in production. At
    // 100 TB under a transactional table format the refresh becomes the
    // q_balance_mv_incr delta MERGE, whose cost is this pass's appended
    // transfers, not the lake.
    //
    // Each version records the transfer-table files it was computed from,
    // and a pass republishes whenever CURRENT's record differs from the
    // table's files now. Any append adds a file (even a 0-row one: Spark
    // writes an empty parquet file), and so does the append of a previous
    // pass that stopped before this point, after or before its account
    // swap. A pass that appended nothing leaves the list as it was.
    val (mvStore, mvRoot) = balancesRoot(warehouseDir)
    val sources = transferFiles()
    val mvCurrent = VersionedRoot.publishedAt(mvStore, mvRoot) && {
      val recorded = mvStore.child(VersionedRoot.resolveAt(mvStore, mvRoot), MvSourcesFile)
      mvStore.exists(recorded) && mvStore.readString(recorded) == sources
    }
    if (!mvCurrent) {
      // the refresh MUST NOT be answered by the very rule it feeds: on
      // a serving session the installed rewrite matches this exact
      // aggregate and would publish a copy of the OLD version
      graft.plans.BalanceMvRewrite.suppressed {
        VersionedRoot.publishAt(mvStore, mvRoot, { vdir =>
          balancePreAgg(table("transfer")).write.mode("overwrite").parquet(vdir)
          mvStore.writeString(mvStore.child(vdir, MvSourcesFile), sources)
        }): Unit
      }
      val keep = spark.conf
        .get("spark.graft.balance.mvKeepVersions", "2").toInt
      VersionedRoot.retireAt(mvStore, mvRoot, keep = keep)
    }
    events.unpersist()
    // A2 transport: the observed counters leave the process in the
    // reference's statsd aspect names (PrimaryDataExplorationService
    // .scala:58, 92, 247 + memory gauge, asserted by
    // bbtest/features/metrics.feature:31-37)
    metrics.count("discovery.tenant", nTenants)
    metrics.count("discovery.account", nAccounts)
    metrics.count("discovery.transfer", nTransfers)
    val rt = Runtime.getRuntime
    metrics.gauge("memory.bytes", rt.totalMemory() - rt.freeMemory())
    SyncStats(nTenants, nAccounts, nTransfers)
  }
}
