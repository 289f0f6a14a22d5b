package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.api.HttpEdge
import graft.warehouse.Warehouse

/** End-to-end edge tests reproducing the reference's black-box scenarios
  * (bbtest/features/graphql_api.feature) over real HTTP: journal fixture →
  * sync → HTTP query → JSON assertions.
  */
class HttpEdgeSpec extends SparkSpec {

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val url = java.net.URI.create(s"http://localhost:$port$pathAndQuery").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  private def put(root: java.nio.file.Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content): Unit
  }

  private def fixture(): String = {
    val root = Files.createTempDirectory("journal")
    put(root, "t_TENANT/account/CREDIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put(root, "t_TENANT/account/DEBIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put(root, "t_TENANT/account/IDLE/snapshot/0000000000", "EUR FORMAT_T\n")
    put(root, "t_TENANT/account/CREDIT/events/0000000000/1_1_TRN", "1\n")
    put(root, "t_TENANT/account/DEBIT/events/0000000000/1_-1_TRN", "1\n")
    put(root, "t_TENANT/transaction/TRN",
      "committed\nTRX TENANT CREDIT TENANT DEBIT 2020-01-01T00:00:00Z 1 CZK\n")
    root.toString
  }

  /** A delta for the next sync pass: committed transfer TRN<v> moving
    * `amount` from DEBIT to CREDIT, announced as event version v of both
    * accounts (so the pass advances both watermarks and swaps the account
    * table). */
  private def addTransfer(journal: String, v: Int, amount: Int): Unit = {
    val root = java.nio.file.Paths.get(journal)
    put(root, s"t_TENANT/account/CREDIT/events/0000000000/1_${amount}_TRN$v", s"$v\n")
    put(root, s"t_TENANT/account/DEBIT/events/0000000000/1_-${amount}_TRN$v", s"$v\n")
    put(root, s"t_TENANT/transaction/TRN$v",
      s"committed\nTRX TENANT CREDIT TENANT DEBIT 2020-01-0${v}T00:00:00Z $amount CZK\n")
  }

  private def gql(port: Int, doc: String): (Int, String) =
    get(port, "/graphql?query=" + java.net.URLEncoder.encode(doc, "UTF-8"))

  /** GET /metrics as name -> count. */
  private def metrics(port: Int): Map[String, Long] = {
    val (c, body) = get(port, "/metrics")
    assert(c == 200, body)
    "\"(\\w+)\":(\\d+)".r.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  private def withEdge[A](f: Int => A): A = {
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try f(edge.boundPort) finally edge.stop()
  }

  test("bbtest scenarios over HTTP: tenants, account balances, transfers") {
    withEdge { port =>
      // health probe = tenants(limit 1) through the full stack
      val (hc, health) = get(port, "/health")
      assert(hc == 200 && health.contains("\"healthy\":true"))

      // scenario 1: tenant discovery
      val (_, tenants) = get(port, "/tenants")
      assert(tenants.contains("\"name\":\"TENANT\""))
      val (_, one) = get(port, "/tenant?name=TENANT")
      assert(one == "[{\"name\":\"TENANT\"}]")

      // scenario 2: snapshot-parsed metadata; no transfers -> balance 0
      val (_, idle) = get(port, "/account?tenant=TENANT&name=IDLE")
      assert(idle.contains("\"currency\":\"EUR\"") && idle.contains("\"balance\":0.0"))

      // scenario 3: committed transfer -> +1/-1 balances, status word
      val (_, credit) = get(port, "/account?tenant=TENANT&name=CREDIT")
      assert(credit.contains("\"balance\":1.0"))
      // parameter names are URL-decoded like their values (%74 = 't')
      assert(get(port, "/account?%74enant=TENANT&name=CREDIT") == (200, credit))
      val (_, transfers) = get(port, "/transfers?tenant=TENANT&status=committed&resolve=true")
      assert(transfers.contains("\"transaction\":\"TRN\""))
      assert(transfers.contains("\"status_word\":\"committed\""))
      assert(transfers.contains("\"credit_balance\":1.0"))
      assert(transfers.contains("\"debit_balance\":-1.0"))

      // accounts listing with filter + pagination surface
      val (_, accounts) = get(port, "/accounts?tenant=TENANT&currency=CZK&limit=10")
      assert(accounts.contains("CREDIT") && accounts.contains("DEBIT")
        && !accounts.contains("IDLE"))

      // keyset continuation: the page after TRN/TRX is empty (last row)
      val (_, keyset) = get(port, "/transfers?tenant=TENANT&after=TRN%2CTRX")
      assert(keyset == "[]")

      // accounts/tenants keyset: strictly-after page, filters compose
      val (_, accAfter) = get(port, "/accounts?tenant=TENANT&after=CREDIT&limit=10")
      assert(!accAfter.contains("CREDIT")
        && accAfter.contains("DEBIT") && accAfter.contains("IDLE"))
      val (_, tenAfter) = get(port, "/tenants?after=TENANT")
      assert(tenAfter == "[]")

      // a nonzero offset under a cursor is a 400 on EVERY edge (matching
      // GraphQL), never a silently ignored parameter
      for (path <- Seq("/accounts?tenant=TENANT&after=CREDIT&offset=5",
        "/tenants?after=A&offset=5",
        "/transfers?tenant=TENANT&after=TRN%2CTRX&offset=5")) {
        val (c, e) = get(port, path)
        assert(c == 400 && e.contains("offset must be 0"), s"$path -> $c $e")
      }

      // argument validation -> 400, not a stack trace
      val (code, err) = get(port, "/transfers?status=committed")
      assert(code == 400 && err.contains("missing arg: tenant"))
      val (c2, e2) = get(port, "/transfers?tenant=TENANT&after=TRN")
      assert(c2 == 400 && e2.contains("after must be"))
      val (c3, e3) = get(port, "/transfers?tenant=TENANT&value_date_gt=not-a-date")
      assert(c3 == 400 && e3.contains("bad value_date_gt"))
    }
  }
  test("balance MV serves the /balances report; scoped lookups stay unrewritten") {
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    // the sync pass maintains the pre-agg the serving rule reads
    assert(new java.io.File(s"$wh/balances").exists,
      "sync must maintain the balance pre-agg artifact")
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val port = edge.boundPort
      // REST report: the full per-tenant balance dump, MV-answered
      val (rc, rep) = get(port, "/balances?tenant=TENANT")
      assert(rc == 200 && rep.contains("\"name\":\"CREDIT\"") &&
        rep.contains("\"balance\":1.0") && rep.contains("\"balance\":-1.0"),
        s"/balances: $rep")
      // GraphQL root field over the same declarative aggregate
      val q = java.net.URLEncoder.encode(
        """{ balances(tenant: "TENANT") { name balance __typename } }""", "UTF-8")
      val (gc, g) = get(port, s"/graphql?query=$q")
      assert(gc == 200 && g.contains("\"name\":\"CREDIT\"") &&
        g.contains("\"balance\":1") && g.contains("\"balance\":-1") &&
        g.contains("\"__typename\":\"account_balance\""), s"/graphql: $g")
      // the rule is installed on the serving session while the edge runs:
      // a GraphQL balance request's compiled plan must SCAN the MV — no
      // lake-wide aggregate anywhere in it
      val exec = new graft.api.GraphQLExecutor(
        () => spark.read.parquet(s"$wh/tenant"),
        () => spark.read.parquet(s"$wh/account"),
        () => spark.read.parquet(s"$wh/transfer"))
      val plan = exec.plans("""{ balances(tenant: "TENANT") { name balance } }""")
        .head.df.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate") && plan.contains("balances"),
        s"the GraphQL balance report must scan the maintained MV:\n$plan")
      // scoped shapes keep their plans (the rule's soundness declines):
      // the point lookup still aggregates its scan-filtered slice
      val pointPlan = Warehouse
        .balanceOf(spark.read.parquet(s"$wh/transfer"), "TENANT", "CREDIT")
        .queryExecution.executedPlan.toString
      assert(pointPlan.contains("HashAggregate"),
        s"the point lookup must keep its scan-filter aggregate:\n$pointPlan")
    } finally edge.stop()
    // stop() uninstalls: the same declarative report now aggregates the lake
    val after = Warehouse.balances(Warehouse.balanceChanges(
      spark.read.parquet(s"$wh/transfer")))
      .queryExecution.executedPlan.toString
    assert(after.contains("HashAggregate"),
      s"after stop() the rule must be gone:\n$after")
  }

  test("the edge keeps serving its pinned MV version across a concurrent sync publish") {
    // the swap-while-serving contract ON THE PRODUCTION WRITE PATH:
    // Warehouse.sync publishes the balance MV through VersionedRoot, the
    // edge resolves CURRENT once at start()/refresh() — so a sync that
    // publishes a new version mid-serving must be invisible to the edge
    // (even for PLANS BUILT AFTER THE PUBLISH: the rule is bound to the
    // pinned immutable v1 directory, not to the pointer), and a refresh()
    // must pick the new version up
    import graft.operators.VersionedRoot
    val jr = java.nio.file.Paths.get(fixture())
    def put(rel: String, content: String): Unit = {
      val p = jr.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content): Unit
    }
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, jr.toString, wh)
    val mvRoot = java.nio.file.Paths.get(wh, "balances")
    val v1 = VersionedRoot.resolve(mvRoot)
    val edge = new HttpEdge(spark, wh, port = 0).start() // pins v1
    try {
      val port = edge.boundPort
      val (c1, r1) = get(port, "/balances?tenant=TENANT")
      assert(c1 == 200 && r1.contains("\"balance\":1.0"), s"pass 1: $r1")
      // a second journal pass lands a new committed transfer (+2/−2) and
      // PUBLISHES MV v2 while the edge is serving
      // filename = {status}_{amount}_{transaction}; content line 1 = version
      put("t_TENANT/account/CREDIT/events/0000000000/1_2_TRN2", "2\n")
      put("t_TENANT/account/DEBIT/events/0000000000/1_-2_TRN2", "2\n")
      put("t_TENANT/transaction/TRN2",
        "committed\nTRX TENANT CREDIT TENANT DEBIT 2020-01-02T00:00:00Z 2 CZK\n")
      Warehouse.sync(spark, jr.toString, wh)
      assert(VersionedRoot.resolve(mvRoot).getFileName.toString != "v1",
        "the second sync must publish a new MV version")
      assert(java.nio.file.Files.exists(v1),
        "retire(keep=2) must preserve the version a serving session pinned")
      // a FRESH plan shape (different cache key) built after the publish
      // still answers from the pinned v1 — the rule holds the immutable
      // version directory, not the moving pointer. If the rule had
      // declined (or chased the pointer), the lake's new transfer would
      // surface balance 3.0 here
      val (c2, r2) = get(port, "/balances?tenant=TENANT&pin=probe")
      assert(c2 == 200 && r2.contains("\"balance\":1.0") &&
        !r2.contains("\"balance\":3.0"),
        s"mid-serving publish must be invisible until refresh: $r2")
      // refresh(): re-resolve CURRENT → the new version serves
      edge.refresh()
      val (c3, r3) = get(port, "/balances?tenant=TENANT")
      assert(c3 == 200 && r3.contains("\"balance\":3.0") &&
        r3.contains("\"balance\":-3.0"),
        s"refresh must serve the newly published version: $r3")
    } finally edge.stop()
  }

  test("a GraftExtensions session injects the functions AND the conf-bound rule") {
    // the actual cluster deployment path: the shared test session is BUILT
    // with spark.sql.extensions=graft.functions.GraftExtensions (see
    // SparkSpec — extensions are static conf, applied where the
    // SparkContext is created). newSession() rebuilds SessionState from
    // the same extensions with a FRESH function registry, so (a) the
    // injected functions must resolve there without any register() call
    // (the temp-function path other suites exercise would mask this on
    // the parent session), and (b) setting the two balance confs must
    // activate the injected optimizer rule for that session alone.
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    val s2 = spark.newSession()
    assert(s2.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0,
      "extension-injected functions must resolve on a fresh session")
    s2.conf.set(graft.plans.BalanceMvRewrite.MvPathConf, s"$wh/balances")
    s2.conf.set(graft.plans.BalanceMvRewrite.LakePathConf, s"$wh/transfer")
    val plan = graft.warehouse.Warehouse.balances(
      graft.warehouse.Warehouse.balanceChanges(
        s2.read.parquet(s"$wh/transfer")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && plan.contains("balances"),
      s"the extension-injected rule must answer from the MV:\n$plan")
    // the confs are session-scoped: the SHARED session stays unrewritten
    val shared = graft.warehouse.Warehouse.balances(
      graft.warehouse.Warehouse.balanceChanges(
        spark.read.parquet(s"$wh/transfer")))
      .queryExecution.executedPlan.toString
    assert(shared.contains("HashAggregate"),
      s"the rule must not leak across sessions:\n$shared")
  }

  test("concurrent requests over the pooled edge; plan cache reuses shapes") {
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val port = edge.boundPort
      val paths = Seq(
        "/tenants", "/tenant?name=TENANT",
        "/account?tenant=TENANT&name=CREDIT",
        "/accounts?tenant=TENANT&currency=CZK",
        "/transfers?tenant=TENANT&status=committed",
        "/health")
      import java.util.concurrent.Executors
      val exec = Executors.newFixedThreadPool(12)
      try {
        val futures = (1 to 48).map { i =>
          val path = paths(i % paths.size)
          exec.submit(new java.util.concurrent.Callable[(String, Int, String)] {
            def call() = { val (c, b) = get(port, path); (path, c, b) }
          })
        }
        val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        results.foreach { case (path, code, body) =>
          assert(code == 200, s"$path -> $code: $body")
        }
        // identical requests must return identical bodies under concurrency
        results.groupBy(_._1).foreach { case (_, rs) =>
          assert(rs.map(_._3).distinct.size == 1)
        }
        val byPath = results.groupBy(_._1).map { case (k, v) => k -> v.head._3 }
        assert(byPath("/tenant?name=TENANT") == "[{\"name\":\"TENANT\"}]")
        assert(byPath("/account?tenant=TENANT&name=CREDIT").contains("\"balance\":1.0"))
        // 5 distinct cacheable shapes ran 8x each -> exactly 5 cached
        // plans; /health is uncached, and these routes use page-scoped
        // balances rather than the shared aggregate entry
        assert(edge.cachedPlans == 5, s"cachedPlans=${edge.cachedPlans}")
        edge.refresh()
        assert(edge.cachedPlans == 0)
        assert(get(port, "/tenants")._2.contains("TENANT")) // rebuilds fine
      } finally exec.shutdown()
    } finally edge.stop()
  }

  test("a sync pass swapping the account table leaves no request failing on stale files") {
    // write-new-then-swap deletes the account files the edge's snapshot
    // pinned; a request that reads them refreshes the edge once and
    // answers from the new snapshot instead of failing with a 500
    val journal = fixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, journal, wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val port = edge.boundPort
      val credit = "/account?tenant=TENANT&name=CREDIT"
      val nested = """{ transfers(tenant: "TENANT", limit: 10, offset: 0) {
                     |  transaction credit { name balance } debit { name balance } } }""".stripMargin
      def balances(response: (Int, String)): Set[String] = {
        val (code, body) = response
        assert(code == 200, s"$code $body")
        "\"balance\":(-?[\\d.]+)".r.findAllMatchIn(body).map(_.group(1)).toSet
      }
      assert(balances(get(port, credit)) == Set("1.0"))
      assert(balances(gql(port, nested)) == Set("1", "-1"))

      // pass 2 (+2) swaps the account table out from under the snapshot.
      // Stored answers read no file: they answer the snapshot, pre-pass
      addTransfer(journal, 2, 2)
      Warehouse.sync(spark, journal, wh)
      assert(balances(get(port, credit)) == Set("1.0"))
      assert(balances(gql(port, nested)) == Set("1", "-1"))
      assert(metrics(port)("stale_refreshes") == 0)
      // a shape first seen now reads the swapped files: refresh, post-pass;
      // the refreshed snapshot serves the other shapes post-pass too
      assert(balances(get(port, "/account?tenant=TENANT&name=DEBIT")) == Set("-3.0"))
      assert(metrics(port)("stale_refreshes") == 1)
      assert(balances(get(port, credit)) == Set("3.0"))
      assert(balances(gql(port, nested)) == Set("3", "-3"))

      // pass 3 (+4): a new nested GraphQL shape takes the same path
      addTransfer(journal, 3, 4)
      Warehouse.sync(spark, journal, wh)
      assert(balances(gql(port,
        """{ transfers(tenant: "TENANT", limit: 5, offset: 0) { transfer debit { balance } } }""")) ==
        Set("-7"))
      assert(balances(get(port, credit)) == Set("7.0"))
      assert(balances(gql(port, nested)) == Set("7", "-7"))
      assert(metrics(port)("stale_refreshes") == 2)
    } finally edge.stop()
  }

  test("new and cached shapes answer from one snapshot until refresh()") {
    val journal = fixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, journal, wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val port = edge.boundPort
      def transactions(path: String): Seq[String] = {
        val (c, body) = get(port, path)
        assert(c == 200, s"$path -> $c $body")
        "\"transaction\":\"(TRN\\d*)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
      }
      val cachedShape = "/transfers?tenant=TENANT"
      val newShape = "/transfers?tenant=TENANT&limit=50"
      val credit = "/account?tenant=TENANT&name=CREDIT"
      val report = "/balances?tenant=TENANT"
      val doc = """{ account(tenant: "TENANT", name: "CREDIT") { balance } }"""
      assert(transactions(cachedShape) == Seq("TRN"))
      val stored = Seq(get(port, credit), get(port, report), gql(port, doc))
      assert(stored.forall(_._1 == 200) && stored.head._2.contains("\"balance\":1.0"), stored)
      addTransfer(journal, 2, 2)
      Warehouse.sync(spark, journal, wh)
      // the pass appended TRN2, but the snapshot pinned the listing of
      // start(): the cached shape and a shape built after the pass agree
      assert(transactions(cachedShape) == Seq("TRN"))
      assert(transactions(newShape) == Seq("TRN"))
      // the pass also swapped the account table and published a new MV
      // version: stored answers stay the snapshot's, as hits
      val hits = metrics(port)("hits")
      assert(Seq(get(port, credit), get(port, report), gql(port, doc)) == stored)
      assert(metrics(port)("hits") == hits + 3)
      edge.refresh()
      assert(transactions(cachedShape) == Seq("TRN", "TRN2"))
      assert(transactions(newShape) == Seq("TRN", "TRN2"))
      assert(get(port, credit)._2.contains("\"balance\":3.0"))
      assert(get(port, report)._2.contains("\"balance\":3.0"))
      assert(gql(port, doc)._2.contains("\"balance\":3"))
    } finally edge.stop()
  }

  test("a cache hit runs no Spark job; no request re-reads a parquet schema") {
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    // every job's description and stage names, in listener-bus order
    val jobs = new java.util.concurrent.LinkedBlockingQueue[(String, Seq[String])]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put((Option(js.properties)
          .map(_.getProperty("spark.job.description")).orNull,
          js.stageInfos.map(_.name)))
    }
    spark.sparkContext.addSparkListener(listener)
    // the stage names of the jobs `request` ran: a sentinel job follows it,
    // and the bus delivers in order, so every earlier job is queued by the
    // time the sentinel is — counts, not timings
    var sentinels = 0
    def jobsOf(request: => Unit): Seq[Seq[String]] = {
      request
      sentinels += 1
      val mark = s"sentinel-$sentinels"
      spark.sparkContext.setJobDescription(mark)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      Iterator.continually(jobs.poll(120, java.util.concurrent.TimeUnit.SECONDS))
        .map(j => { assert(j != null, s"$mark never reached the listener"); j })
        .takeWhile(_._1 != mark).map(_._2).toVector
    }
    try {
      val port = edge.boundPort
      def ok(path: String): Unit = {
        val (c, b) = get(port, path); assert(c == 200, s"$path -> $c $b")
      }
      val doc = """{ transfers(tenant: "TENANT", limit: 10, offset: 0) {
                  |  transaction credit { name balance } } }""".stripMargin
      val shapes = Seq[(String, () => Unit)](
        "/account" -> (() => ok("/account?tenant=TENANT&name=CREDIT")),
        "/transfers" -> (() => ok("/transfers?tenant=TENANT&status=committed&resolve=true")),
        "graphql" -> (() => assert(gql(port, doc)._1 == 200)),
        "/metrics" -> (() => ok("/metrics")))
      val cold = shapes.map { case (n, r) => n -> jobsOf(r()) }
      assert(cold.toMap.apply("/metrics").isEmpty, "GET /metrics must run no Spark job")
      val hot = shapes.map { case (n, r) => n -> jobsOf(r()) }
      hot.foreach { case (n, js) =>
        assert(js.isEmpty, s"$n: a hit must answer from the stored response, ran ${js.size} jobs: $js")
      }
      val schemaReads = (cold ++ hot).flatMap { case (n, js) =>
        js.flatten.filter(_.startsWith("parquet at")).map(n -> _) }
      assert(schemaReads.isEmpty, s"requests re-read parquet schemas: $schemaReads")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      edge.stop()
    }
  }

  test("refresh() opens the tables without a schema job; a missing table fails start()") {
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == "sentinel"))
          done.countDown()
        else js.stageInfos.foreach(si => stages.add(si.name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      edge.refresh()
      val (c, _) = get(edge.boundPort, "/tenants")
      assert(c == 200)
      // a sentinel job after the refresh and the request: the bus delivers
      // in order, so every job they ran is recorded once it arrives
      spark.sparkContext.setJobDescription("sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
      val schemaJobs = stages.asScala.filter(_.startsWith("parquet at"))
      assert(schemaJobs.isEmpty, s"schema-inference jobs: $schemaJobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      edge.stop()
    }

    // a warehouse without its tables is refused up front, not per request
    val empty = new HttpEdge(spark, Files.createTempDirectory("wh-none").toString, port = 0)
    try intercept[org.apache.spark.sql.AnalysisException](empty.start())
    finally empty.stop()
  }

  test("a first sync with no announced transaction leaves tables the edge serves") {
    // a fresh deployment: accounts, and only a pending event, so the pass
    // reads no transaction file
    val root = Files.createTempDirectory("journal")
    put(root, "t_TENANT/account/CREDIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put(root, "t_TENANT/account/DEBIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put(root, "t_TENANT/account/CREDIT/events/0000000000/0_1_TRN", "1\n")
    val wh = Files.createTempDirectory("wh").toString
    assert(Warehouse.sync(spark, root.toString, wh) == Warehouse.SyncStats(1, 2, 0))
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val (c, body) = get(edge.boundPort, "/account?tenant=TENANT&name=CREDIT")
      assert(c == 200 && body.contains("\"balance\":0"), body)
      val (tc, transfers) = get(edge.boundPort, "/transfers?tenant=TENANT")
      assert(tc == 200 && transfers == "[]", transfers)
    } finally edge.stop()
  }

  /** The balance `{ account }` and the CREDIT row of `{ balances }` answer
    * in ONE GraphQL request, i.e. from one snapshot. */
  private def creditBalances(port: Int): (String, String) = {
    val (c, body) = gql(port, """{ account(tenant: "TENANT", name: "CREDIT") { balance }
                                |  balances(tenant: "TENANT") { name balance } }""".stripMargin)
    assert(c == 200, body)
    def one(re: String) = re.r.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(fail(s"no match for $re in $body"))
    (one("\"account\":\\{\"balance\":(-?[\\d.]+)\\}"),
      one("\\{\"name\":\"CREDIT\",\"balance\":(-?[\\d.]+)\\}"))
  }

  /** A sync pass's step 4 alone: the journal's new transfers appended to
    * the transfer table, the balance MV not republished. */
  private def appendTransfers(journal: String, wh: String): Unit =
    Warehouse.newRows(graft.sources.Journal.transfers(spark, journal),
      spark.read.parquet(s"$wh/transfer"), Seq("tenant", "transaction", "transfer"))
      .write.mode("append").parquet(s"$wh/transfer")

  test("a snapshot pairs the balance MV only with the transfers it covers") {
    val journal = fixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, journal, wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val port = edge.boundPort
      assert(creditBalances(port) == ("1", "1"))
      // a pass stopped after its transfer append (+5), before its MV
      // publish; a refresh now must not serve the old MV beside the new
      // transfers
      addTransfer(journal, 2, 5)
      appendTransfers(journal, wh)
      edge.refresh()
      assert(creditBalances(port) == ("6", "6"))
      assert(get(port, "/balances?tenant=TENANT")._2.contains("\"balance\":6.0"))
      assert(get(port, "/account?tenant=TENANT&name=CREDIT")._2.contains("\"balance\":6.0"))
      // the next pass publishes a covering MV, which the next snapshot serves
      Warehouse.sync(spark, journal, wh)
      edge.refresh()
      assert(creditBalances(port) == ("6", "6"))
    } finally edge.stop()
  }

  test("a stale-file refresh between a pass's account swap and its MV publish serves agreeing balances") {
    val journal = fixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, journal, wh)
    val edge = new HttpEdge(spark, wh, port = 0).start()
    try {
      val port = edge.boundPort
      assert(get(port, "/tenants")._1 == 200)
      // steps 4 and 5 of a pass: the +5 transfer appended, then the account
      // table swapped (watermarks advanced); step 6 has not run yet
      addTransfer(journal, 2, 5)
      appendTransfers(journal, wh)
      spark.read.parquet(s"$wh/account").withColumn("last_syn_event", org.apache.spark.sql.functions.lit(2))
        .write.parquet(s"$wh/account_new")
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$wh/account"), true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$wh/account_new"), new org.apache.hadoop.fs.Path(s"$wh/account"))
      // a new request meets the swapped files: the edge refreshes, and the
      // refreshed snapshot must not pair the old MV with the new transfers
      assert(creditBalances(port) == ("6", "6"))
      assert(metrics(port)("stale_refreshes") == 1)
    } finally edge.stop()
  }

  test("GET /metrics counts stored answers, hits and misses") {
    withEdge { port =>
      assert(metrics(port) == Map("answers" -> 0, "chars" -> 0, "hits" -> 0,
        "misses" -> 0, "stale_refreshes" -> 0))
      val (_, one) = get(port, "/tenant?name=TENANT")
      assert(get(port, "/tenant?name=TENANT")._2 == one)
      val (_, all) = get(port, "/tenants")
      assert(get(port, "/health")._1 == 200) // not an answer lookup
      // stored text = normalized keys ("/tenants?" has no args) + bodies
      assert(metrics(port) == Map("answers" -> 2,
        "chars" -> ("/tenant?name=TENANT" + one + "/tenants?" + all).length,
        "hits" -> 1, "misses" -> 2, "stale_refreshes" -> 0))
      val doc = "{ tenants(limit: 10, offset: 0) { name } }"
      assert(gql(port, doc)._1 == 200 && gql(port, doc)._1 == 200)
      val m = metrics(port)
      assert(m("answers") == 3 && m("hits") == 2 && m("misses") == 3, m)
    }
  }

  test("stored answers stay within the character budget; a larger one is served, not stored") {
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, fixture(), wh)
    val budget = 200L
    val edge = new HttpEdge(spark, wh, port = 0, answerBudget = budget).start()
    try {
      val port = edge.boundPort
      val big = "/transfers?tenant=TENANT&resolve=true"
      val (c, body) = get(port, big)
      assert(c == 200 && body.contains("\"credit_balance\":1.0") && body.length > budget, body)
      assert(edge.cachedPlans == 0)
      assert(get(port, big) == (c, body)) // built again: a miss, not a hit
      assert(metrics(port)("hits") == 0)
      // small answers fill the budget; the least recently used are evicted
      // until the stored text fits, and the newest always stays
      val names = (1 to 20).map(i => f"/tenant?name=T$i%02d")
      names.foreach(n => assert(get(port, n) == (200, "[]")))
      val m = metrics(port)
      assert(m("answers") == edge.cachedPlans && edge.cachedPlans < names.size, m)
      assert(m("chars") <= budget && m("chars") == edge.cachedPlans * (names.head + "[]").length, m)
      get(port, names.last)
      assert(metrics(port)("hits") == 1)
    } finally edge.stop()
  }
}
