package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.VersionedRoot
import graft.plans.BalanceMvRewrite
import graft.warehouse.Warehouse
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** The reference's user-facing query surface re-expressed as a thin HTTP/
  * JSON edge over the DataFrame builders — five root fields
  * (GraphQLService.scala:207-292) plus the health probe
  * (HealthCheckService.scala:8-18, probe = `tenants(limit 1)`).
  *
  * Transport is deliberately minimal (JDK HttpServer, GET + query params,
  * JSON rows out): the engine work — filters, pagination, joins, balance
  * aggregation — happens in the SAME Catalyst plans the oracle gate
  * checks; the edge only parses arguments and serializes rows.
  * Sangria's deferred-Fetcher waves (GraphQLService.scala:118-151) have no
  * analog here because nested fields are joins inside one plan.
  *
  * Routes:
  *   GET /health                             → {"healthy":bool,"graphql":bool}
  *   GET /metrics                            → {"answers","chars": stored by
  *       the current snapshot; "hits","misses": answer lookups since
  *       start(); "stale_refreshes": refreshes a request forced because a
  *       sync pass removed files the snapshot pinned} — counters, no Spark job
  *   GET /tenants?limit=&offset=
  *   GET /tenant?name=
  *   GET /accounts?tenant=&currency=&format=&limit=&offset=
  *   GET /account?tenant=&name=               (includes computed balance)
  *   GET /transfers?tenant=&currency=&status=&amount_lt|lte|gt|gte=&
  *       value_date_lt|lte|gt|gte=&limit=&offset=&resolve=true|false
  *   GET /balances?tenant=                     (full per-tenant balance
  *       report — MV-answered when the sync-maintained pre-agg exists)
  *
  *   POST/GET /graphql                       → the GraphQL surface (see
  *       GraphQLExecutor; selection sets drive the plans)
  *
  * Requests are served by a small fixed pool over one shared
  * SparkSession. Contract: a request sees the warehouse as of the last
  * start()/refresh() — see the snapshot note below; call refresh() after
  * a sync pass to serve what it wrote.
  *
  * `answerBudget` is the snapshot's character budget for stored answers;
  * the public constructor fixes it at HttpEdge.AnswerBudgetChars, and only
  * tests pass a smaller one.
  */
final class HttpEdge private[graft] (spark: SparkSession, warehouseDir: String, port: Int,
    answerBudget: Long) {

  def this(spark: SparkSession, warehouseDir: String, port: Int) =
    this(spark, warehouseDir, port, HttpEdge.AnswerBudgetChars)

  // ---- snapshot --------------------------------------------------------
  //
  // Everything a request reads is resolved ONCE per start()/refresh(): the
  // tenant/account/transfer relations (one file listing each, read with the
  // schemas sync writes: no schema job), the GraphQL executor
  // over them, the balance-MV rewrite bound to the MV version CURRENT then,
  // and one LRU of answers. The snapshot pins its file listings and its MV
  // version, so the answer to a normalized (route, args) key cannot change
  // during the snapshot's life: the LRU maps each key to its response body,
  // and a hit is a map lookup that runs no Spark job. An answer is stored
  // only after it succeeded. The LRU holds at most MaxAnswers entries and
  // answerBudget characters of keys and bodies: it evicts the least
  // recently used entries until both fit, and an answer larger than the
  // whole budget is returned but not stored (a page can be a whole table).
  private final class Snapshot {
    private def table(name: String) =
      spark.read.schema(Warehouse.tableSchemas(name)).parquet(s"$warehouseDir/$name")
    val tenant: DataFrame = table("tenant")
    val account: DataFrame = table("account")
    val transfer: DataFrame = table("transfer")
    // GraphQL endpoint (GraphQLRouter.scala:14-64) over the same relations
    val graphql = new GraphQLExecutor(() => tenant, () => account, () => transfer)

    // The sync pass publishes the balance MV through VersionedRoot (storage
    // backend by scheme, VStore.forRoot): CURRENT resolves once per
    // snapshot to an immutable v<N> directory, so every plan of this
    // snapshot reads one MV version regardless of concurrent publishes.
    // Deployment contract: refresh() at least every mvKeepVersions-1 sync
    // passes, or the pinned version is vacuumed (Warehouse.sync's retire
    // knob) and its reads take the stale-file path below.
    // The MV serves only when the pinned version was computed from exactly
    // the transfer files this snapshot listed: a refresh between a pass's
    // transfer append and its MV publish (a crashed pass, or the stale-file
    // refresh meeting the pass's account swap) would otherwise pair an old
    // MV with newer transfers, and `/balances` would disagree with
    // `/account`. Without it, balance reports aggregate the lake.
    val mv: Option[BalanceMvRewrite] = {
      val (store, root) = Warehouse.balancesRoot(warehouseDir)
      Option.when(VersionedRoot.publishedAt(store, root))(VersionedRoot.resolveAt(store, root))
        .filter(Warehouse.mvCovers(store, _, transfer.inputFiles.toSeq))
        .map(BalanceMvRewrite.forSource(spark, _,
          Warehouse.balances(Warehouse.balanceChanges(transfer))))
    }

    // access-ordered: iteration starts at the least recently used entry
    private val answers = new java.util.LinkedHashMap[String, String](64, 0.75f, true)
    private var chars = 0L // key + body characters stored; guarded by answers

    /** (answers stored, characters stored) */
    def stored: (Int, Long) = answers.synchronized((answers.size, chars))

    def answer(key: String)(build: => String): String = {
      val hit = answers.synchronized(answers.get(key))
      if (hit != null) { hits.incrementAndGet(); hit }
      else {
        misses.incrementAndGet()
        val body = build // outside the lock: a miss runs Spark jobs
        val size = key.length.toLong + body.length
        if (size <= answerBudget) answers.synchronized {
          val old = answers.put(key, body)
          chars += size - (if (old == null) 0 else key.length + old.length)
          val lru = answers.entrySet.iterator
          while (answers.size > HttpEdge.MaxAnswers || chars > answerBudget) {
            val e = lru.next()
            chars -= e.getKey.length + e.getValue.length
            lru.remove()
          }
        }
        body
      }
    }
  }

  @volatile private var snap: Snapshot = _
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val misses = new java.util.concurrent.atomic.AtomicLong
  private val staleRefreshes = new java.util.concurrent.atomic.AtomicLong

  /** Stored-answer count of the current snapshot (at most
    * HttpEdge.MaxAnswers; an answer over the character budget is not
    * stored) — exposed for tests/monitoring, as is GET /metrics. */
  def cachedPlans: Int = Option(snap).fold(0)(_.stored._1)

  /** Serve the current warehouse from now on: one atomic swap to a new
    * snapshot (fresh table listings, the balance MV's CURRENT pointer
    * re-resolved, an empty answer cache). Between refreshes the edge
    * serves one pinned, immutable MV version, so a sync publishing
    * mid-request can never yank files from a running scan — the
    * swap-while-serving contract, deployed.
    */
  def refresh(): Unit = snap = new Snapshot

  /** Answer `key` from the current snapshot. A sync pass replaces the
    * account table (write-new-then-swap) and retires old MV versions, so
    * files a snapshot pinned can vanish before the next refresh(); an
    * answer whose build fails on them refreshes once (unless a concurrent
    * request already did) and is built again on the new snapshot. A stored
    * answer reads no file, so it stays its snapshot's answer until
    * refresh(), as the contract says.
    */
  private def serve(key: String)(build: Snapshot => String): String = {
    val s = snap
    try s.answer(key)(build(s))
    catch {
      case e: Throwable if filesGone(e) =>
        synchronized {
          if (snap eq s) { refresh(); staleRefreshes.incrementAndGet() }
        }
        val fresh = snap
        fresh.answer(key)(build(fresh))
    }
  }

  private def filesGone(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      case t: SparkThrowable =>
        String.valueOf(t.getCondition).startsWith("FAILED_READ_FILE.FILE_NOT_EXIST")
      case _ => false
    }

  // ---- balance-MV rewrite on the serving path --------------------------
  //
  // M10 deployed: when the sync pass maintained `$warehouseDir/balances`
  // (Warehouse.sync does on every transfer-appending pass), the current
  // snapshot's BalanceMvRewrite answers the declarative full-lake balance
  // report (`/balances`, GraphQL `balances`) as a scan of |accounts|
  // pre-aggregated rows instead of aggregating the transfer lake per
  // request. extraOptimizations is the runtime form of the cluster
  // deployment (`spark.sql.extensions=graft.functions.GraftExtensions` +
  // the spark.graft.balance.{mv,lake}Path confs — GraftExtensions injects
  // the same conf-bound rule at session build). This one rule, installed
  // from start() to stop(), delegates to the snapshot: refresh() swaps the
  // MV version with everything else. Scoped point lookups and pages keep
  // their balanceOf/balancesFor plans (the rule declines subset aggregates).
  private val mvRewrite = new Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      Option(snap).flatMap(_.mv).fold(plan)(_(plan))
  }

  /** Injective key: components are re-encoded so decoded values containing
    * '&'/'=' cannot collide with genuinely distinct parameter sets.
    */
  private def cacheKey(path: String, p: Map[String, String]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    p.toSeq.sorted.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString(s"$path?", "&", "")
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  /** Small fixed pool — the analog of the reference's bounded DB
    * connection pool. Each request runs read-only plans against a shared
    * SparkSession (thread-safe); the pool bounds how many Spark jobs the
    * edge can have in flight, backpressuring HTTP instead of flooding the
    * scheduler.
    */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors()))

  /** Bound port (useful when constructed with port 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  private def params(ex: HttpExchange): Map[String, String] = {
    def decode(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      decode(k) -> decode(v)
    }.toMap
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(path: String)(f: Map[String, String] => String): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try respond(ex, 200, f(params(ex)))
      catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":${GraphQL.jstr(e.getMessage)}}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":${GraphQL.jstr(e.toString)}}""")
      })

  /** A cached REST route: the answer is the frame `df` builds on the
    * snapshot, collected as a JSON array.
    */
  private def rest(path: String)(df: (Snapshot, Map[String, String]) => DataFrame): Unit =
    handle(path) { p =>
      serve(cacheKey(path, p))(s => df(s, p).toJSON.collect().mkString("[", ",", "]"))
    }

  private def required(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(s"missing arg: $k"))

  /** Cursor pagination contract, same as the GraphQL edge: a nonzero
    * offset next to `after` is a 400, never a silently-ignored parameter.
    */
  private def noOffsetWithAfter(p: Map[String, String]): Unit =
    if (p.get("offset").exists(_ != "0"))
      throw new IllegalArgumentException("offset must be 0 (or absent) when after is set")

  /** Status accepts the GraphQL enum word or the numeric code
    * (GraphQLService.scala:38-59). */
  private def parseStatus(s: String): Int = s match {
    case "committed" => 1
    case "rollbacked" => 2
    case "promised" => 0
    case n => n.toInt
  }

  /** GraphQL endpoint (GraphQLRouter.scala:14-64): POST /graphql with a
    * JSON body {query, operationName, variables} (array-wrapped bodies
    * accepted, :38-44) and GET /graphql?query=&operation=. Error mapping
    * follows RootRouter.scala:22-41 — syntax errors and query-analysis
    * errors are 400s carrying the source position. Responses share the
    * snapshot's answer cache, keyed per (document, operation, variables).
    */
  private def handleGraphql(ex: HttpExchange): Unit =
    try {
      val (query, opName, vars) = ex.getRequestMethod match {
        case "POST" =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          parseGraphqlBody(body)
        case "GET" =>
          val p = params(ex)
          (p.getOrElse("query", throw new IllegalArgumentException("missing arg: query")),
            p.get("operation"), Map.empty[String, Any])
        case m =>
          throw new IllegalArgumentException(s"unsupported method $m")
      }
      // variable names cannot contain '.', so "var." keys never collide
      // with the document and operation components
      val key = cacheKey("/graphql",
        vars.map { case (k, v) => s"var.$k" -> String.valueOf(v) } ++
          Map("query" -> query, "operation" -> opName.getOrElse("")))
      respond(ex, 200,
        serve(key)(s => s.graphql.renderResponse(s.graphql.plans(query, opName, vars))))
    } catch {
      case GraphQL.SyntaxError(msg, line, col) =>
        respond(ex, 400,
          s"""{"syntaxError":${GraphQL.jstr(s"Syntax error while parsing GraphQL query. Invalid input, $msg")},""" +
            s""""locations":[{"line":$line,"column":$col}]}""")
      case GraphQL.AnalysisError(msg, line, col) =>
        respond(ex, 400,
          s"""{"errors":[{"message":${GraphQL.jstr(msg)},"locations":[{"line":$line,"column":$col}]}]}""")
      case e: IllegalArgumentException =>
        respond(ex, 400, s"""{"error":${GraphQL.jstr(e.getMessage)}}""")
      case e: Throwable =>
        respond(ex, 500, s"""{"error":${GraphQL.jstr(e.toString)}}""")
    }

  /** {query, operationName, variables} out of the POST body; a JSON array
    * body contributes its first element (GraphQLRouter.scala:38-44).
    */
  private def parseGraphqlBody(body: String): (String, Option[String], Map[String, Any]) = {
    import com.fasterxml.jackson.databind.JsonNode
    val root =
      try HttpEdge.Json.readTree(body)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"request body is not JSON: ${e.getMessage}") }
    val obj = if (root != null && root.isArray && root.size > 0) root.get(0) else root
    if (obj == null || !obj.isObject)
      throw new IllegalArgumentException("request body must be a JSON object")
    val query = Option(obj.get("query")).filter(_.isTextual).map(_.asText)
      .getOrElse(throw new IllegalArgumentException("missing field: query"))
    val opName = Option(obj.get("operationName")).filter(_.isTextual).map(_.asText)
    val vars: Map[String, Any] = Option(obj.get("variables")).filter(_.isObject) match {
      case None => Map.empty
      case Some(v) =>
        val it = v.fields()
        val b = Map.newBuilder[String, Any]
        while (it.hasNext) {
          val e = it.next()
          val value: Any = e.getValue match {
            case n: JsonNode if n.isNull => null
            case n: JsonNode if n.isTextual => n.asText
            case n: JsonNode if n.isIntegralNumber => n.asLong
            case n: JsonNode if n.isNumber => BigDecimal(n.decimalValue)
            case n: JsonNode if n.isBoolean => n.asBoolean
            case n: JsonNode => n.toString
          }
          b += e.getKey -> value
        }
        b.result()
    }
    (query, opName, vars)
  }

  private def transferArgs(p: Map[String, String]): Api.TransferArgs = {
    // malformed user input must surface as a 400, not a 500
    def arg[T](k: String)(parse: String => T): Option[T] =
      p.get(k).map { v =>
        try parse(v)
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"bad $k: ${e.getMessage}")
        }
      }
    def dec(k: String) = arg(k)(BigDecimal(_))
    def ts(k: String) = arg(k)(v =>
      java.sql.Timestamp.from(java.time.Instant.parse(v)))
    Api.TransferArgs(
      currency = p.get("currency"),
      status = p.get("status").map(parseStatus),
      amountLt = dec("amount_lt"), amountLte = dec("amount_lte"),
      amountGt = dec("amount_gt"), amountGte = dec("amount_gte"),
      valueDateLt = ts("value_date_lt"), valueDateLte = ts("value_date_lte"),
      valueDateGt = ts("value_date_gt"), valueDateGte = ts("value_date_gte"))
  }


  def start(): HttpEdge = {
    handle("/metrics") { _ =>
      val (answers, chars) = snap.stored
      s"""{"answers":$answers,"chars":$chars,"hits":${hits.get},""" +
        s""""misses":${misses.get},"stale_refreshes":${staleRefreshes.get}}"""
    }
    handle("/health") { _ =>
      val ok =
        try Api.tenants(snap.tenant, limit = 1, offset = 0).count() >= 0
        catch { case _: Throwable => false }
      s"""{"healthy":$ok,"graphql":$ok}"""
    }
    rest("/tenants") { (s, p) =>
      // `after=<name>` switches to keyset pagination (O(page) deep scans)
      p.get("after") match {
        case a @ Some(_) =>
          noOffsetWithAfter(p)
          Api.tenantsAfter(s.tenant, a, p.getOrElse("limit", "100").toLong)
        case None => Api.tenants(s.tenant,
          p.getOrElse("limit", "100").toLong, p.getOrElse("offset", "0").toLong)
      }
    }
    rest("/tenant") { (s, p) => Api.tenant(s.tenant, required(p, "name")) }
    rest("/accounts") { (s, p) =>
      // page on the raw account table, join balances ONCE on the page
      // (feeding the balance join into the filter input would compute the
      // full aggregation twice per request)
      // `after=<name>` switches to keyset pagination, like /transfers
      val page = p.get("after") match {
        case a @ Some(_) =>
          noOffsetWithAfter(p)
          Api.accountsAfter(s.account, required(p, "tenant"),
            currency = p.get("currency"), format = p.get("format"),
            after = a, limit = p.getOrElse("limit", "100").toLong)
        case None => Api.accounts(s.account, required(p, "tenant"),
          currency = p.get("currency"), format = p.get("format"),
          limit = p.getOrElse("limit", "100").toLong,
          offset = p.getOrElse("offset", "0").toLong)
      }
      // balancesFor scopes the aggregate to the page's accounts
      page.join(Warehouse.balancesFor(s.transfer, page),
        Seq("tenant", "name"), "left")
        .withColumn("balance",
          coalesce(col("balance"), lit(0).cast("decimal(38,18)")).cast("double"))
        .orderBy("name")
    }
    rest("/account") { (s, p) =>
      val t = required(p, "tenant"); val n = required(p, "name")
      // point lookup: Warehouse.balanceOf pushes the credit/debit
      // disjunction into the transfer scan (the page route's shared
      // balance aggregate would scan every transfer for one account)
      Api.account(
        s.account
          .join(Warehouse.balanceOf(s.transfer, t, n),
            Seq("tenant", "name"), "left")
          .withColumn("balance",
            coalesce(col("balance"), lit(0).cast("decimal(38,18)")).cast("double"))
          .select("tenant", "name", "currency", "format", "balance"),
        t, n)
    }
    rest("/transfers")(transfersDf)
    // the full per-tenant balance report (extension §2x): the declarative
    // lake aggregate with the tenant filter ABOVE it (on its grouping key),
    // so the snapshot's MV rewrite (see mvRewrite) answers it as a filtered
    // MV scan — the one route that would otherwise aggregate the whole
    // transfer lake per request
    rest("/balances") { (s, p) =>
      Warehouse.balances(Warehouse.balanceChanges(s.transfer))
        .filter(col("tenant") === lit(required(p, "tenant")))
        .withColumn("balance", col("balance").cast("double"))
        .orderBy("name")
    }
    server.createContext("/graphql", (ex: HttpExchange) => handleGraphql(ex))
    // the reference serves a GraphiQL UI next to the endpoint
    // (GraphQLRouter.scala:66-73); self-contained equivalent, no CDN assets
    server.createContext("/graphiql", (ex: HttpExchange) => {
      val bytes = HttpEdge.GraphiqlHtml.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    // a small pool instead of serial dispatch: plans are read-only and
    // SparkSession actions are thread-safe; concurrent requests become
    // concurrent Spark jobs (FIFO-scheduled). Pool ≈ the reference's DB
    // connection pool, not one-thread-per-request.
    server.setExecutor(pool)
    refresh()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ mvRewrite
    server.start()
    this
  }

  private def transfersDf(s: Snapshot, p: Map[String, String]): DataFrame = {
    // `after=<transaction>,<transfer>` switches to keyset pagination —
    // the O(page) path for deep scans (offset stays for parity with the
    // reference's drop/take)
    val page = p.get("after") match {
        case Some(cursor) =>
          noOffsetWithAfter(p)
          val cur = cursor.split(",", 2) match {
            case Array(tx, tr) => (tx, tr)
            case _ => throw new IllegalArgumentException(
              "after must be <transaction>,<transfer>")
          }
          Api.transfersAfter(s.transfer, required(p, "tenant"),
            transferArgs(p), after = Some(cur),
            limit = p.getOrElse("limit", "100").toLong)
        case None =>
          Api.transfers(s.transfer, required(p, "tenant"),
            transferArgs(p),
            limit = p.getOrElse("limit", "100").toLong,
            offset = p.getOrElse("offset", "0").toLong)
      }
    val out =
      if (p.get("resolve").contains("true")) {
        // balance aggregation scoped to the page's credit/debit accounts
        val keys = page
          .select(col("credit_tenant").as("tenant"), col("credit_name").as("name"))
          .unionByName(page
            .select(col("debit_tenant").as("tenant"), col("debit_name").as("name")))
        Api.transfersResolved(page, s.account,
          Warehouse.balancesFor(s.transfer, keys))
          .withColumn("credit_balance", col("credit_balance").cast("double"))
          .withColumn("debit_balance", col("debit_balance").cast("double"))
      }
      else page.withColumn("status_word", Api.statusWord(col("status")))
    // joins do not preserve the page's sort order — reassert it so the
    // last JSON row is a valid keyset cursor for the next page
    out.withColumn("amount", col("amount").cast("double"))
      .orderBy("transaction", "transfer")
  }

  def stop(): Unit = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq mvRewrite)
    server.stop(0)
    pool.shutdown()
  }
}

object HttpEdge {
  /** Most answers one snapshot stores. */
  val MaxAnswers = 256

  /** Most characters (keys + bodies) one snapshot stores: 32 MiB. */
  val AnswerBudgetChars: Long = 32L << 20

  /** readTree is thread-safe: one mapper serves every POST. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Minimal self-contained query console (the reference ships GraphiQL,
    * GraphQLRouter.scala:66-73; this needs no bundled JS assets).
    */
  private[api] val GraphiqlHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft graphql</title><style>
      |body{font-family:monospace;margin:1rem;display:flex;gap:1rem;height:90vh}
      |textarea,pre{flex:1;padding:.5rem;border:1px solid #888;overflow:auto}
      |button{position:fixed;top:.3rem;right:1rem}
      |</style></head><body>
      |<textarea id="q">query {
      |  tenants(limit: 10, offset: 0) { name }
      |}</textarea>
      |<pre id="out">ctrl-enter or Run</pre>
      |<button onclick="run()">Run</button>
      |<script>
      |async function run(){
      |  const r = await fetch('/graphql', {method:'POST',
      |    headers:{'Content-Type':'application/json'},
      |    body: JSON.stringify({query: document.getElementById('q').value,
      |                          variables: null, operationName: null})});
      |  const t = await r.text();
      |  let out = t;
      |  try { out = JSON.stringify(JSON.parse(t), null, 2) } catch (e) {}
      |  document.getElementById('out').textContent = r.status + '\n' + out;
      |}
      |document.getElementById('q').addEventListener('keydown', e => {
      |  if (e.ctrlKey && e.key === 'Enter') run();
      |});
      |</script></body></html>""".stripMargin
}
