package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.JsonNode
import perfbench.Http._
import perfbench.Ledger.Transfer

/** The serve phase's request mix over a fixed ledger, with the expected answer
  * of every request computed from the ledger alone.
  *
  * Every client walks the same fixed cycle of route kinds, so the share of
  * each kind is identical for every seed; the seed only chooses arguments.
  * Alternate slots draw from a hot set of at most 64 request shapes (well
  * under the edge's 256-entry plan cache); the others carry arguments no
  * earlier request used, so they miss the cache.
  */
final class Routes(ledger: Ledger, seed: Long) {
  import Routes._

  private val tenants = ledger.tenants.toVector
  private val accounts = tenants.map(t => t -> ledger.tenantAccounts(t)).toMap
  private val transfers = tenants.map(t => t -> ledger.tenantTransfers(t).toVector).toMap
  private val committed = tenants.map(t => t -> ledger.accountsWithCommitted(t)).toMap
  private val unique = new AtomicLong(0)
  private val coldOrder: Vector[Ledger.Account] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val xs = ledger.accounts.values.toArray
    for (i <- xs.indices.reverse) {
      val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs.toVector
  }

  /** The hot set: HotPerKind shapes of every kind, with skewed account keys. */
  val hot: Map[String, Vector[Req]] = {
    val r = new SplittableRandom(seed)
    Kinds.distinct.map(k => k -> Vector.fill(HotPerKind)(make(k, hot = true, r))).toMap
  }

  /** The request of cycle `cycle`, slot `slot` for a client drawing from `r`. */
  def next(r: SplittableRandom, cycle: Long, slot: Int): Req = {
    val kind = Kinds(slot % Kinds.size)
    if ((slot + cycle) % 2 == 0) hot(kind)(r.nextInt(HotPerKind)) else make(kind, hot = false, r)
  }

  private def tenantOf(r: SplittableRandom) = tenants(r.nextInt(tenants.size))

  private def make(kind: String, hot: Boolean, r: SplittableRandom): Req = kind match {
    case "tenant" =>
      // cold lookups ask for tenants that do not exist: there are too few
      // real tenants for unique arguments, and an empty answer is checked too
      val t = if (hot) tenantOf(r) else f"U${unique.incrementAndGet()}%06d"
      val want = if (tenants.contains(t)) Vector(t) else Vector.empty
      Req(kind, hot, s"/tenant?name=$t", None, n => {
        val got = rows(n).map(str(_, "name"))
        if (got != want) fail("tenant", got, want) else None
      })

    case "account" =>
      val a =
        if (hot) { val t = tenantOf(r); ledger.skewed(accounts(t), r) }
        else coldOrder((unique.incrementAndGet() % coldOrder.size).toInt)
      Req(kind, hot, s"/account?tenant=${a.tenant}&name=${a.name}", None,
        n => checkAccounts(rows(n), Vector(a), a.tenant))

    case "accounts_offset" | "accounts_keyset" =>
      val t = tenantOf(r)
      val all = accounts(t)
      val limit = Limits(r.nextInt(Limits.size))
      if (kind == "accounts_offset") {
        val off = r.nextInt(all.size)
        Req(kind, hot, s"/accounts?tenant=$t&limit=$limit&offset=$off", None,
          n => checkAccounts(rows(n), all.slice(off, off + limit), t))
      } else {
        val after = all(r.nextInt(all.size)).name
        Req(kind, hot, s"/accounts?tenant=$t&limit=$limit&after=$after", None,
          n => checkAccounts(rows(n), all.filter(_.name > after).take(limit), t))
      }

    case "transfers_offset" | "transfers_keyset" | "transfers_filtered" | "transfers_resolve" =>
      val t = tenantOf(r)
      val all = transfers(t)
      val limit = Limits(r.nextInt(Limits.size))
      kind match {
        case "transfers_offset" =>
          val off = r.nextInt(all.size)
          transferReq(kind, hot, s"/transfers?tenant=$t&limit=$limit&offset=$off",
            all.slice(off, off + limit), resolve = false)
        case "transfers_keyset" =>
          val c = all(r.nextInt(all.size)).key
          transferReq(kind, hot,
            s"/transfers?tenant=$t&limit=$limit&after=${c._1},${c._2}",
            all.iterator.filter(x => Ordering[(String, String)].gt(x.key, c)).take(limit).toVector,
            resolve = false)
        case "transfers_filtered" =>
          val status = if (r.nextInt(4) == 0) 2 else 1
          val gte = 1 + r.nextLong(200000)
          val lt = java.time.Instant.parse("2020-06-01T00:00:00Z")
            .plusSeconds(r.nextLong(2L * 365 * 86400))
          val want = all.filter(x => x.status == status && x.cents >= gte &&
            java.time.Instant.parse(x.valueDate).isBefore(lt)).take(limit)
          transferReq(kind, hot,
            s"/transfers?tenant=$t&limit=$limit&status=${if (status == 1) "committed" else "rollbacked"}" +
              s"&amount_gte=${BigDecimal(gte, 2).bigDecimal.toPlainString}&value_date_lt=$lt",
            want, resolve = false)
        case _ =>
          val off = r.nextInt(all.size)
          transferReq(kind, hot, s"/transfers?tenant=$t&limit=10&offset=$off&resolve=true",
            all.slice(off, off + 10), resolve = true)
      }

    case "balances" =>
      val t = if (hot) tenantOf(r) else f"U${unique.incrementAndGet()}%06d"
      val want = committed.getOrElse(t, Set.empty).toVector.sorted
      Req(kind, hot, s"/balances?tenant=$t", None, n => {
        val got = rows(n)
        if (got.map(str(_, "name")) != want) fail(s"balances $t rows", got.size, want.size)
        else all(got.iterator.map { x =>
          val cents = ledger.balance((t, str(x, "name")))
          if (!sameMoney(dec(x, "balance"), cents)) fail(s"balance ${str(x, "name")}", dec(x, "balance"), cents)
          else None
        })
      })

    case "gql_accounts" =>
      val t = tenantOf(r)
      val all = accounts(t)
      val limit = Limits(r.nextInt(Limits.size))
      val off = r.nextInt(all.size)
      val want = all.slice(off, off + limit)
      Req(kind, hot, "/graphql",
        Some(s"""{ accounts(tenant: "$t", limit: $limit, offset: $off) { name currency balance } }"""),
        n => {
          val got = rows(n.path("data").path("accounts"))
          if (got.map(str(_, "name")) != want.map(_.name)) fail("gql accounts", got.map(str(_, "name")), want.map(_.name))
          else Http.all(got.iterator.zip(want.iterator).map { case (x, a) =>
            if (str(x, "currency") != a.currency) fail("currency", str(x, "currency"), a.currency)
            else exactMoney(dec(x, "balance"), ledger.balance((t, a.name)), a.name)
          })
        })

    case "gql_transfers" =>
      val t = tenantOf(r)
      val all = transfers(t)
      val limit = Limits(r.nextInt(Limits.size))
      val off = r.nextInt(all.size)
      val want = all.slice(off, off + limit)
      Req(kind, hot, "/graphql",
        Some(s"""{ transfers(tenant: "$t", limit: $limit, offset: $off) { transaction transfer amount credit { name balance } } }"""),
        n => {
          val got = rows(n.path("data").path("transfers"))
          if (got.map(k => (str(k, "transaction"), str(k, "transfer"))) != want.map(_.key))
            fail("gql transfers keys", got.size, want.size)
          else Http.all(got.iterator.zip(want.iterator).map { case (x, w) =>
            val c = x.path("credit")
            if (dec(x, "amount") != w.amount) fail("gql amount", dec(x, "amount"), w.amount)
            else if (str(c, "name") != w.credit) fail("gql credit", str(c, "name"), w.credit)
            else exactMoney(dec(c, "balance"), ledger.balance((t, w.credit)), w.credit)
          })
        })
  }

  private def exactMoney(got: BigDecimal, cents: Long, who: String): Option[String] =
    if (got == null || got != BigDecimal(cents, 2)) fail(s"balance $who", got, BigDecimal(cents, 2))
    else None

  private def checkAccounts(got: Vector[JsonNode], want: Vector[Ledger.Account],
      t: String): Option[String] =
    if (got.map(str(_, "name")) != want.map(_.name)) fail(s"accounts of $t", got.map(str(_, "name")), want.map(_.name))
    else Http.all(got.iterator.zip(want.iterator).map { case (x, a) =>
      val cents = ledger.balance((t, a.name))
      if (str(x, "tenant") != t) fail("tenant", str(x, "tenant"), t)
      else if (str(x, "currency") != a.currency || str(x, "format") != a.format)
        fail(s"account ${a.name}", (str(x, "currency"), str(x, "format")), (a.currency, a.format))
      else if (!sameMoney(dec(x, "balance"), cents)) fail(s"balance ${a.name}", dec(x, "balance"), cents)
      else None
    })

  private def transferReq(kind: String, hot: Boolean, path: String, want: Vector[Transfer],
      resolve: Boolean): Req =
    Req(kind, hot, path, None, n => Routes.checkTransfers(rows(n), want, ledger, resolve))
}

object Routes {
  /** One cycle of the route mix: point lookups, offset and keyset pages,
    * filtered and resolved transfers, the MV-answered balance report and
    * nested GraphQL. */
  val Kinds: Vector[String] = Vector(
    "account", "transfers_keyset", "tenant", "accounts_offset", "account",
    "transfers_filtered", "gql_accounts", "transfers_offset", "account", "balances",
    "transfers_keyset", "accounts_keyset", "transfers_resolve", "account",
    "gql_transfers", "tenant")
  val HotPerKind = 2
  private val Limits = Vector(5, 10, 20)

  /** A transfers page must be exactly `want`: same keys in order (so never
    * longer than the limit, and strictly after a keyset cursor), amounts,
    * statuses and parties; resolved pages also carry both balances. */
  def checkTransfers(got: Vector[JsonNode], want: Vector[Transfer], ledger: Ledger,
      resolve: Boolean): Option[String] =
    if (got.map(k => (str(k, "transaction"), str(k, "transfer"))) != want.map(_.key))
      fail("transfer keys", got.map(k => (str(k, "transaction"), str(k, "transfer"))).take(3),
        want.map(_.key).take(3) :+ s"(${want.size} rows)")
    else Http.all(got.iterator.zip(want.iterator).map { case (x, w) =>
      if (!sameMoney(dec(x, "amount"), w.cents)) fail(s"amount ${w.key}", dec(x, "amount"), w.cents)
      else if (x.path("status").asInt != w.status) fail(s"status ${w.key}", x.path("status"), w.status)
      else if (str(x, "credit_name") != w.credit || str(x, "debit_name") != w.debit)
        fail(s"parties ${w.key}", (str(x, "credit_name"), str(x, "debit_name")), (w.credit, w.debit))
      else if (resolve && !sameMoney(dec(x, "credit_balance"), ledger.balance((w.tenant, w.credit))))
        fail(s"credit_balance ${w.key}", dec(x, "credit_balance"), ledger.balance((w.tenant, w.credit)))
      else if (resolve && !sameMoney(dec(x, "debit_balance"), ledger.balance((w.tenant, w.debit))))
        fail(s"debit_balance ${w.key}", dec(x, "debit_balance"), ledger.balance((w.tenant, w.debit)))
      else None
    })
}
