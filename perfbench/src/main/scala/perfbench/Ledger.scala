package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** A seeded generator of openbank journal trees plus the independent
  * ledger the benchmark checks every answer against.
  *
  * The ledger is plain Scala collections: it never calls the program, so a
  * wrong balance, page or count in the warehouse cannot also be wrong here.
  * Amounts are whole cents; balances are the sum of committed transfers,
  * +amount on the credit side and -amount on the debit side.
  */
object Ledger {
  final case class Account(tenant: String, name: String, currency: String, format: String)
  final case class Transfer(tenant: String, transaction: String, transfer: String,
      status: Int, credit: String, debit: String, cents: Long, currency: String,
      valueDate: String) {
    def key: (String, String) = (transaction, transfer)
    def amount: BigDecimal = BigDecimal(cents, 2)
  }
  /** The counts a sync pass over one delta must report (Warehouse.SyncStats). */
  final case class Expected(tenants: Long, accounts: Long, transfers: Long)

  val Currencies: Vector[String] = Vector("CZK", "EUR", "USD")
  val Formats: Vector[String] = Vector("FMTA", "FMTB")
  private val Epoch = java.time.Instant.parse("2020-01-01T00:00:00Z").getEpochSecond

  def version(v: Int): String = f"$v%010d"
}

/** Mutable journal + ledger. `write` methods put files under `root`; each
  * returns what a sync pass over the new files must discover.
  */
final class Ledger(seed: Long, root: Path) {
  import Ledger._

  private val rnd = new java.util.SplittableRandom(seed)
  val accounts = mutable.LinkedHashMap.empty[(String, String), Account]
  val tenants = mutable.LinkedHashSet.empty[String]
  private val snapshot = mutable.HashMap.empty[(String, String), Int]
  private val nextEvent = mutable.HashMap.empty[(String, String), Int]
  val balance = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
  /** Per tenant, every transfer ordered by (transaction, transfer). */
  val transfers = mutable.HashMap.empty[String, mutable.TreeMap[(String, String), Transfer]]
  private var txCounter = 0
  private var acctCounter = 0
  var files = 0L

  private def put(rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    files += 1
  }

  def tenantAccounts(t: String): Vector[Account] =
    accounts.valuesIterator.filter(_.tenant == t).toVector.sortBy(_.name)

  def tenantTransfers(t: String): Iterable[Transfer] =
    transfers.getOrElse(t, mutable.TreeMap.empty[(String, String), Transfer]).values

  def accountsWithCommitted(t: String): Set[String] =
    tenantTransfers(t).iterator.filter(_.status == 1)
      .flatMap(x => Iterator(x.credit, x.debit)).toSet

  private def newTenant(): String = {
    val t = f"T${tenants.size}%02d"
    tenants += t
    Files.createDirectories(root.resolve(s"t_$t"))
    t
  }

  private def newAccount(t: String): Account = {
    acctCounter += 1
    val a = Account(t, f"A$acctCounter%06d", Currencies(rnd.nextInt(Currencies.size)),
      Formats(rnd.nextInt(Formats.size)))
    accounts((t, a.name)) = a
    snapshot((t, a.name)) = 0
    nextEvent((t, a.name)) = 1
    put(s"t_$t/account/${a.name}/snapshot/${version(0)}", s"${a.currency} ${a.format}_T\n")
    a
  }

  /** Move an account to a fresh snapshot; its event versions restart. */
  private def rotate(a: Account): Unit = {
    val k = (a.tenant, a.name)
    snapshot(k) += 1
    nextEvent(k) = 1
    put(s"t_${a.tenant}/account/${a.name}/snapshot/${version(snapshot(k))}",
      s"${a.currency} ${a.format}_T\n")
  }

  private def event(a: Account, status: Int, dir: Int, tx: String): Unit = {
    val k = (a.tenant, a.name)
    val v = nextEvent(k)
    nextEvent(k) = v + 1
    put(s"t_${a.tenant}/account/${a.name}/events/${version(snapshot(k))}/${status}_${dir}_$tx",
      s"$v\n")
  }

  /** Skewed pick: the low indexes of `xs` are drawn far more often. */
  def skewed[T](xs: IndexedSeq[T], r: java.util.SplittableRandom = rnd): T = {
    val u = r.nextDouble()
    xs(math.min(xs.size - 1, (xs.size * u * u * u).toInt))
  }

  /** One transaction of 1-2 transfers inside tenant `t`; ~10% rollbacked. */
  private def transaction(t: String, pool: IndexedSeq[Account]): Seq[Transfer] = {
    txCounter += 1
    val tx = f"X$txCounter%08d"
    val status = if (rnd.nextInt(10) == 0) 2 else 1
    val n = if (rnd.nextInt(5) == 0) 2 else 1
    val trs = (1 to n).map { i =>
      val credit = skewed(pool)
      var debit = pool(rnd.nextInt(pool.size))
      while (debit.name == credit.name) debit = pool(rnd.nextInt(pool.size))
      val date = java.time.Instant.ofEpochSecond(Epoch + rnd.nextLong(3L * 365 * 86400))
      Transfer(t, tx, s"R$i", status, credit.name, debit.name, 1 + rnd.nextLong(250000),
        credit.currency, date.toString)
    }
    val word = if (status == 1) "committed" else "rollbacked"
    put(s"t_$t/transaction/$tx", trs.map { x =>
      s"${x.transfer} $t ${x.credit} $t ${x.debit} ${x.valueDate} ${x.amount.bigDecimal.toPlainString} ${x.currency}"
    }.mkString(s"$word\n", "\n", "\n"))
    val sides = trs.flatMap(x => Seq((x.credit, 1), (x.debit, -1))).distinct
    sides.foreach { case (name, dir) => event(accounts((t, name)), status, dir, tx) }
    trs.foreach { x =>
      transfers.getOrElseUpdate(t, mutable.TreeMap.empty)(x.key) = x
      if (x.status == 1) {
        balance((t, x.credit)) += x.cents
        balance((t, x.debit)) -= x.cents
      }
    }
    trs
  }

  /** The base journal: `nTenants` tenants, `nAccounts` accounts spread over
    * them, and about `nTransfers` transfers. */
  def base(nTenants: Int, nAccounts: Int, nTransfers: Int): Expected = {
    (1 to nTenants).foreach(_ => newTenant())
    val ts = tenants.toVector
    (0 until nAccounts).foreach(i => newAccount(ts(i % ts.size)))
    val pools = ts.map(t => t -> tenantAccounts(t)).toMap
    var made = 0
    while (made < nTransfers) {
      val t = ts(rnd.nextInt(ts.size))
      made += transaction(t, pools(t)).size
    }
    Expected(nTenants, nAccounts, made)
  }

  /** A delta of about `nTransfers` transfers: a few new accounts, a few
    * snapshot rotations, rollbacked transfers among the rest, and (when
    * `addTenant`) one new tenant with its own accounts. Returns the counts
    * a sync pass must report and the accounts the delta touched.
    */
  def delta(nTransfers: Int, addTenant: Boolean): (Expected, Vector[(String, String)]) = {
    val newT = if (addTenant) Seq(newTenant()) else Seq.empty
    val ts = tenants.toVector
    var nAcc = 0
    newT.foreach { t => (1 to 4).foreach { _ => newAccount(t); nAcc += 1 } }
    ts.foreach { t =>
      if (rnd.nextInt(2) == 0) { newAccount(t); nAcc += 1 }
      val pool = tenantAccounts(t)
      (1 to 2).foreach(_ => rotate(pool(rnd.nextInt(pool.size))))
    }
    val pools = ts.map(t => t -> tenantAccounts(t)).toMap
    val touched = mutable.LinkedHashSet.empty[(String, String)]
    var made = 0
    while (made < nTransfers) {
      val t = ts(rnd.nextInt(ts.size))
      val trs = transaction(t, pools(t))
      made += trs.size
      trs.filter(_.status == 1).foreach { x => touched += ((t, x.credit)); touched += ((t, x.debit)) }
    }
    (Expected(newT.size, nAcc, made), touched.toVector)
  }
}
