package graft.api

import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import graft.api.GraphQL._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Executes a parsed GraphQL operation against the warehouse tables by
  * compiling each root field into ONE Catalyst plan and rendering the
  * collected page as JSON in selection order.
  *
  * Schema = the reference's (GraphQLService.scala:207-292): root fields
  * `tenant tenants account accounts transfers`; account exposes
  * `tenant name format currency balance`; transfer exposes
  * `tenant transaction transfer status credit debit currency amount
  * valueDate`. Scalar coercions match GraphQLService.scala:19-78
  * (NaturalNumber, Status words queued/committed/rollbacked, ISO
  * DateTime).
  *
  * Where Sangria resolves nested fields in deferred Fetcher waves
  * (GraphQLService.scala:118-151 — one query wave per depth), here the
  * selection set decides the plan: `balance` requested → the balance
  * aggregate is joined in-plan; not requested → the plan never touches the
  * transfer table. `credit`/`debit` selections become left joins against
  * the account dimension. The N+1/batching problem Sangria's fetchers
  * solve disappears — a page is one distributed plan regardless of nesting.
  *
  * At 100 TB: point lookups (`account`, `tenant`) push literal predicates
  * into the scan, and every balance join is SCOPED — a point lookup uses
  * [[graft.warehouse.Warehouse.balanceOf]] (the credit/debit disjunction
  * reaches the transfer scan), pages and nested credit/debit resolution
  * use [[graft.warehouse.Warehouse.balancesFor]] (semi join below the
  * aggregate on the page's keys) — so no request ever aggregates every
  * account's balance to answer a bounded page.
  */
final class GraphQLExecutor(
    tenantTable: () => DataFrame,
    accountTable: () => DataFrame,
    transferTable: () => DataFrame) {

  /** One compiled root field: the plan, its JSON shape, list vs object.
    * `const` (root `__typename`) renders without executing `df`. */
  final case class RootPlan(outputName: String, df: DataFrame,
      nodes: List[Node], list: Boolean, const: Option[String] = None)

  sealed trait Node
  final case class Leaf(out: String, col: String, fmt: Any => String) extends Node
  /** Row-independent constant leaf — `__typename` on an object type. */
  final case class Const(out: String, value: String) extends Node
  /** Nested object; `presenceCol` null in a row ⇒ render JSON null
    * (Sangria's OptionType + deferOpt, GraphQLService.scala:158-162).
    */
  final case class Obj(out: String, presenceCol: Option[String],
      children: List[Node]) extends Node

  // ---- public API ------------------------------------------------------

  /** Full request → response-body JSON (the edge maps thrown
    * [[GraphQL.SyntaxError]]/[[GraphQL.AnalysisError]] to 400s).
    */
  def execute(doc: String, operationName: Option[String] = None,
      variables: Map[String, Any] = Map.empty): String =
    renderResponse(plans(doc, operationName, variables))

  /** Execute pre-compiled root plans (see [[plans]]) — lets an edge cache
    * the compiled plans per request shape and re-render per request.
    */
  def renderResponse(compiled: List[RootPlan]): String = {
    val parts = compiled.map { p =>
      val body = p.const match {
        case Some(v) => jstr(v)
        case None =>
          val rows = p.df.collect()
          if (p.list) rows.iterator.map(render(_, p.nodes)).mkString("[", ",", "]")
          else rows.headOption.map(render(_, p.nodes)).getOrElse("null")
      }
      jstr(p.outputName) + ":" + body
    }
    parts.mkString("{\"data\":{", ",", "}}")
  }

  /** Compile without executing — lets tests and plan caches inspect the
    * DataFrame each root field produces.
    */
  def plans(doc: String, operationName: Option[String] = None,
      variables: Map[String, Any] = Map.empty): List[RootPlan] = {
    val document = parse(doc)
    val picked = operation(document.operations, operationName)
    // @skip/@include run during field collection (inside resolveFragments):
    // an excluded spread still counts as a fragment REFERENCE, and an
    // excluded field never reaches plan compilation
    val op = resolveVariables(
      resolveFragments(document, picked, directiveFilter(picked, variables)),
      variables)
    op.selection.collect { case f: Field => f }.map(rootPlan)
  }

  // ---- root fields -----------------------------------------------------

  private def rootPlan(f: Field): RootPlan = f.name match {
    // the one introspection meta-field clients inject everywhere (Apollo
    // cache normalization, GraphiQL); full __schema introspection is out
    // of scope, and unknown __ fields still error below
    case "__typename" =>
      val c = constLeaf(f, "Query")
      // never-executed placeholder plan (renderResponse short-circuits on
      // const): an empty LocalRelation — building the tenant table here
      // would pay parquet-source analysis on every Apollo-style request
      // just to discard it
      RootPlan(f.outputName,
        org.apache.spark.sql.SparkSession.active.emptyDataFrame, List(c),
        list = false, const = Some(c.value))

    case "tenants" =>
      val a = new Args(f, Set("limit", "offset", "after"))
      // `after` switches to keyset pagination; offset loses its meaning
      // under a cursor, so a nonzero one is a caller error, not a silent no-op
      val df = a.strOpt("after") match {
        case cur @ Some(_) =>
          a.requireZeroOffset()
          Api.tenantsAfter(tenantTable(), cur, a.nat("limit"))
        case None => Api.tenants(tenantTable(), a.nat("limit"), a.nat("offset"))
      }
      RootPlan(f.outputName, df, tenantNodes(requireSel(f), "name"), list = true)

    case "tenant" =>
      val a = new Args(f, Set("name"))
      val df = Api.tenant(tenantTable(), a.str("name"))
      RootPlan(f.outputName, df, tenantNodes(requireSel(f), "name"), list = false)

    case "account" =>
      val a = new Args(f, Set("tenant", "name"))
      val (needBal, nodes) = accountNodes(requireSel(f), identity)
      val t = a.str("tenant"); val n = a.str("name")
      // point lookup: balance via Warehouse.balanceOf, whose explicit
      // credit/debit disjunction reaches the transfer SCAN — the generic
      // aggregate would leave the key filter above the stack() unpivot and
      // read every transfer for one account's balance
      val src =
        if (!needBal) accountBase
        else accountBase
          .join(graft.warehouse.Warehouse.balanceOf(transferTable(), t, n),
            Seq("tenant", "name"), "left")
          .withColumn("balance",
            coalesce(col("balance"), lit(0).cast(DecimalType(38, 18))))
      RootPlan(f.outputName, Api.account(src, t, n), nodes, list = false)

    case "accounts" =>
      val a = new Args(f, Set("tenant", "currency", "format", "limit", "offset", "after"))
      val (needBal, nodes) = accountNodes(requireSel(f), identity)
      val page = a.strOpt("after") match {
        case cur @ Some(_) =>
          a.requireZeroOffset()
          Api.accountsAfter(accountTable(), a.str("tenant"),
            currency = a.strOpt("currency"), format = a.strOpt("format"),
            after = cur, limit = a.nat("limit"))
        case None => Api.accounts(accountTable(), a.str("tenant"),
          currency = a.strOpt("currency"), format = a.strOpt("format"),
          limit = a.nat("limit"), offset = a.nat("offset"))
      }
      // balance joins against the PAGE (bounded by limit) and the
      // aggregate is SCOPED to the page's accounts (semi join below the
      // agg — Warehouse.balancesFor); the join re-sorts, so reassert the
      // pagination order
      val df =
        if (needBal)
          page.join(
            graft.warehouse.Warehouse.balancesFor(transferTable(), page),
            Seq("tenant", "name"), "left")
            .withColumn("balance",
              coalesce(col("balance"), lit(0).cast(DecimalType(38, 18))))
            .orderBy("name")
        else page
      RootPlan(f.outputName, df, nodes, list = true)

    // Reporting root (extension §2x, no reference analog): the FULL
    // per-account balance report for a tenant — the one query surface that
    // legitimately spells the lake-wide aggregate. Deliberately the
    // DECLARATIVE form (balances ∘ balanceChanges, tenant filter ABOVE the
    // aggregate on its grouping key): a serving session with the
    // BalanceMvRewrite rule installed (HttpEdge does when the sync pass
    // maintained `balances/`) answers it from |accounts| pre-aggregated
    // rows; without the rule the same plan falls back to the lake scan —
    // callers keep correctness either way, which is the MV contract.
    case "balances" =>
      val a = new Args(f, Set("tenant"))
      val t = a.str("tenant")
      val df = graft.warehouse.Warehouse.balances(
        graft.warehouse.Warehouse.balanceChanges(transferTable()))
        .filter(col("tenant") === lit(t))
        .orderBy("name")
      RootPlan(f.outputName, df, balanceNodes(requireSel(f)), list = true)

    case "transfers" =>
      val a = new Args(f, Set("tenant", "currency", "status",
        "amount_lt", "amount_lte", "amount_gt", "amount_gte",
        "valueDate_lt", "valueDate_lte", "valueDate_gt", "valueDate_gte",
        "limit", "offset"))
      val targs = Api.TransferArgs(
        currency = a.strOpt("currency"), status = a.statusOpt("status"),
        amountLt = a.decOpt("amount_lt"), amountLte = a.decOpt("amount_lte"),
        amountGt = a.decOpt("amount_gt"), amountGte = a.decOpt("amount_gte"),
        valueDateLt = a.tsOpt("valueDate_lt"), valueDateLte = a.tsOpt("valueDate_lte"),
        valueDateGt = a.tsOpt("valueDate_gt"), valueDateGte = a.tsOpt("valueDate_gte"))
      val page = Api.transfers(transferTable(), a.str("tenant"), targs,
        limit = a.nat("limit"), offset = a.nat("offset"))
      var df = page
      var joined = false
      val nodes = requireSel(f).map { c =>
        c.name match {
          case "__typename" => constLeaf(c, "transfer")
          case "tenant" => Obj(c.outputName, Some("tenant"),
            tenantNodes(requireSel(c), "tenant"))
          case "transaction" => leaf(c, "transaction", fmtString)
          case "transfer" => leaf(c, "transfer", fmtString)
          case "status" => leaf(c, "status", fmtStatus)
          case "currency" => leaf(c, "currency", fmtString)
          case "amount" => leaf(c, "amount", fmtDecimal)
          case "valueDate" => leaf(c, "value_date", fmtTimestamp)
          case side @ ("credit" | "debit") =>
            val (needBal, children) =
              accountNodes(requireSel(c), n => s"${side}_$n")
            // nested balances are scoped to the PAGE's credit/debit keys
            // (semi join below the aggregate, Warehouse.balancesFor) —
            // the full aggregate would compute every account's balance to
            // resolve a bounded page
            val dim =
              if (!needBal) accountBase
              else {
                val keys = page.select(
                  col(s"${side}_tenant").as("tenant"),
                  col(s"${side}_name").as("name"))
                accountBase
                  .join(graft.warehouse.Warehouse.balancesFor(transferTable(), keys),
                    Seq("tenant", "name"), "left")
                  .withColumn("balance",
                    coalesce(col("balance"), lit(0).cast(DecimalType(38, 18))))
              }
            val renamed = dim.toDF(dim.columns.map(n => s"${side}_$n"): _*)
              .withColumn(s"${side}_present", lit(true))
            df = df.join(renamed, Seq(s"${side}_tenant", s"${side}_name"), "left")
            joined = true
            Obj(c.outputName, Some(s"${side}_present"), children)
          case other =>
            throw AnalysisError(
              s"Field '$other' does not exist on type 'transfer'", c.line, c.column)
        }
      }
      // joins drop the page's sort; reassert the pagination total order
      if (joined) df = df.orderBy("transaction", "transfer")
      RootPlan(f.outputName, df, nodes, list = true)

    case other =>
      throw AnalysisError(s"Field '$other' does not exist on type 'Query'",
        f.line, f.column)
  }

  // ---- type shapes -----------------------------------------------------

  /** Core account columns; balance joins are built per root field so each
    * stays scoped (balanceOf for point lookups, balancesFor for pages).
    */
  private def accountBase: DataFrame =
    accountTable().select("tenant", "name", "currency", "format")

  /** account selection → (balance needed?, render nodes); `colOf` maps
    * logical account columns to their physical names (prefixed for the
    * credit_/debit_ joins).
    */
  private def accountNodes(sel: List[Field],
      colOf: String => String): (Boolean, List[Node]) = {
    var needBalance = false
    val nodes = sel.map { c =>
      c.name match {
        case "__typename" => constLeaf(c, "account")
        case "tenant" => Obj(c.outputName, Some(colOf("tenant")),
          tenantNodes(requireSel(c), colOf("tenant")))
        case "name" => leaf(c, colOf("name"), fmtString)
        case "format" => leaf(c, colOf("format"), fmtString)
        case "currency" => leaf(c, colOf("currency"), fmtString)
        case "balance" => needBalance = true; leaf(c, colOf("balance"), fmtDecimal)
        case other =>
          throw AnalysisError(
            s"Field '$other' does not exist on type 'account'", c.line, c.column)
      }
    }
    (needBalance, nodes)
  }

  /** `balances` row shape: (tenant, name, balance) — the pre-agg's own
    * columns, NOT the account dimension (no currency/format here). */
  private def balanceNodes(sel: List[Field]): List[Node] =
    sel.map { c =>
      c.name match {
        case "__typename" => constLeaf(c, "account_balance")
        case "tenant" => Obj(c.outputName, Some("tenant"),
          tenantNodes(requireSel(c), "tenant"))
        case "name" => leaf(c, "name", fmtString)
        case "balance" => leaf(c, "balance", fmtDecimal)
        case other =>
          throw AnalysisError(
            s"Field '$other' does not exist on type 'account_balance'",
            c.line, c.column)
      }
    }

  private def tenantNodes(sel: List[Field], nameCol: String): List[Node] =
    sel.map { c =>
      c.name match {
        case "__typename" => constLeaf(c, "tenant")
        case "name" => leaf(c, nameCol, fmtString)
        case other =>
          throw AnalysisError(
            s"Field '$other' does not exist on type 'tenant'", c.line, c.column)
      }
    }

  /** `__typename`: arguments and selections are both invalid on it. */
  private def constLeaf(f: Field, tpe: String): Const = {
    f.args.headOption.foreach(a => throw AnalysisError(
      s"Unknown argument '${a.name}' on field '__typename'", a.line, a.column))
    if (f.selection.nonEmpty)
      throw AnalysisError(
        s"Field '__typename' must not have a selection since its type has no fields",
        f.line, f.column)
    Const(f.outputName, tpe)
  }

  private def leaf(f: Field, col: String, fmt: Any => String): Leaf = {
    if (f.selection.nonEmpty)
      throw AnalysisError(
        s"Field '${f.name}' must not have a selection since its type has no fields",
        f.line, f.column)
    Leaf(f.outputName, col, fmt)
  }

  private def requireSel(f: Field): List[Field] = {
    val fields = f.fields
    // a selection set the directives emptied is a valid empty object ({}
    // per row); only a field that never HAD a selection set is the static
    // object-type-needs-subfields error
    if (fields.isEmpty && !f.selectionEmptiedByDirectives)
      throw AnalysisError(
        s"Field '${f.name}' of an object type must have a selection of subfields",
        f.line, f.column)
    fields
  }

  // ---- argument coercion (GraphQLService.scala:19-113) -----------------

  private final class Args(field: Field, allowed: Set[String]) {
    field.args.foreach { a =>
      if (!allowed(a.name))
        throw AnalysisError(
          s"Unknown argument '${a.name}' on field '${field.name}'", a.line, a.column)
    }
    field.args.groupBy(_.name).collect { case (n, as) if as.size > 1 => as(1) }
      .foreach(a => throw AnalysisError(
        s"Duplicate argument '${a.name}'", a.line, a.column))
    private val m = field.args.map(a => a.name -> a).toMap

    private def req(name: String): Argument =
      m.getOrElse(name, throw AnalysisError(
        s"Required argument '$name' missing on field '${field.name}'",
        field.line, field.column))
    private def bad(a: Argument, tpe: String) =
      throw AnalysisError(s"Argument '${a.name}' expected type '$tpe'", a.line, a.column)

    def str(name: String): String = req(name).value match {
      case VString(s) => s
      case _ => bad(req(name), "String!")
    }
    /** Cursor pagination: a nonzero `offset` next to `after` is a caller
      * error (the cursor already fixes the page start), surfaced at the
      * field position like every other argument error.
      */
    def requireZeroOffset(): Unit =
      if (nat("offset") != 0)
        throw AnalysisError(
          s"'offset' must be 0 when 'after' is set on field '${field.name}'",
          field.line, field.column)
    def strOpt(name: String): Option[String] = m.get(name).map { a =>
      a.value match { case VString(s) => s; case _ => bad(a, "String") }
    }
    /** NaturalNumber: non-negative integer (GraphQLService.scala:19-37).
      * Capped at Int.MaxValue — pagination flows into Dataset.limit/offset
      * (Int), and an unchecked Long would truncate into a negative limit.
      */
    def nat(name: String): Long = req(name).value match {
      case VInt(i) if i >= 0 && i <= Int.MaxValue => i
      case _ => bad(req(name), "NaturalNumber!")
    }
    /** Status words only, as the reference coerces (StringValue match,
      * GraphQLService.scala:47-52): queued→0, committed→1, rollbacked→2.
      */
    def statusOpt(name: String): Option[Int] = m.get(name).map { a =>
      a.value match {
        case VString("queued") => 0
        case VString("committed") => 1
        case VString("rollbacked") => 2
        case _ => bad(a, "Status")
      }
    }
    def decOpt(name: String): Option[BigDecimal] = m.get(name).map { a =>
      a.value match {
        case VInt(i) => BigDecimal(i)
        case VFloat(d) => d
        case VString(s) =>
          try BigDecimal(s) catch { case _: NumberFormatException => bad(a, "BigDecimal") }
        case _ => bad(a, "BigDecimal")
      }
    }
    /** ISO yyyy-mm-ddThh:mm:ss, optional trailing Z, always UTC
      * (GraphQLService.scala:62-78).
      */
    def tsOpt(name: String): Option[java.sql.Timestamp] = m.get(name).map { a =>
      a.value match {
        case VString(s) =>
          try java.sql.Timestamp.from(
            java.time.LocalDateTime.parse(s.stripSuffix("Z"))
              .toInstant(ZoneOffset.UTC))
          catch { case _: java.time.format.DateTimeParseException => bad(a, "DateTime") }
        case _ => bad(a, "DateTime")
      }
    }
  }

  // ---- JSON rendering --------------------------------------------------

  private def render(row: Row, nodes: List[Node]): String =
    nodes.iterator.map {
      case Leaf(out, c, fmt) =>
        val i = row.fieldIndex(c)
        jstr(out) + ":" + fmt(if (row.isNullAt(i)) null else row.get(i))
      case Const(out, v) =>
        jstr(out) + ":" + jstr(v)
      case Obj(out, presence, children) =>
        val present = presence.forall(p => !row.isNullAt(row.fieldIndex(p)))
        jstr(out) + ":" + (if (present) render(row, children) else "null")
    }.mkString("{", ",", "}")

  private val fmtString: Any => String = {
    case null => "null"
    case s => jstr(s.toString)
  }
  /** Enum words out, GraphQLService.scala:41-46. */
  private val fmtStatus: Any => String = {
    case null => "null"
    case n: Number => n.intValue match {
      case 0 => "\"queued\""; case 1 => "\"committed\""; case 2 => "\"rollbacked\""
      case _ => "\"\""
    }
    case other => jstr(other.toString)
  }
  /** BigDecimal as a JSON number without trailing zeros — the PUBLIC
    * reference stack's rendering (sangria's BigDecimalType via
    * spray-json renders 0E-18 as 0; the bbtest expectation
    * `"balance": 0` is type-strict). Naming the library here is
    * output-format documentation only — nothing links or imports it
    * (build.sbt carries Spark + test deps alone).
    */
  private val fmtDecimal: Any => String = {
    case null => "null"
    case d: java.math.BigDecimal => fmtDecimalJava(d)
    case d: BigDecimal => fmtDecimalJava(d.bigDecimal)
    case n: Number => n.toString
    case other => jstr(other.toString)
  }
  private def fmtDecimalJava(d: java.math.BigDecimal): String = {
    val p = d.stripTrailingZeros.toPlainString
    if (p == "-0") "0" else p
  }
  /** The reference's timestamp rendering (its HTTP stack's
    * DateTime.toString): yyyy-mm-ddThh:mm:ss, UTC, no zone suffix
    * (GraphQLService.scala:62-66) — format-compat documentation, not a
    * dependency.
    */
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val fmtTimestamp: Any => String = {
    case null => "null"
    case t: java.sql.Timestamp =>
      "\"" + t.toInstant.atOffset(ZoneOffset.UTC).format(tsFmt) + "\""
    case t: java.time.Instant =>
      "\"" + t.atOffset(ZoneOffset.UTC).format(tsFmt) + "\""
    case other => jstr(other.toString)
  }
}
