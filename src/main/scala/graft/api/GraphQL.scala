package graft.api

import scala.collection.mutable.ListBuffer

/** Minimal GraphQL document parser — the subset the reference's schema can
  * express (five root query fields, scalar arguments, nested selection
  * sets, variables): operations, variable definitions, fields with aliases
  * and arguments, int/float/string/bool/null/enum/variable values.
  *
  * The reference parses with Sangria (GraphQLService.scala:295-321,
  * routers/RootRouter.scala:22-41 maps SyntaxError and QueryAnalysisError
  * to 400s with source positions). We hand-roll the grammar instead of
  * pulling a parser dependency: the library surface the tests exercise is
  * ~40 grammar productions, and owning the positions makes the 400-error
  * payloads exact.
  *
  * Supported beyond the bbtest surface: named fragment spreads and inline
  * fragments ([[GraphQL.resolveFragments]] splices them with type
  * checking, duplicate-field merging, and unused-fragment validation),
  * and the spec's executable directives `@skip(if:)` / `@include(if:)`
  * (literal or variable condition, evaluated during field collection).
  * Not supported (reference schema never produces them):
  * mutations/subscriptions, non-executable directives, block strings.
  * Encountering one raises [[GraphQL.AnalysisError]] — the same 400 a
  * reference user gets for a query that doesn't validate against the
  * schema.
  */
object GraphQL {

  // ---- errors ----------------------------------------------------------
  /** Unparseable document → 400 {"syntaxError":…,"locations":[…]}
    * (RootRouter.scala:28-38).
    */
  final case class SyntaxError(msg: String, line: Int, column: Int)
      extends Exception(s"Syntax error at [$line:$column]: $msg")

  /** Parseable but invalid against the schema (unknown field, bad arg,
    * undefined variable…) → 400 {"errors":[…]} (RootRouter.scala:24-25).
    */
  final case class AnalysisError(msg: String, line: Int, column: Int)
      extends Exception(s"$msg at [$line:$column]")

  /** A JSON string literal (null renders as ""), shared by the executor's
    * rendering and the edge's error bodies. */
  private[api] def jstr(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ---- AST -------------------------------------------------------------
  sealed trait Value
  final case class VString(s: String) extends Value
  final case class VInt(i: Long) extends Value
  final case class VFloat(d: BigDecimal) extends Value
  final case class VBool(b: Boolean) extends Value
  case object VNull extends Value
  final case class VEnum(name: String) extends Value
  final case class VVar(name: String) extends Value

  final case class Argument(name: String, value: Value, line: Int, column: Int)

  /** An executable directive (`@skip(if:)` / `@include(if:)`) attached to a
    * field, fragment spread, or inline fragment — the only directive
    * positions the spec allows for these two, and the only directives the
    * reference's Sangria executes. Evaluated during field collection
    * ([[resolveFragments]]); any other directive name is rejected at parse.
    */
  final case class Directive(name: String, args: List[Argument],
      line: Int, column: Int)

  /** One entry of a selection set: a field, a named-fragment spread, or an
    * inline fragment. Fragments exist only between parse and
    * [[resolveFragments]] — the executor sees pure [[Field]] trees.
    */
  sealed trait Sel

  final case class Field(
      alias: Option[String],
      name: String,
      args: List[Argument],
      selection: List[Sel],
      line: Int,
      column: Int,
      directives: List[Directive] = Nil,
      hadSelection: Boolean = false) extends Sel {
    def outputName: String = alias.getOrElse(name)
    /** Post-[[resolveFragments]] children (all spreads spliced away). */
    def fields: List[Field] = selection.collect { case f: Field => f }
    /** True when the SOURCE had a `{…}` on this field. The parser rejects a
      * literally empty set, so `fields.isEmpty && hadSelection` can only
      * mean every subfield was `@skip`'d — a valid empty object per spec,
      * distinct from the static error of selecting an object type bare.
      */
    def selectionEmptiedByDirectives: Boolean = fields.isEmpty && hadSelection
  }

  final case class Spread(name: String, line: Int, column: Int,
      directives: List[Directive] = Nil) extends Sel
  /** `typeCond` None = bare inline fragment (`... @dir { … }` / `... { … }`):
    * applies to the enclosing type, per spec. */
  final case class Inline(typeCond: Option[String], selection: List[Sel],
      line: Int, column: Int, directives: List[Directive] = Nil) extends Sel

  final case class FragmentDef(name: String, typeCond: String,
      selection: List[Sel], line: Int, column: Int)

  final case class VarDef(name: String, tpe: String, required: Boolean,
      default: Option[Value], line: Int, column: Int)

  final case class Operation(name: Option[String], varDefs: List[VarDef],
      selection: List[Sel], line: Int, column: Int)

  /** A parsed document: executable operations + fragment definitions. */
  final case class Document(operations: List[Operation],
      fragments: Map[String, FragmentDef])

  // ---- lexer -----------------------------------------------------------
  private final case class Token(kind: Int, text: String, line: Int, column: Int)
  private final val TName = 0; private final val TInt = 1; private final val TFloat = 2
  private final val TString = 3; private final val TPunct = 4; private final val TEof = 5

  private def lex(src: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0; var line = 1; var col = 1
    def err(msg: String) = throw SyntaxError(msg, line, col)
    def advance(): Char = { val c = src(i); i += 1; if (c == '\n') { line += 1; col = 1 } else col += 1; c }
    while (i < src.length) {
      val c = src(i)
      if (c == '\n' || c == '\r' || c == ' ' || c == '\t' || c == ',') { advance(): Unit }
      else if (c == '#') { while (i < src.length && src(i) != '\n') advance() }
      else if (c == '_' || c.isLetter) {
        val (l0, c0) = (line, col); val sb = new StringBuilder
        while (i < src.length && (src(i) == '_' || src(i).isLetterOrDigit)) sb += advance()
        out += Token(TName, sb.toString, l0, c0)
      } else if (c == '-' || c.isDigit) {
        val (l0, c0) = (line, col); val sb = new StringBuilder
        if (c == '-') sb += advance()
        val intDigits = { var n = 0; while (i < src.length && src(i).isDigit) { sb += advance(); n += 1 }; n }
        if (intDigits == 0) err("expected a digit after '-'")
        var isFloat = false
        if (i < src.length && src(i) == '.') {
          isFloat = true; sb += advance()
          var n = 0
          while (i < src.length && src(i).isDigit) { sb += advance(); n += 1 }
          if (n == 0) err("expected a digit after '.'")
        }
        if (i < src.length && (src(i) == 'e' || src(i) == 'E')) {
          isFloat = true; sb += advance()
          if (i < src.length && (src(i) == '+' || src(i) == '-')) sb += advance()
          var n = 0
          while (i < src.length && src(i).isDigit) { sb += advance(); n += 1 }
          if (n == 0) err("expected a digit in the exponent")
        }
        out += Token(if (isFloat) TFloat else TInt, sb.toString, l0, c0)
      } else if (c == '"') {
        val (l0, c0) = (line, col)
        advance() // opening quote
        if (i + 1 < src.length && src(i) == '"' && src(i + 1) == '"')
          err("block strings are not supported")
        val sb = new StringBuilder
        var closed = false
        while (!closed) {
          if (i >= src.length) err("unterminated string")
          val ch = advance()
          if (ch == '"') closed = true
          else if (ch == '\n') err("unterminated string")
          else if (ch == '\\') {
            if (i >= src.length) err("unterminated string")
            advance() match {
              case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
              case 'b' => sb += '\b'; case 'f' => sb += '\f'; case 'n' => sb += '\n'
              case 'r' => sb += '\r'; case 't' => sb += '\t'
              case 'u' =>
                if (i + 4 > src.length) err("bad unicode escape")
                val hex = src.substring(i, i + 4)
                val cp = try Integer.parseInt(hex, 16)
                         catch { case _: NumberFormatException => err("bad unicode escape") }
                (1 to 4).foreach(_ => advance())
                sb += cp.toChar
              case other => err(s"bad escape '\\$other'")
            }
          } else sb += ch
        }
        out += Token(TString, sb.toString, l0, c0)
      } else if ("{}():$!=[]@".indexOf(c) >= 0) {
        out += Token(TPunct, c.toString, line, col); advance(): Unit
      } else if (c == '.') {
        val (l0, c0) = (line, col)
        var dots = 0
        while (i < src.length && src(i) == '.' && dots < 3) { advance(); dots += 1 }
        if (dots != 3) throw SyntaxError(s"expected '...', found ${"." * dots}", l0, c0)
        out += Token(TPunct, "...", l0, c0)
      } else err(s"unexpected character '$c'")
    }
    out += Token(TEof, "<eof>", line, col)
    out.result()
  }

  // ---- parser ----------------------------------------------------------
  private final class Parser(tokens: Vector[Token]) {
    private var pos = 0
    private def peek: Token = tokens(pos)
    private def next(): Token = { val t = tokens(pos); pos += 1; t }
    private def syntax(msg: String, t: Token) = throw SyntaxError(msg, t.line, t.column)
    private def expectPunct(p: String): Token = {
      val t = next()
      if (t.kind != TPunct || t.text != p) syntax(s"expected '$p', found '${t.text}'", t)
      t
    }
    private def expectName(): Token = {
      val t = next()
      if (t.kind != TName) syntax(s"expected a name, found '${t.text}'", t)
      t
    }

    def document(): Document = {
      val ops = ListBuffer.empty[Operation]
      val frags = scala.collection.mutable.LinkedHashMap.empty[String, FragmentDef]
      while (peek.kind != TEof) {
        val t = peek
        if (t.kind == TPunct && t.text == "{")
          ops += Operation(None, Nil, selectionSet(), t.line, t.column)
        else if (t.kind == TName && t.text == "query") {
          next()
          val name = if (peek.kind == TName) Some(next().text) else None
          val vars = if (peek.kind == TPunct && peek.text == "(") varDefs() else Nil
          ops += Operation(name, vars, selectionSet(), t.line, t.column)
        } else if (t.kind == TName && (t.text == "mutation" || t.text == "subscription"))
          throw AnalysisError(s"Schema is not configured for ${t.text}s", t.line, t.column)
        else if (t.kind == TName && t.text == "fragment") {
          next()
          val n = expectName()
          if (n.text == "on") syntax("fragment name must not be 'on'", n)
          val on = expectName()
          if (on.text != "on") syntax(s"expected 'on', found '${on.text}'", on)
          val cond = expectName().text
          if (frags.contains(n.text))
            throw AnalysisError(s"Fragment '${n.text}' is defined twice", n.line, n.column)
          frags += n.text -> FragmentDef(n.text, cond, selectionSet(), n.line, n.column)
        } else syntax(s"expected an operation or fragment, found '${t.text}'", t)
      }
      if (ops.isEmpty) syntax("document defines no operation", peek)
      Document(ops.toList, frags.toMap)
    }

    private def varDefs(): List[VarDef] = {
      expectPunct("(")
      val defs = ListBuffer.empty[VarDef]
      while (!(peek.kind == TPunct && peek.text == ")")) {
        val d = expectPunct("$")
        val name = expectName().text
        expectPunct(":")
        val tpe = expectName().text
        val required =
          if (peek.kind == TPunct && peek.text == "!") { next(); true } else false
        val default =
          if (peek.kind == TPunct && peek.text == "=") { next(); Some(value()) } else None
        defs += VarDef(name, tpe, required, default, d.line, d.column)
      }
      expectPunct(")")
      defs.toList
    }

    /** `@skip(if:)` / `@include(if:)` runs — the executable directives of
      * the spec (and of the reference's Sangria). Anything else is outside
      * the schema's capability and rejected like any other unsupported
      * construct; the argument shape is validated here so execution only
      * ever sees well-formed directives.
      */
    private def directives(): List[Directive] = {
      val out = ListBuffer.empty[Directive]
      while (peek.kind == TPunct && peek.text == "@") {
        val at = next()
        val n = expectName()
        val args = if (peek.kind == TPunct && peek.text == "(") arguments() else Nil
        if (n.text != "skip" && n.text != "include")
          throw AnalysisError(s"Unknown directive '@${n.text}'", at.line, at.column)
        if (args.map(_.name) != List("if"))
          throw AnalysisError(
            s"Directive '@${n.text}' requires exactly one argument 'if'",
            at.line, at.column)
        // DirectivesAreUniquePerLocation: @skip/@include are non-repeatable
        if (out.exists(_.name == n.text))
          throw AnalysisError(
            s"The directive '@${n.text}' can only be used once at this location",
            at.line, at.column)
        out += Directive(n.text, args, at.line, at.column)
      }
      out.toList
    }

    private def selectionSet(): List[Sel] = {
      expectPunct("{")
      val sels = ListBuffer.empty[Sel]
      while (!(peek.kind == TPunct && peek.text == "}")) {
        val t = peek
        if (t.kind == TPunct && t.text == "...") {
          next()
          if (peek.kind == TName && peek.text == "on") {
            next()
            val cond = expectName().text
            val dirs = directives()
            sels += Inline(Some(cond), selectionSet(), t.line, t.column, dirs)
          } else if (peek.kind == TName) {
            val name = next().text
            sels += Spread(name, t.line, t.column, directives())
          } else if (peek.kind == TPunct && (peek.text == "@" || peek.text == "{")) {
            // bare inline fragment: no type condition — the enclosing type
            val dirs = directives()
            sels += Inline(None, selectionSet(), t.line, t.column, dirs)
          } else syntax("expected a fragment name, 'on', '@', or '{' after '...'", peek)
        } else {
          val first = expectName()
          val (alias, name) =
            if (peek.kind == TPunct && peek.text == ":") {
              next(); (Some(first.text), expectName().text)
            } else (None, first.text)
          val args = if (peek.kind == TPunct && peek.text == "(") arguments() else Nil
          val dirs = directives()
          val hadBraces = peek.kind == TPunct && peek.text == "{"
          val sel = if (hadBraces) selectionSet() else Nil
          sels += Field(alias, name, args, sel, first.line, first.column, dirs,
            hadSelection = hadBraces)
        }
      }
      expectPunct("}")
      if (sels.isEmpty) syntax("empty selection set", peek)
      sels.toList
    }

    private def arguments(): List[Argument] = {
      expectPunct("(")
      val args = ListBuffer.empty[Argument]
      while (!(peek.kind == TPunct && peek.text == ")")) {
        val n = expectName()
        expectPunct(":")
        args += Argument(n.text, value(), n.line, n.column)
      }
      expectPunct(")")
      args.toList
    }

    private def value(): Value = {
      val t = next()
      t.kind match {
        case TInt =>
          try VInt(t.text.toLong)
          catch { case _: NumberFormatException =>
            syntax(s"integer literal out of range: '${t.text}'", t) }
        case TFloat =>
          try VFloat(BigDecimal(t.text))
          catch { case _: NumberFormatException =>
            syntax(s"malformed number literal: '${t.text}'", t) }
        case TString => VString(t.text)
        case TName =>
          t.text match {
            case "true" => VBool(true); case "false" => VBool(false)
            case "null" => VNull; case other => VEnum(other)
          }
        case TPunct if t.text == "$" => VVar(expectName().text)
        case TPunct if t.text == "[" =>
          while (!(peek.kind == TPunct && peek.text == "]")) value()
          next()
          throw AnalysisError("List values are not supported", t.line, t.column)
        case _ => syntax(s"expected a value, found '${t.text}'", t)
      }
    }
  }

  /** Parse a GraphQL document into operations + fragment definitions.
    * @throws SyntaxError on grammar violations (with source position)
    * @throws AnalysisError on constructs outside the supported subset
    */
  def parse(doc: String): Document = new Parser(lex(doc)).document()

  /** The schema's object-type graph — enough to type-check fragment
    * spreads: (enclosing type, field) → nested object type (absent for
    * scalar leaves). Mirrors GraphQLService.scala:126-292.
    */
  private val fieldTypes: Map[(String, String), String] = Map(
    ("Query", "tenant") -> "tenant",
    ("Query", "tenants") -> "tenant",
    ("Query", "account") -> "account",
    ("Query", "accounts") -> "account",
    ("Query", "transfers") -> "transfer",
    ("account", "tenant") -> "tenant",
    ("transfer", "tenant") -> "tenant",
    ("transfer", "credit") -> "account",
    ("transfer", "debit") -> "account")

  /** Splice fragment spreads and inline fragments into plain field lists,
    * type-checking each against its enclosing type (the schema has no
    * interfaces/unions, so a fragment can only be spread where its type
    * condition matches exactly — Sangria rejects the rest the same way).
    * Selections sharing an output name are MERGED (CollectFields): their
    * child selections combine into one field; same-name-different-field or
    * conflicting-argument overlaps are errors, as are unknown fragments,
    * mismatched conditions, spread cycles, spreads under scalar fields,
    * and fragments the document never uses.
    */
  def resolveFragments(doc: Document, op: Operation,
      keep: List[Directive] => Boolean = _ => true): Operation = {
    val fragments = doc.fragments
    val used = scala.collection.mutable.Set.empty[String]

    def splice(sels: List[Sel], tpe: String, visiting: Set[String],
        keepF: List[Directive] => Boolean = keep): List[Field] =
      sels.flatMap {
        case f: Field if !keepF(f.directives) => Nil
        case f: Field =>
          val resolved = fieldTypes.get((tpe, f.name)) match {
            case Some(ct) => splice(f.selection, ct, visiting, keepF)
            case None =>
              // scalar leaf or unknown field: fragments cannot apply here
              // (at ANY depth — there is no type to check them against),
              // and directives must still be evaluated and stripped all
              // the way down, or un-applied Directive nodes would reach
              // the executor under a field it has yet to reject
              def stripTypeless(sels: List[Sel], under: String): List[Field] =
                sels.flatMap {
                  case c: Field if !keepF(c.directives) => Nil
                  case c: Field => List(c.copy(directives = Nil,
                    selection = stripTypeless(c.selection, c.name)))
                  case Spread(_, l, cl, _) =>
                    throw AnalysisError(
                      s"Fragments cannot be applied inside field '$under'", l, cl)
                  case Inline(_, _, l, cl, _) =>
                    throw AnalysisError(
                      s"Fragments cannot be applied inside field '$under'", l, cl)
                }
              stripTypeless(f.selection, f.name)
          }
          List(f.copy(selection = resolved, directives = Nil))
        case Inline(cond, sel, line, column, dirs) =>
          // the type condition is STATIC validation — it must hold even for
          // an excluded fragment, exactly as in the reference's validator
          cond.foreach { c =>
            if (c != tpe)
              throw AnalysisError(
                s"Fragment on type '$c' cannot be spread in type '$tpe'", line, column)
          }
          if (keepF(dirs)) splice(sel, tpe, visiting, keepF) else Nil
        case Spread(name, line, column, dirs) =>
          val frag = fragments.getOrElse(name,
            throw AnalysisError(s"Unknown fragment '$name'", line, column))
          if (visiting(name))
            throw AnalysisError(s"Fragment cycle through '$name'", line, column)
          if (frag.typeCond != tpe)
            throw AnalysisError(
              s"Fragment '$name' on type '${frag.typeCond}' cannot be spread in type '$tpe'",
              line, column)
          // a @skip'd spread still REFERENCES its fragment: NoUnusedFragments
          // is static validation, untouched by executable directives
          used += name
          if (keepF(dirs)) splice(frag.selection, tpe, visiting + name, keepF) else Nil
      }

    /** CollectFields: same output name ⇒ one field, children combined. */
    def merge(fields: List[Field]): List[Field] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Field]
      fields.foreach { f =>
        out.get(f.outputName) match {
          case None => out += f.outputName -> f
          case Some(prev) =>
            if (prev.name != f.name)
              throw AnalysisError(
                s"Fields '${prev.name}' and '${f.name}' conflict under output name '${f.outputName}'",
                f.line, f.column)
            if (prev.args.map(a => a.name -> a.value) != f.args.map(a => a.name -> a.value))
              throw AnalysisError(
                s"Conflicting arguments for field '${f.outputName}'", f.line, f.column)
            out += f.outputName -> prev.copy(selection = prev.selection ++ f.selection)
        }
      }
      out.values.toList.map(f => f.copy(selection = merge(f.fields)))
    }

    val resolved = op.copy(selection = merge(splice(op.selection, "Query", Set.empty)))

    // document-wide checks: every fragment body must be well-formed even if
    // this operation didn't reach it, and a fragment no operation in the
    // document references is an error (NoUnusedFragments) — referenced-by-
    // another-operation is fine, so usage is computed over ALL operations
    def spreadNames(sels: List[Sel]): Set[String] = sels.flatMap {
      case f: Field => spreadNames(f.selection)
      case Inline(_, s, _, _, _) => spreadNames(s)
      case Spread(n, _, _, _) => Set(n)
    }.toSet
    var reachable = doc.operations.flatMap(o => spreadNames(o.selection)).toSet
    var grew = true
    while (grew) {
      val next = reachable ++ reachable.flatMap(n =>
        fragments.get(n).map(f => spreadNames(f.selection)).getOrElse(Set.empty))
      grew = next.size != reachable.size
      reachable = next
    }
    fragments.values.foreach { frag =>
      // validation-only splice: directive conditions may reference OTHER
      // operations' variables, and static checks must not depend on the
      // executing operation's values — keep everything
      if (!used(frag.name))
        splice(frag.selection, frag.typeCond, Set(frag.name), _ => true): Unit
      if (!reachable(frag.name))
        throw AnalysisError(
          s"Fragment '${frag.name}' is never used", frag.line, frag.column)
    }
    resolved
  }

  /** Pick the operation to run: by name if given, else the only one —
    * ambiguity is an analysis error, as in Sangria's Executor.
    */
  def operation(ops: List[Operation], operationName: Option[String]): Operation =
    operationName match {
      case Some(n) =>
        ops.find(_.name.contains(n)).getOrElse(
          throw AnalysisError(s"Unknown operation '$n'", 1, 1))
      case None =>
        if (ops.size == 1) ops.head
        else throw AnalysisError(
          "Must provide operation name if query contains multiple operations", 1, 1)
    }

  /** Substitute variable references with request-supplied values (or
    * declared defaults), enforcing declared-ness both ways.
    */
  /** Build the `@skip`/`@include` evaluator for one execution: each
    * directive's `if` argument is coerced against the operation's variable
    * definitions and the supplied values — the same resolution rules as
    * [[resolveVariables]], restricted to Boolean. A selection is kept only
    * if every `@include` is true and every `@skip` is false.
    */
  def directiveFilter(op: Operation,
      supplied: Map[String, Any]): List[Directive] => Boolean = {
    val defs = op.varDefs.map(d => d.name -> d).toMap
    def boolOf(d: Directive): Boolean = {
      val a = d.args.head
      def bad(what: String): Nothing =
        throw AnalysisError(
          s"'@${d.name}(if:)' expects a Boolean, got $what", a.line, a.column)
      a.value match {
        case VBool(b) => b
        case VVar(n) =>
          val vd = defs.getOrElse(n,
            throw AnalysisError(s"Variable '$$$n' is not defined", a.line, a.column))
          supplied.get(n) match {
            case Some(b: Boolean) => b
            // JSON null arrives as Scala null (HttpEdge.parseGraphqlBody) —
            // same 400 as resolveVariables gives VNull, never an NPE/500
            case Some(null) => bad("null")
            case Some(other) => bad(other.getClass.getSimpleName)
            case None => vd.default match {
              case Some(VBool(b)) => b
              case Some(other) => bad(other.getClass.getSimpleName.stripPrefix("V"))
              case None =>
                throw AnalysisError(
                  s"Variable '$$$n' expected value of type 'Boolean!'",
                  vd.line, vd.column)
            }
          }
        case other => bad(other.getClass.getSimpleName.stripPrefix("V"))
      }
    }
    dirs => dirs.forall(d => if (d.name == "skip") !boolOf(d) else boolOf(d))
  }

  def resolveVariables(op: Operation, supplied: Map[String, Any]): Operation = {
    val defs = op.varDefs.map(d => d.name -> d).toMap
    def toValue(a: Any, d: VarDef): Value = a match {
      case null => VNull
      case s: String => VString(s)
      case i: Int => VInt(i.toLong)
      case l: Long => VInt(l)
      case b: Boolean => VBool(b)
      case d2: BigDecimal => if (d2.isValidLong) VInt(d2.longValue) else VFloat(d2)
      case d2: java.math.BigDecimal => toValue(BigDecimal(d2), d)
      case other =>
        throw AnalysisError(
          s"Variable '$$${d.name}' has unsupported value type ${other.getClass.getSimpleName}",
          d.line, d.column)
    }
    def resolve(v: Value, line: Int, column: Int): Value = v match {
      case VVar(n) =>
        val d = defs.getOrElse(n,
          throw AnalysisError(s"Variable '$$$n' is not defined", line, column))
        supplied.get(n).map(toValue(_, d)).orElse(d.default).getOrElse {
          if (d.required)
            throw AnalysisError(s"Variable '$$$n' expected value of type '${d.tpe}!'",
              d.line, d.column)
          VNull
        }
      case other => other
    }
    def walk(s: Sel): Sel = s match {
      case f: Field => f.copy(
        args = f.args.map(a => a.copy(value = resolve(a.value, a.line, a.column))),
        selection = f.selection.map(walk))
      case i: Inline => i.copy(selection = i.selection.map(walk))
      case sp: Spread => sp
    }
    op.copy(selection = op.selection.map(walk))
  }
}
