package graft.boostql

import Ast._

/** Recursive-descent parser for the BoostQL dialect.
  *
  * Grammar (the reference parses this subset with the TiDB MySQL parser,
  * query/parser/parser.go:25-52; we hand-roll it — no external deps, and
  * the dialect is tiny):
  *
  * {{{
  * statement := top
  *           | INSERT INTO fam top | UPSERT INTO fam top
  *           | MERGE INTO fam USING '(' top ')' (AS src)? when+
  *           | DELETE FROM fam WHERE or
  *           | UPDATE fam SET assigns WHERE or
  *           | CREATE (OR REPLACE)? FAMILY fam AS top
  *           | DROP FAMILY (IF EXISTS)? fam
  *           | REFRESH ROLLUP fam BUCKET string AS ident (INTO fam)?
  *           | DESCRIBE fam | SHOW FAMILIES (IN ident)? | SHOW PARTITIONS fam
  *           | EXPLAIN (FORMATTED|EXTENDED|CODEGEN|COST|SIMPLE)? top
  *           | FUNNEL ident ('->' ident)* BY ident (WITHIN string)? FROM fam
  *           | RETENTION BY ident (MAX int DAYS)? FROM fam
  *           | OUTLIERS ident (K num)? FROM fam
  *             -- a statement keyword is one only in the leading position
  * top      := (WITH ident AS '(' stmt ')' (',' …)*)? stmt
  * stmt     := query ((UNION | INTERSECT | EXCEPT) ALL? query)*
  * fam      := ident '.' ident
  * when     := WHEN MATCHED (AND or)? THEN (UPDATE | DELETE)
  *           | WHEN NOT MATCHED THEN INSERT
  *           | WHEN NOT MATCHED BY SOURCE (AND or)? THEN (DELETE | UPDATE SET assigns)
  * assigns  := name '=' add (',' name '=' add)*   -- name: series or series.attr
  * query    := SELECT hints? (DISTINCT (ON '(' names ')')?)? items
  *             FROM src (WHERE or)?
  *             (GROUP BY (ALL | grp) (FILL '(' (NULL|PREVIOUS|LINEAR|num) ')')?)?
  *             (HAVING or)? (QUALIFY or)?
  *             (WINDOW ident AS '(' winspec ')' (',' ident AS '(' winspec ')')*)?
  *             (ORDER BY (ALL dir? | orders))? (LIMIT int (OFFSET int)?)?
  *             -- GROUP BY ALL / ORDER BY ALL desugar to the select
  *             -- items (DuckDB idiom); dir := (ASC|DESC)? nulls?
  * orders   := item dir (',' item dir)*
  * nulls    := NULLS (FIRST|LAST)   -- contextual two-word shape
  * hints    := hintOpen (ident '(' idents? ')' ','?)+ hintClose
  *             -- hintOpen/hintClose are the slash-star-plus / star-slash
  *             -- comment-hint delimiters; `-- line` and standalone
  *             -- block comments lex as whitespace
  * grp      := (ROLLUP|CUBE) '(' names ')' | names
  * items    := item (',' item)*
  * item     := add (AS ident)?
  * name     := ident ('.' ident ('.' ident)?)?
  * src      := ident '.' ident (AS? ident)?
  * join     := (INNER? | CROSS | ASOF (FORWARD|BACKWARD|NEAREST)? | (LEFT|RIGHT|FULL) OUTER?)
  *             JOIN src (ON and)? (WITHIN string)?
  *           | ',' src
  * or       := and (OR and)*
  * and      := cmp (AND cmp)*
  * cmp      := NOT cmp | '(' or ')'
  *           | add ( op add | op (ANY|ALL) '(' query ')'
  *                 | IS NOT? NULL | NOT? IN '(' add (',' add)* ')'
  *                 | NOT? BETWEEN add AND add | NOT? LIKE string )
  *             -- quantified ops are the ordered four (> >= < <=):
  *             -- `= ANY` is IN, `!= ALL` is NOT IN
  * add      := mul (('+'|'-') mul)*
  * mul      := unary (('*'|'/') unary)*
  * unary    := '-' unary | primary
  * primary  := literal | NULL
  *           | agg '(' ('*' | DISTINCT? name) ')' (over | filterc)?
  *           | (CORR|COVAR_POP|COVAR_SAMP) '(' add ',' add ')' filterc?
  *           | (ARG_MAX|ARG_MIN|MAX_BY|MIN_BY) '(' add ',' add ')' filterc?
  *           | STRING_AGG '(' add ',' string ')' filterc?
  *           | (BOOL_AND|BOOL_OR|COUNT_IF) '(' or ')' filterc?
  *           | CAST '(' add AS ident ')'
  *           | ident '(' (add (',' add)*)? ')' over?
  *           | name | '(' add ')'
  * over     := OVER (ident | '(' winspec ')')
  *             -- `OVER w` references the WINDOW clause's named spec
  * winspec  := (PARTITION BY names)?
  *             (ORDER BY name dir (',' …)*)?
  *             ((ROWS|RANGE) BETWEEN bound AND bound)?
  * filterc  := FILTER '(' WHERE or ')'
  * bound    := UNBOUNDED (PRECEDING|FOLLOWING) | CURRENT ROW
  *           | int (PRECEDING|FOLLOWING)                      -- ROWS
  *           | INTERVAL '<int>' unit (PRECEDING|FOLLOWING)    -- RANGE
  * op       := >= | <= | != | <> | == | = | < | >
  * }}}
  *
  * Identifiers may be backtick-quoted (`` `current` ``) anywhere an
  * ident is accepted: a quoted identifier is never a keyword and never a
  * function name — the escape hatch for series/attribute names that
  * collide with reserved words.
  *
  * `( …` is ambiguous between a parenthesized boolean group and a
  * parenthesized arithmetic operand; `cmp` resolves it by first trying
  * the comparison production and backtracking to the boolean group when
  * that fails — the only backtrack point in the grammar.
  *
  * `ts` (optionally alias-qualified) names the time axis — the dialect
  * face of the reference's `[windowStart, windowEnd)` executor window.
  */
object Parser {

  final case class ParseException(msg: String) extends RuntimeException(msg)

  private sealed trait Tok
  private case class TIdent(s: String) extends Tok
  /** Backtick-quoted identifier: never a keyword, never a function name —
    * the escape hatch for series/attributes whose names collide with the
    * dialect's reserved words (`` events.`current` ``, an attribute named
    * `` `all` ``). MySQL-style, matching the reference's TiDB-parser
    * heritage (query/parser/parser.go:25-52). */
  private case class TQuoted(s: String) extends Tok
  private case class TNum(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TSym(s: String) extends Tok
  private case object TEnd extends Tok

  private val keywords = Set("select", "from", "where", "and", "or", "not",
    "group", "by", "having", "qualify", "order", "limit", "as", "asc", "desc", "true",
    "false", "join", "inner", "cross", "on", "left", "right", "full",
    "outer", "is", "null", "distinct", "in", "between", "like", "asof",
    "over", "partition", "exists", "union", "intersect", "except", "all",
    "case", "when", "then", "else", "end", "rows", "preceding", "following",
    "unbounded", "current", "row")
  private val aggFns = Set("count", "sum", "avg", "min", "max",
    "stddev", "variance", "median", "grouping", "approx_distinct",
    "approx_distinct_sketch", "approx_distinct_merge", "percentile",
    "approx_percentile", "approx_percentile_sketch",
    "approx_percentile_merge", "first", "last", "corr", "covar_pop",
    "covar_samp", "histogram", "histogram_merge", "twa", "increase",
    "resets", "mad",
    "approx_top_k", "approx_top_k_sketch", "approx_top_k_merge",
    "arg_max", "arg_min", "max_by", "min_by", "string_agg",
    "bool_and", "bool_or", "count_if", "regr_slope", "regr_intercept",
    "regr_r2", "regr_count", "regr_avgx", "regr_avgy", "acf", "xcorr")

  /** Two-argument statistics aggregates — desugared at parse time (see
    * [[corrDesugar]]) rather than carried as AST nodes. The `regr_*`
    * family follows the SQL-standard argument order `(y, x)` — y the
    * dependent variable, x the independent one. */
  private val corrFns = Set("corr", "covar_pop", "covar_samp",
    "regr_slope", "regr_intercept", "regr_r2", "regr_count",
    "regr_avgx", "regr_avgy")

  /** `OVER <name>` parks the name as the sole partitionBy entry under
    * this marker until the query's WINDOW clause resolves it. The NUL
    * control char cannot reach an identifier through the lexer (quoted
    * or not), so no user name collides. */
  private[boostql] val WinRefMark = "\u0000over"

  /** Desugar corr/covar_pop/covar_samp(x, y) into arithmetic over plain
    * sums, every sum guarded by the shared pair predicate (both args
    * non-null, AND the FILTER condition when present) and cast to
    * double BEFORE the arithmetic:
    *
    *   n   = Σ 1,  sx = Σ x,  sy = Σ y
    *   sxx = Σ x², syy = Σ y², sxy = Σ x·y      (pair rows only)
    *   covar_pop  = (sxy − sx·sy/n) / n
    *   covar_samp = (sxy − sx·sy/n) / (n − 1)
    *   corr       = ((n·sxy − sx·sy) / sqrt(n·sxx − sx·sx))
    *                                 / sqrt(n·syy − sy·sy)
    *
    * Identical sub-sums dedup structurally into one computed aggregate
    * each (OAggX identity). Degenerate groups fall out of the IEEE
    * arithmetic with no special-casing, identically in any engine that
    * nulls x/0: covar_samp of a single pair divides by zero → NULL;
    * corr of a zero-variance side hits sqrt(0) → /0 → NULL.
    */
  private def corrDesugar(fn: String, arg1: Operand, arg2: Operand,
      filter: Option[BExpr]): Operand = {
    // regr_*(y, x) puts the DEPENDENT variable first (SQL standard);
    // rebind so the body's (x, y) are always (independent, dependent)
    val (x, y) =
      if (fn.startsWith("regr_")) (arg2, arg1) else (arg1, arg2)
    val bothNotNull: BExpr =
      AndE(IsNullE(x, negated = true), IsNullE(y, negated = true))
    val pairOk = filter.fold(bothNotNull)(c => AndE(bothNotNull, c))
    def s(e: Operand): Operand =
      OCast(OAggX("sum", OCase(Seq((pairOk, e)), None)), "float")
    val n   = s(OLit(BInt(1)))
    val sx  = s(x);                  val sy  = s(y)
    val sxx = s(OArith("*", x, x));  val syy = s(OArith("*", y, y))
    val sxy = s(OArith("*", x, y))
    // Degenerate-group guards (found by CompileFuzzProps): under ANSI
    // mode a zero divisor with a NON-NULL dividend throws
    // DIVIDE_BY_ZERO at runtime instead of nulling — covar_samp of a
    // single pair (n−1 = 0 with dividend 0.0) and corr of a
    // zero-variance side (sqrt(0) = 0 with dividend 0.0) are exactly
    // that shape. The CASE guards spell the documented NULL contract
    // explicitly; empty groups stay NULL through the null dividend
    // (a NULL dividend short-circuits before the divisor check).
    fn match {
      case "covar_pop" =>
        OArith("/",
          OArith("-", sxy, OArith("/", OArith("*", sx, sy), n)), n)
      case "covar_samp" =>
        OCase(Seq((Cmp(">", n, OLit(BInt(1))),
          OArith("/",
            OArith("-", sxy, OArith("/", OArith("*", sx, sy), n)),
            OArith("-", n, OLit(BInt(1)))))), None)
      case "corr" =>
        val num = OArith("-", OArith("*", n, sxy), OArith("*", sx, sy))
        val dx = OFn("sqrt",
          Seq(OArith("-", OArith("*", n, sxx), OArith("*", sx, sx))))
        val dy = OFn("sqrt",
          Seq(OArith("-", OArith("*", n, syy), OArith("*", sy, sy))))
        OCase(Seq((AndE(Cmp(">", dx, OLit(BInt(0))),
          Cmp(">", dy, OLit(BInt(0)))),
          OArith("/", OArith("/", num, dx), dy))), None)
      // ordinary-least-squares over the same exact pair sums:
      //   slope     = (n·sxy − sx·sy) / (n·sxx − sx²)
      //   intercept = (sy − slope·sx) / n
      //   r²        = (n·sxy − sx·sy)² / ((n·sxx − sx²)(n·syy − sy²))
      // zero x-variance (vertical line) nulls slope/intercept/r²; zero
      // y-variance with x-variance present is a perfect horizontal fit
      // → r² = 1 (the PostgreSQL/DuckDB regr_r2 contract)
      // "int" is the dialect's 64-bit integer (common.go:8) — it
      // compiles to Spark long, consistent with count()/count_if and
      // overflow-safe past 2^31 pairs
      case "regr_count" =>
        OCast(OFn("coalesce", Seq(
          OAggX("sum", OCase(Seq((pairOk, OLit(BInt(1)))), None)),
          OLit(BInt(0)))), "int")
      case "regr_avgx" => OArith("/", sx, n)
      case "regr_avgy" => OArith("/", sy, n)
      case "regr_slope" | "regr_intercept" | "regr_r2" =>
        val num = OArith("-", OArith("*", n, sxy), OArith("*", sx, sy))
        val dxx = OArith("-", OArith("*", n, sxx), OArith("*", sx, sx))
        val dyy = OArith("-", OArith("*", n, syy), OArith("*", sy, sy))
        val xVaries = Cmp(">", dxx, OLit(BInt(0)))
        val slope = OArith("/", num, dxx)
        fn match {
          case "regr_slope" => OCase(Seq((xVaries, slope)), None)
          case "regr_intercept" => OCase(Seq((xVaries,
            OArith("/", OArith("-", sy, OArith("*", slope, sx)), n))), None)
          case "regr_r2" => OCase(Seq(
            (AndE(xVaries, Cmp(">", dyy, OLit(BInt(0)))),
              OArith("*", OArith("/", num, dxx), OArith("/", num, dyy))),
            (xVaries, OLit(BFloat(1.0)))), None)
        }
    }
  }

  private def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    // inside a `/*+ … */` hint block: `*/` closes the hint there and
    // ONLY there (outside one, `*` before `/* comment */` is the
    // multiplication operator, not a stray terminator)
    var inHint = false
    while (i < n) {
      val c = sql(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j = i
        while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_')) i += 1
        out += TIdent(sql.substring(j, i))
      } else if (c.isDigit) {
        // `-5` lexes as '-' then '5'; the parser's unary-minus production
        // folds it back into a negative literal
        val j = i
        while (i < n && (sql(i).isDigit || sql(i) == '.')) i += 1
        out += TNum(sql.substring(j, i))
      } else if (c == '\'' || c == '"') {
        val q = c; val sb = new StringBuilder; i += 1
        while (i < n && sql(i) != q) { sb += sql(i); i += 1 }
        if (i >= n) throw ParseException(s"unterminated string at offset $i")
        i += 1
        out += TStr(sb.toString)
      } else if (c == '`') {
        val sb = new StringBuilder; i += 1
        while (i < n && sql(i) != '`') { sb += sql(i); i += 1 }
        if (i >= n) throw ParseException(s"unterminated quoted identifier at offset $i")
        i += 1
        if (sb.isEmpty) throw ParseException(s"empty quoted identifier at offset $i")
        out += TQuoted(sb.toString)
      } else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        // `-- …` line comment
        while (i < n && sql(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql(i + 1) == '*') {
        if (i + 2 < n && sql(i + 2) == '+') {
          // `/*+ … */` optimizer hint: contents lex as normal tokens
          // between the hint delimiters (the parser consumes them)
          out += TSym("/*+"); i += 3; inHint = true
        } else {
          // `/* … */` block comment
          i += 2
          while (i + 1 < n && !(sql(i) == '*' && sql(i + 1) == '/')) i += 1
          if (i + 1 >= n) throw ParseException(s"unterminated comment at offset $i")
          i += 2
        }
      } else if (inHint && c == '*' && i + 1 < n && sql(i + 1) == '/') {
        out += TSym("*/"); i += 2; inHint = false
      } else {
        val two = if (i + 1 < n) sql.substring(i, i + 2) else ""
        if (Set(">=", "<=", "!=", "<>", "==").contains(two)) { out += TSym(two); i += 2 }
        else if ("()<>=,.*+-/".indexOf(c) >= 0) { out += TSym(c.toString); i += 1 }
        else throw ParseException(s"unexpected character '$c' at offset $i")
      }
    }
    out += TEnd
    out.result()
  }

  /** Parse a single SELECT (the pre-set-operation API; throws on a
    * compound — use [[parseStmt]] for those). */
  def parse(sql: String): QuerySpec = parseStmt(sql) match {
    case q: QuerySpec => q
    case _: SetOpSpec => throw ParseException(
      "set-operation compound; parse with parseStmt")
  }

  /** Parse a query: a single SELECT or a UNION/INTERSECT/EXCEPT
    * compound. */
  def parseStmt(sql: String): QueryStmt = new P(tokenize(sql)).stmtTop()

  /** Parse any [[Ast.Statement]]: a query, or the statement its leading
    * keyword names. A statement whose frame — the keywords and names
    * around its embedded queries and expressions — does not fit refuses
    * with a [[Compiler.CompileException]] naming the accepted form
    * ([[usage]]); a malformed embedded query or expression is a
    * [[ParseException]]. `checkMerge` runs on a MERGE's WHEN clauses
    * before its USING query is parsed, so what it throws comes first
    * even when the source query is malformed too.
    */
  def parseStatement(sql: String,
      checkMerge: Seq[MergeClause] => Unit = _ => ()): Statement =
    new P(tokenize(sql), checkMerge).statementTop()

  /** The accepted form of each non-query statement, by leading keyword. */
  private[boostql] val usage: Map[String, String] = Map(
    "insert" -> "INSERT must be 'INSERT INTO domain.family SELECT …'",
    "upsert" -> "UPSERT must be 'UPSERT INTO domain.family SELECT …'",
    "merge" -> ("MERGE takes 'MERGE INTO domain.family USING (<select>) " +
      "WHEN MATCHED [AND <cond>] THEN UPDATE|DELETE … " +
      "[WHEN NOT MATCHED THEN INSERT]'"),
    "delete" -> ("DELETE takes exactly 'DELETE FROM domain.family WHERE " +
      "<predicate>' — no joins, grouping, ordering or paging"),
    "update" -> ("UPDATE takes exactly 'UPDATE domain.family SET " +
      "<target> = <expr>[, …] WHERE <predicate>' — no joins, grouping, " +
      "ordering or paging"),
    "create" -> ("CREATE FAMILY takes 'CREATE [OR REPLACE] FAMILY " +
      "domain.family AS SELECT …'"),
    "drop" -> "DROP FAMILY takes 'DROP FAMILY [IF EXISTS] domain.family'",
    "refresh" -> ("REFRESH ROLLUP takes 'REFRESH ROLLUP domain.family " +
      "BUCKET '<interval>' AS <label> [INTO domain.family2]'"),
    "describe" -> "DESCRIBE takes exactly 'DESCRIBE domain.family'",
    "show" -> ("SHOW takes exactly 'SHOW FAMILIES [IN domain]' or " +
      "'SHOW PARTITIONS domain.family'"),
    "explain" -> ("EXPLAIN takes 'EXPLAIN [FORMATTED|EXTENDED|CODEGEN|" +
      "COST|SIMPLE] SELECT …'"),
    "funnel" -> ("FUNNEL takes 'FUNNEL s1 -> s2 [-> …] BY <attr> " +
      "[WITHIN '<interval>'] FROM domain.family'"),
    "retention" -> ("RETENTION takes 'RETENTION BY <attr> [MAX <n> DAYS] " +
      "FROM domain.family'"),
    "outliers" -> "OUTLIERS takes 'OUTLIERS <series> [K <k>] FROM domain.family'")

  private final class P(toks: Vector[Tok],
      checkMerge: Seq[MergeClause] => Unit = _ => ()) {
    private var pos = 0
    // recursion guard: the recursive-descent productions self-nest
    // through parens / NOT / unary minus, so adversarially deep input
    // would otherwise kill the JVM thread with StackOverflowError (an
    // Error, not a catchable parse failure). 200 is far beyond any
    // human query and — unlike the earlier 500, which measured ~5k JVM
    // frames and overflowed threads with sub-default stacks — leaves
    // the guard comfortable on any thread that can run Spark at all.
    private var depth = 0
    private val MaxDepth = 200
    private def nested[T](body: => T): T = {
      depth += 1
      if (depth > MaxDepth)
        throw ParseException(s"expression nesting exceeds $MaxDepth")
      try body finally depth -= 1
    }
    private def peek: Tok = toks(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def kw(s: String): Boolean = peek match {
      case TIdent(id) if id.equalsIgnoreCase(s) => pos += 1; true
      case _ => false
    }
    private def expectKw(s: String): Unit =
      if (!kw(s)) throw ParseException(s"expected $s, got $peek")
    private def sym(s: String): Boolean = peek match {
      case TSym(x) if x == s => pos += 1; true
      case _ => false
    }
    private def expectSym(s: String): Unit =
      if (!sym(s)) throw ParseException(s"expected '$s', got $peek")
    private def ident(): String = next() match {
      case TIdent(s)  => s
      case TQuoted(s) => s
      case t => throw ParseException(s"expected identifier, got $t")
    }
    /** An alias must not be a keyword — `SELECT cpu AS from` would mint
      * an output column that can never be referenced again (mirrors the
      * bare-alias path's keyword exclusion in source()). A backtick-quoted
      * alias escapes the restriction (it can be referenced back the same
      * quoted way).
      */
    private def aliasIdent(): String = next() match {
      case TIdent(s) if !keywords.contains(s.toLowerCase) => s
      case TQuoted(s) => s
      case TIdent(s) => throw ParseException(
        s"keyword '$s' cannot be an alias (backtick-quote it to force)")
      case t => throw ParseException(s"expected alias identifier, got $t")
    }

    /** Common table expressions, resolved by substitution: each use of a
      * WITH-defined name becomes a derived table ([[SubSource]]) holding
      * the binding's statement, so the compiler needs no new machinery.
      * A CTE body sees the bindings defined BEFORE it (ANSI forward
      * order); self/forward references are unknown names. Multiple uses
      * duplicate the sub-plan in the AST — which lets Catalyst SPECIALIZE
      * each use (outer predicates and pruning push into each copy
      * independently); uses that stay identical after optimization are
      * deduped by ReuseExchange. WITH is contextual: a series named
      * `with` is unaffected (statements begin with SELECT).
      */
    private var cteEnv: Map[String, QueryStmt] = Map.empty

    def stmtTop(): QueryStmt = {
      val st = top()
      if (peek != TEnd) throw ParseException(s"trailing input: $peek")
      st
    }

    /** The accepted form of the statement being parsed; its frame errors
      * refuse with it. */
    private var form = ""
    private def refuse(msg: String = form): Nothing =
      throw Compiler.CompileException(msg)
    private def frameKw(s: String): Unit = if (!kw(s)) refuse()
    private def frameIdent(msg: String = form): String = peek match {
      case TIdent(s) => pos += 1; s
      case TQuoted(s) => pos += 1; s
      case _ => refuse(msg)
    }
    private def frameStr(): String = peek match {
      case TStr(s) => pos += 1; s
      case _ => refuse()
    }
    private def fam(): FamilyRef = {
      val dom = dirName()
      if (!sym(".")) refuse()
      FamilyRef(dom, dirName())
    }
    /** A domain, family or rollup name. Each names a directory under the
      * warehouse root, so quoted or not it must be `\w+`: `..`, `a/b`
      * or `.x` would reach outside the family's own directory. */
    private def dirName(): String = frameIdent() match {
      case s if s.matches("\\w+") => s
      case s => refuse(s"'$s' is not a valid name — domain, family and " +
        "rollup names hold only letters, digits and '_'")
    }
    /** A numeric statement literal ('OUTLIERS … K 3', 'RETENTION … MAX
      * 30'); a malformed or non-finite one names the literal. */
    private def frameNum[T](what: String, f: String => T): T = peek match {
      case TNum(s) =>
        pos += 1
        scala.util.Try(f(s)).toOption.filter {
          case d: Double => java.lang.Double.isFinite(d)
          case _ => true
        }.getOrElse(refuse(s"malformed $what literal '$s'"))
      case _ => refuse()
    }

    def statementTop(): Statement = {
      val verb = peek match {
        case TIdent(id) => id.toLowerCase
        case _ => ""
      }
      if (!usage.contains(verb)) return stmtTop()
      form = usage(verb)
      pos += 1
      val st: Statement = verb match {
        case "insert" => frameKw("into"); Insert(fam(), top())
        case "upsert" => frameKw("into"); Upsert(fam(), top())
        case "merge" => merge()
        case "delete" =>
          frameKw("from")
          val t = fam()
          if (peek == TEnd) refuse(
            "DELETE FROM domain.family needs a WHERE predicate — deleting " +
              "a whole family is an operational drop, not a query; use " +
              "retention (\"WHERE ts < DATE 'YYYY-MM-DD'\", metadata-only " +
              "partition drops) or a row predicate (copy-on-write rewrite " +
              "of the affected date partitions)")
          frameKw("where")
          Delete(t, orExpr())
        case "update" =>
          val t = fam()
          frameKw("set")
          val set = assigns("UPDATE")
          frameKw("where")
          Update(t, set, orExpr())
        case "create" =>
          val orReplace = kw("or")
          if (orReplace) frameKw("replace")
          frameKw("family")
          val t = fam()
          frameKw("as")
          CreateFamily(t, orReplace, top())
        case "drop" =>
          frameKw("family")
          val ifExists = kwAt(pos, "if") && kwAt(pos + 1, "exists")
          if (ifExists) pos += 2
          DropFamily(fam(), ifExists)
        case "refresh" =>
          frameKw("rollup")
          val src = fam()
          frameKw("bucket")
          val width = frameStr()
          frameKw("as")
          val label = dirName()
          RefreshRollup(src, width, label, if (kw("into")) Some(fam()) else None)
        case "describe" => Describe(fam())
        case "show" =>
          if (kw("families"))
            ShowFamilies(if (kw("in")) Some(dirName()) else None)
          else { frameKw("partitions"); ShowPartitions(fam()) }
        case "explain" =>
          val modes = Set("formatted", "extended", "codegen", "cost", "simple")
          val mode = peek match {
            case TIdent(m) if modes(m.toLowerCase) => pos += 1; m.toLowerCase
            case _ => "formatted"
          }
          Explain(mode, top())
        case "funnel" =>
          val stepForm = "FUNNEL steps must be series names separated by '->'"
          val steps = Seq.newBuilder[String] += frameIdent(stepForm)
          while (sym("-")) {
            if (!sym(">")) refuse(stepForm)
            steps += frameIdent(stepForm)
          }
          frameKw("by")
          val by = frameIdent()
          val within = if (kw("within")) Some(frameStr()) else None
          frameKw("from")
          Funnel(steps.result(), by, within, fam())
        case "retention" =>
          frameKw("by")
          val by = frameIdent()
          val maxDays =
            if (!kw("max")) None
            else { val n = frameNum("RETENTION MAX", _.toInt); frameKw("days"); Some(n) }
          frameKw("from")
          Retention(by, maxDays, fam())
        case "outliers" =>
          val series = frameIdent()
          val k = if (kw("k")) Some(frameNum("OUTLIERS K", _.toDouble)) else None
          frameKw("from")
          Outliers(series, k, fam())
      }
      if (peek != TEnd) refuse()
      st
    }

    /** `MERGE INTO fam USING ( top ) [AS src] when+`. The WHEN clauses
      * are parsed and checked first (see [[Parser.parseStatement]]),
      * then the USING query. */
    private def merge(): Merge = {
      frameKw("into")
      val t = fam()
      frameKw("using")
      if (peek != TSym("(")) refuse()
      val open = pos
      // the USING query ends at the matching ')'
      var depth = 0
      val close = toks.indexWhere({
        case TSym("(") => depth += 1; false
        case TSym(")") => depth -= 1; depth == 0
        case _ => false
      }, pos)
      if (close < 0) refuse(
        "MERGE USING (<select>) is missing its closing parenthesis")
      pos = close + 1
      if (kw("as")) frameKw("src")
      if (!peekIsKw("when")) refuse(
        "MERGE needs at least one WHEN clause after USING (<select>)")
      val clauses = Seq.newBuilder[MergeClause]
      while (kw("when")) clauses += mergeClause()
      checkMerge(clauses.result())
      val end = pos
      pos = open + 1
      val using = top()
      if (pos != close) throw ParseException(s"expected ')', got $peek")
      pos = end
      Merge(t, using, clauses.result())
    }

    /** One WHEN clause of MERGE, after its WHEN. */
    private def mergeClause(): MergeClause = {
      def malformed(): Nothing = refuse(
        s"malformed MERGE clause at $peek — expected " +
          "WHEN MATCHED [AND <cond>] THEN UPDATE|DELETE, " +
          "WHEN NOT MATCHED THEN INSERT or " +
          "WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | " +
          "UPDATE SET <target> = <expr>[, …]")
      def cond(): Option[BExpr] = if (kw("and")) Some(orExpr()) else None
      def thenKw(): Unit = if (!kw("then")) malformed()
      val clause =
        if (kw("matched")) {
          val c = cond()
          thenKw()
          if (kw("update")) WhenMatched(c, "update")
          else if (kw("delete")) WhenMatched(c, "delete")
          else malformed()
        } else if (!(kw("not") && kw("matched"))) malformed()
        else if (!kw("by")) {
          thenKw()
          if (!kw("insert")) malformed()
          WhenNotMatched
        } else {
          // WHEN NOT MATCHED BY SOURCE — the MIRROR-SYNC clauses over
          // target rows whose key is absent from the batch: no source
          // row exists, so UPDATE spells its SET and INSERT is void
          if (!kw("source")) malformed()
          val c = cond()
          thenKw()
          if (kw("delete")) WhenNotMatchedBySource(c, Nil)
          else if (kw("update")) {
            if (!kw("set")) refuse(
              "WHEN NOT MATCHED BY SOURCE THEN UPDATE needs SET " +
                "assignments — there is no source row to replace with " +
                "for an absent key; spell the target-side rewrite as " +
                "UPDATE SET <target> = <expr>[, …]")
            WhenNotMatchedBySource(c, assigns("MERGE by-source SET"))
          } else if (kw("insert")) refuse(
            "WHEN NOT MATCHED BY SOURCE THEN INSERT is contradictory — " +
              "the clause addresses rows already present in the target")
          else malformed()
        }
      if (peek != TEnd && !peekIsKw("when")) malformed()
      clause
    }

    /** `assigns` — the SET list shared by UPDATE and MERGE's by-source
      * UPDATE (`what` names the clause in refusals). */
    private def assigns(what: String): Seq[Assign] = {
      val targetForm = s"$what target must be a series name (sets its " +
        "value) or series.attribute"
      val b = Seq.newBuilder[Assign]
      do {
        val series = frameIdent(targetForm)
        val attr = if (sym(".")) Some(frameIdent(targetForm)) else None
        if (!sym("=")) refuse("malformed SET assignment " +
          s"'${(series +: attr.toSeq).mkString(".")}' — expected " +
          "<target> = <expression>")
        b += Assign(series, attr, addOperand())
      } while (sym(","))
      b.result()
    }

    /** `top` — a query with its optional WITH bindings. */
    private def top(): QueryStmt = {
      if (kw("with")) {
        var more = true
        while (more) {
          val name = aliasIdent()
          if (cteEnv.contains(name))
            throw ParseException(s"duplicate WITH name '$name'")
          expectKw("as")
          expectSym("(")
          val body = stmt()
          expectSym(")")
          cteEnv += name -> body
          more = sym(",")
        }
      }
      stmt()
    }

    /** `stmt := term ((UNION ALL? | EXCEPT) term)*`,
      * `term := selectBody (INTERSECT selectBody)*` — INTERSECT binds
      * tighter (ANSI). A branch followed by a set-op keyword must not
      * carry ORDER BY/LIMIT (they page the whole compound: only legal
      * after the LAST select, from whose spec they are hoisted up).
      */
    private def stmt(): QueryStmt = {
      def guard(st: QueryStmt, op: String): QueryStmt = {
        val leaf = rightmostLeaf(st)
        if (leaf.orderBy.nonEmpty || leaf.limit.nonEmpty)
          throw ParseException(
            s"ORDER BY/LIMIT must follow the last select of a $op compound")
        st
      }
      def term(): QueryStmt = {
        var left: QueryStmt = selectBody()
        while (kw("intersect")) {
          val op = if (kw("all")) "intersect_all" else "intersect"
          left = SetOpSpec(op, guard(left, "INTERSECT"), selectBody())
        }
        left
      }
      var left: QueryStmt = term()
      var go = true
      while (go) {
        if (kw("union")) {
          val op = if (kw("all")) "union_all" else "union"
          left = SetOpSpec(op, guard(left, "UNION"), term())
        } else if (kw("except")) {
          val op = if (kw("all")) "except_all" else "except"
          left = SetOpSpec(op, guard(left, "EXCEPT"), term())
        }
        else go = false
      }
      left match {
        case q: QuerySpec => q
        case s: SetOpSpec =>
          // the trailing ORDER BY/LIMIT/OFFSET were consumed by the last
          // selectBody — they belong to the compound
          val (stripped, ord, lim, off) = hoistPaging(s)
          stripped.asInstanceOf[SetOpSpec]
            .copy(orderBy = ord, limit = lim, offset = off)
      }
    }

    private def rightmostLeaf(st: QueryStmt): QuerySpec = st match {
      case q: QuerySpec => q
      case s: SetOpSpec => rightmostLeaf(s.right)
    }

    private def hoistPaging(st: QueryStmt)
        : (QueryStmt, Seq[OrderItem], Option[Int], Option[Int]) = st match {
      case q: QuerySpec =>
        (q.copy(orderBy = Seq.empty, limit = None, offset = None),
          q.orderBy, q.limit, q.offset)
      case s: SetOpSpec =>
        val (r2, ord, lim, off) = hoistPaging(s.right)
        (s.copy(right = r2), ord, lim, off)
    }

    /** One full SELECT…, stopping at the first token that can't continue
      * the production (TEnd at top level, `)` when nested as a subquery).
      */
    private def selectBody(): QuerySpec = {
      expectKw("select")
      // optional `/*+ name(arg, …) [,] name(arg, …) */` hint block —
      // Spark's hint-comment placement (right after SELECT)
      val hints: Seq[Hint] =
        if (sym("/*+")) {
          val b = Seq.newBuilder[Hint]
          var more = true
          while (more) {
            val name = ident()
            expectSym("(")
            val args = Seq.newBuilder[String]
            if (peek != TSym(")")) {
              args += ident()
              while (sym(",")) args += ident()
            }
            expectSym(")")
            b += Hint(name.toLowerCase, args.result())
            sym(",") // optional separator between hints
            if (sym("*/")) more = false
            else if (peek == TEnd) throw ParseException("unterminated hint block")
          }
          b.result()
        } else Seq.empty
      val dist = kw("distinct")
      // `DISTINCT ON (keys)` — the Postgres/DuckDB one-row-per-key
      // idiom; keys are names (fields or select aliases), validated
      // against the select list by the Compiler
      val distOn =
        if (dist && kw("on")) {
          expectSym("(")
          val ks = nameList()
          expectSym(")")
          ks
        } else Seq.empty
      val items = selectItems()
      expectKw("from")
      val src = source()
      val joins = joinClauses()
      val where = if (kw("where")) Some(orExpr()) else None
      // ROLLUP/CUBE are contextual (not reserved): only the exact shape
      // `GROUP BY rollup (` is grouping-set syntax, so a series named
      // `rollup` still groups as a plain key — no dialect-compat break.
      val (grp, gmode, gsets) =
        if (kw("group")) {
          expectKw("by")
          // `GROUP BY ALL` (DuckDB idiom): desugar at parse time to the
          // non-aggregate select items — plain fields by name,
          // expression items by their alias (the `GROUP BY d` pattern);
          // aggregate, window and scalar-subquery items are the
          // aggregation output, never keys
          if (kw("all")) {
            val keys = items.collect {
              case FieldItem(n) => n
              case ExprItem(e, nm) if groupableExpr(e) => RawName(Seq(nm))
            }
            if (keys.isEmpty) throw ParseException(
              "GROUP BY ALL found no non-aggregate select items to group by")
            (keys, "plain", Seq.empty[Seq[RawName]])
          }
          // `GROUP BY GROUPING SETS (` — contextual like ROLLUP/CUBE: a
          // series named `grouping` still groups as a plain key
          else if (peekIsKw("grouping") && kwAt(pos + 1, "sets") &&
              toks(pos + 2) == TSym("(")) {
            pos += 2; expectSym("(")
            val sets = groupingSetList(items)
            expectSym(")")
            // groupBy = first-appearance-ordered union of all set keys
            val union = sets.flatten.foldLeft(Vector.empty[RawName])(
              (acc, n) => if (acc.contains(n)) acc else acc :+ n)
            (union: Seq[RawName], "sets", sets)
          } else {
            val mode =
              if ((peekIsKw("rollup") || peekIsKw("cube")) &&
                  toks(pos + 1) == TSym("(")) {
                val m = ident().toLowerCase; expectSym("("); m
              } else "plain"
            val g = groupList(items)
            if (mode != "plain") expectSym(")")
            (g, mode, Seq.empty[Seq[RawName]])
          }
        } else (Seq.empty[RawName], "plain", Seq.empty[Seq[RawName]])
      // FILL is contextual (like FILTER/ROLLUP): only the exact shape
      // `FILL (` directly after a GROUP BY key list is the gap-fill
      // clause, so a series named `fill` is unaffected
      val fillSpec =
        if (grp.nonEmpty && peekIsKw("fill") &&
            (pos + 1) < toks.length && toks(pos + 1) == TSym("(")) {
          pos += 2
          val f = peek match {
            case TIdent(id) if id.equalsIgnoreCase("null") =>
              pos += 1; FillSpec("null")
            case TIdent(id) if id.equalsIgnoreCase("previous") =>
              pos += 1; FillSpec("previous")
            case TIdent(id) if id.equalsIgnoreCase("linear") =>
              pos += 1; FillSpec("linear")
            case TNum(s) => pos += 1; FillSpec("value", Some(s.toDouble))
            case TSym("-") => toks(pos + 1) match {
              case TNum(s) => pos += 2; FillSpec("value", Some(-s.toDouble))
              case t => throw ParseException(
                s"FILL(-…) expects a numeric literal, got $t")
            }
            case t => throw ParseException(
              s"FILL mode must be null, previous, linear or a numeric " +
                s"literal, got $t")
          }
          expectSym(")")
          Some(f)
        } else None
      val having = if (kw("having")) Some(orExpr()) else None
      // QUALIFY is reserved (like HAVING — it must not parse as a source
      // alias); a series named `qualify` needs backticks
      val qual = if (kw("qualify")) Some(orExpr()) else None
      // WINDOW w AS ( spec ) [, w2 AS ( spec )]* — named windows every
      // OVER w in this query level refers to (the ANSI clause, DuckDB
      // clause order: after QUALIFY, before ORDER BY). Contextual: only
      // the exact shape `WINDOW ident AS` opens the clause, so a series
      // named `window` is unaffected.
      val wins: Map[String, (Seq[RawName],
          Seq[(RawName, Boolean, Option[Boolean])], Option[WFrame])] =
        if (peekIsKw("window") && (toks(pos + 1) match {
              case TIdent(id) => !keywords(id.toLowerCase)
              case _: TQuoted => true
              case _ => false
            }) && kwAt(pos + 2, "as")) {
          pos += 1
          val b = scala.collection.mutable.LinkedHashMap.empty[String,
            (Seq[RawName], Seq[(RawName, Boolean, Option[Boolean])],
              Option[WFrame])]
          def one(): Unit = {
            val nm = ident().toLowerCase
            if (b.contains(nm)) throw ParseException(
              s"window '$nm' is defined twice in the WINDOW clause")
            expectKw("as")
            expectSym("(")
            b(nm) = overBody()
            expectSym(")")
          }
          one()
          while (sym(",")) one()
          b.toMap
        } else Map.empty
      val ord =
        if (kw("order")) {
          expectKw("by")
          // `ORDER BY ALL` (DuckDB idiom): every select item left to
          // right, one direction (and NULLS placement) for all
          if (kw("all")) {
            val asc = if (kw("desc")) false else { kw("asc"); true }
            val nf = nullsOrder()
            items.map(it => OrderItem(it, asc, nf))
          } else orderList()
        } else Seq.empty
      val lim = if (kw("limit")) Some(intLit()) else None
      // OFFSET only with LIMIT (an un-limited offset over an unordered
      // engine is a paging bug, not a query)
      val off = if (lim.isDefined && kw("offset")) Some(intLit()) else None
      substWindows(QuerySpec(items, src, joins, where, grp, having, ord,
        lim, dist, off, gmode, gsets, hints, qual, fillSpec, distOn), wins)
    }

    /** Replace every `OVER <name>` reference (parked under
      * [[Parser.WinRefMark]]) with its WINDOW-clause specification.
      * Window names scope to their own query level (ANSI): a nested
      * subquery resolved its own references when IT parsed, so the
      * rewrite never descends into nested QuerySpecs — an inner query
      * using an outer window name fails there, correctly.
      */
    private def substWindows(q: QuerySpec, wins: Map[String, (Seq[RawName],
        Seq[(RawName, Boolean, Option[Boolean])], Option[WFrame])])
        : QuerySpec = {
      def rewOp(o: Operand): Operand = o match {
        case OWin(fn, args, Seq(RawName(Seq(Parser.WinRefMark, nm))), _, _) =>
          wins.get(nm) match {
            case Some((p, o2, f)) => OWin(fn, args.map(rewOp), p, o2, f)
            case None => throw ParseException(
              s"OVER $nm references no named window — define it in a " +
                s"WINDOW clause: WINDOW $nm AS (PARTITION BY ... ORDER BY ...)")
          }
        case OWin(fn, args, p, o2, f) => OWin(fn, args.map(rewOp), p, o2, f)
        case OArith(op, l, r)    => OArith(op, rewOp(l), rewOp(r))
        case ONeg(x)             => ONeg(rewOp(x))
        case OFn(f, as)          => OFn(f, as.map(rewOp))
        case OCast(x, t)         => OCast(rewOp(x), t)
        case OAggX(f, e, ps, a2) => OAggX(f, rewOp(e), ps, a2.map(rewOp))
        case OCase(bs, el) =>
          OCase(bs.map { case (c, v) => (rewB(c), rewOp(v)) }, el.map(rewOp))
        // leaves (and OScalarSub: its body is its own window scope)
        case other => other
      }
      def rewB(e: BExpr): BExpr = e match {
        case Cmp(op, l, r)      => Cmp(op, rewOp(l), rewOp(r))
        case AndE(l, r)         => AndE(rewB(l), rewB(r))
        case OrE(l, r)          => OrE(rewB(l), rewB(r))
        case NotE(x)            => NotE(rewB(x))
        case IsNullE(o, n)      => IsNullE(rewOp(o), n)
        case InE(o, xs, n)      => InE(rewOp(o), xs.map(rewOp), n)
        case BetweenE(o, lo, hi, n) =>
          BetweenE(rewOp(o), rewOp(lo), rewOp(hi), n)
        case LikeE(o, p2, n)    => LikeE(rewOp(o), p2, n)
        case InSubE(o, s2, n)   => InSubE(rewOp(o), s2, n)
        case QuantE(op, o, s2, n) => QuantE(op, rewOp(o), s2, n)
        case other              => other // ExistsE: own scope
      }
      def rewItem(it: SelectItem): SelectItem = it match {
        case ExprItem(e, nm) => ExprItem(rewOp(e), nm)
        case other           => other
      }
      q.copy(
        select = q.select.map(rewItem),
        // JOIN ON conditions too: a window call there is still rejected
        // downstream, but an unresolved `OVER w` marker must not leak
        // past the parser — resolve it here so the later rejection
        // carries the intended diagnostics, not a NUL-marker confusion
        joins = q.joins.map(j => j.copy(on = j.on.map(rewB))),
        where = q.where.map(rewB),
        having = q.having.map(rewB),
        qualify = q.qualify.map(rewB),
        orderBy = q.orderBy.map(oi => oi.copy(item = rewItem(oi.item))))
    }

    /** `JOIN src ON cond` (INNER optional), `LEFT|RIGHT|FULL [OUTER]
      * JOIN src ON cond`, `CROSS JOIN src`, or the comma form `, src`
      * (cross join via FROM list — the TiDB join-tree shape the
      * reference captures, joinparser.go:86-97; the outer-join family
      * is a dialect extension beyond the reference's inner/cross-only
      * grammar).
      */
    private def joinClauses(): Seq[JoinClause] = {
      val b = Seq.newBuilder[JoinClause]
      var more = true
      while (more) {
        def outerJoin(): Option[String] =
          if (kw("left")) Some("left")
          else if (kw("right")) Some("right")
          else if (kw("full")) Some("full")
          else None
        if (sym(",")) b += JoinClause(source(), None)
        else if (kw("cross")) { expectKw("join"); b += JoinClause(source(), None) }
        // ASOF JOIN: equi keys in ON, time matching implicit — for each
        // left row, the latest right row at or before its time (the
        // DuckDB/QuestDB time-series join; inner semantics). Options:
        // `ASOF FORWARD JOIN` flips to earliest-at-or-after;
        // `ASOF NEAREST JOIN` takes whichever direction sits closer
        // (ties prefer backward);
        // `… ON cond WITHIN '5 minutes'` bounds how far the match may
        // sit from the left row's time (beyond-tolerance rows drop).
        else if (kw("asof")) {
          val direction =
            if (kw("forward")) "forward"
            else if (kw("nearest")) "nearest"
            else { kw("backward"); "backward" } // backward is the default
          expectKw("join")
          val s = source()
          expectKw("on")
          val cond = andExpr()
          val within = if (kw("within")) peek match {
            case TStr(iv) => pos += 1; Some(iv)
            case t => throw ParseException(
              s"WITHIN expects a quoted interval like '5 minutes', got $t")
          } else None
          b += JoinClause(s, Some(cond), "asof",
            Some(AsofOpts(within, direction)))
        }
        else outerJoin() match {
          case Some(jt) =>
            kw("outer") // optional
            expectKw("join")
            val s = source()
            expectKw("on")
            b += JoinClause(s, Some(andExpr()), jt)
          case None =>
            if (kw("inner") || peekIsKw("join")) {
              expectKw("join")
              val s = source()
              expectKw("on")
              b += JoinClause(s, Some(andExpr()))
            } else more = false
        }
      }
      b.result()
    }

    private def peekIsKw(s: String): Boolean = kwAt(pos, s)
    private def kwAt(i: Int, s: String): Boolean = i < toks.length &&
      (toks(i) match {
        case TIdent(id) => id.equalsIgnoreCase(s)
        case _ => false
      })

    /** True when an expression can serve as a GROUP BY ALL key: it
      * contains no aggregate, window, or scalar-subquery call anywhere.
      */
    private def groupableExpr(o: Operand): Boolean = o match {
      case _: OAgg | _: OAggX | _: OWin | _: OScalarSub => false
      case OArith(_, l, r) => groupableExpr(l) && groupableExpr(r)
      case ONeg(x)         => groupableExpr(x)
      case OFn(_, as)      => as.forall(groupableExpr)
      case OCast(x, _)     => groupableExpr(x)
      case OCase(bs, o2)   =>
        bs.forall { case (c, v) => groupableCond(c) && groupableExpr(v) } &&
          o2.forall(groupableExpr)
      case _ => true
    }
    private def groupableCond(e: BExpr): Boolean = e match {
      case Cmp(_, l, r)           => groupableExpr(l) && groupableExpr(r)
      case IsNullE(x, _)          => groupableExpr(x)
      case InE(x, xs, _)          => groupableExpr(x) && xs.forall(groupableExpr)
      case BetweenE(x, lo, hi, _) =>
        groupableExpr(x) && groupableExpr(lo) && groupableExpr(hi)
      case LikeE(x, _, _)         => groupableExpr(x)
      case AndE(l, r)             => groupableCond(l) && groupableCond(r)
      case OrE(l, r)              => groupableCond(l) && groupableCond(r)
      case NotE(x)                => groupableCond(x)
      case _: InSubE | _: ExistsE | _: QuantE => false
    }

    /** Optional `FILTER (WHERE cond)` after an aggregate call. FILTER is
      * contextual (not reserved): only the exact `FILTER (` shape engages,
      * so a series named `filter` keeps working.
      */
    private def filterClause(): Option[BExpr] =
      if (peekIsKw("filter") && toks(pos + 1) == TSym("(")) {
        pos += 1; expectSym("("); expectKw("where")
        val c = nested(orExpr())
        expectSym(")")
        Some(c)
      } else None

    private def selectItems(): Seq[SelectItem] = {
      val b = Seq.newBuilder[SelectItem]
      var i = 0
      b += selectItem(i)
      while (sym(",")) { i += 1; b += selectItem(i) }
      b.result()
    }

    /** `add (AS ident)?` — a bare field ref or aggregate call keeps its
      * legacy item class (and with it the `cpu_host` / `count_star`
      * output-name conventions); anything computed, or anything aliased,
      * becomes an [[ExprItem]].
      */
    private def selectItem(idx: Int): SelectItem = {
      val e = addOperand()
      val alias = if (kw("as")) Some(aliasIdent()) else None
      (e, alias) match {
        case (ORef(n), None)     => FieldItem(n)
        case (OAgg(f, a), None)  => AggItem(f, a)
        case (expr, al)          => ExprItem(expr, al.getOrElse(s"expr_$idx"))
      }
    }

    private def rawName(): RawName = {
      val b = Seq.newBuilder[String]
      b += ident()
      var k = 1
      while (k < 3 && peek == TSym(".")) { pos += 1; b += ident(); k += 1 }
      RawName(b.result())
    }

    private def nameList(): Seq[RawName] = {
      val b = Seq.newBuilder[RawName]
      b += rawName()
      while (sym(",")) b += rawName()
      b.result()
    }

    /** GROUP BY entries: a name, an ordinal naming a select position, or
      * a full expression structurally matching a select item's expression
      * (`GROUP BY bucket(ts, '1 hour')` with
      * `SELECT bucket(ts, '1 hour') AS h`) — all desugared here against
      * the already-parsed select list to the item's name/alias; an
      * aggregate is an error.
      */
    private def groupKey(items: Seq[SelectItem]): RawName =
      nested(addOperand()) match {
        case OLit(BInt(p)) =>
          if (p < 1 || p > items.length)
            throw ParseException(
              s"GROUP BY position $p is out of range 1..${items.length}")
          items(p.toInt - 1) match {
            case FieldItem(n)    => n
            case ExprItem(_, nm) => RawName(Seq(nm))
            case _: AggItem => throw ParseException(
              s"GROUP BY position $p names an aggregate")
          }
        case ORef(n) => n
        case _: OAgg | _: OAggX =>
          throw ParseException("GROUP BY cannot name an aggregate")
        case e =>
          items.collectFirst {
            case ExprItem(e2, nm) if e2 == e => RawName(Seq(nm))
          }.getOrElse(throw ParseException(
            "GROUP BY expression must match a select item " +
              "(or alias the item and group by the alias)"))
      }

    private def groupList(items: Seq[SelectItem]): Seq[RawName] = {
      val b = Seq.newBuilder[RawName]
      b += groupKey(items)
      while (sym(",")) b += groupKey(items)
      b.result()
    }

    /** `GROUPING SETS ( set (, set)* )` where `set := ( keys? ) | key` —
      * a bare key is its singleton set, `()` the grand total (ANSI).
      */
    private def groupingSetList(items: Seq[SelectItem]): Seq[Seq[RawName]] = {
      def one(): Seq[RawName] =
        if (sym("(")) {
          if (sym(")")) Seq.empty
          else { val ks = groupList(items); expectSym(")"); ks }
        } else Seq(groupKey(items))
      val b = Seq.newBuilder[Seq[RawName]]
      b += one()
      while (sym(",")) b += one()
      b.result()
    }

    /** `NULLS FIRST|LAST` after a sort direction — contextual (only the
      * exact two-word shape engages, so a series named `nulls` still
      * sorts as a key).
      */
    private def nullsOrder(): Option[Boolean] =
      if (peekIsKw("nulls") &&
          (kwAt(pos + 1, "first") || kwAt(pos + 1, "last"))) {
        pos += 1
        Some(ident().equalsIgnoreCase("first"))
      } else None

    private def orderList(): Seq[OrderItem] = {
      val b = Seq.newBuilder[OrderItem]
      var i = 0
      def one(): OrderItem = {
        val it = selectItem(i); i += 1
        val asc = if (kw("desc")) false else { kw("asc"); true }
        OrderItem(it, asc, nullsOrder())
      }
      b += one()
      while (sym(",")) b += one()
      b.result()
    }

    /** `src := dom.family [AS al] | ( stmt ) AS al` — a derived table
      * (`FROM (SELECT …) AS t`, also usable as a JOIN operand) wraps a
      * full statement, set-op compounds included; ANSI requires its
      * alias.
      */
    private def source(): FromRel = {
      if (sym("(")) {
        // nested(): derived tables recurse stmt() → selectBody() →
        // source(), so adversarially deep FROM nesting must hit the
        // same bounded ParseException as deep expressions, not a
        // StackOverflowError
        val st = nested(stmt())
        expectSym(")")
        sourceAlias() match {
          case Some(a) => SubSource(st, a)
          case None => throw ParseException(
            "derived table requires an alias: (SELECT …) AS name")
        }
      } else if ((peek match {
        case TIdent(id) => id.equalsIgnoreCase("attributes")
        case _ => false
      }) && toks(pos + 1) == TSym("(")) {
        // ATTRIBUTES(dom.fam, series): the attribute-UNNEST source —
        // flat (ts, akey, avalue) rows for dynamic-key aggregation
        pos += 1
        expectSym("(")
        val dom = ident()
        expectSym(".")
        val famName = ident()
        expectSym(",")
        val series = ident()
        expectSym(")")
        AttrSource(dom, famName, series, sourceAlias())
      } else {
        val first = ident()
        if (sym(".")) {
          val family = ident()
          Source(first, family, sourceAlias())
        } else cteEnv.get(first) match {
          // a bare name is a CTE reference; it substitutes as a derived
          // table aliased by the CTE name unless re-aliased at the use
          case Some(body) => SubSource(body, sourceAlias().getOrElse(first))
          case None => throw ParseException(
            s"source '$first' must be domain.family or a WITH-defined name")
        }
      }
    }

    private def sourceAlias(): Option[String] = peek match {
      case TIdent(id) if id.equalsIgnoreCase("as") => pos += 1; Some(aliasIdent())
      // the exact clause shape `WINDOW <ident> AS` is the named-window
      // clause, never a bare alias (a source genuinely named `window`
      // spells `AS window` or backticks) — without this carve-out
      // `FROM dom.f WINDOW w AS (…)` would eat WINDOW as the alias
      case TIdent(id) if id.equalsIgnoreCase("window") &&
          (toks(pos + 1) match {
            case TIdent(n) =>
              !keywords.contains(n.toLowerCase) && kwAt(pos + 2, "as")
            case _ => false
          }) => None
      case TIdent(id) if !keywords.contains(id.toLowerCase) => pos += 1; Some(id)
      case TQuoted(id) => pos += 1; Some(id)
      case _ => None
    }

    private def orExpr(): BExpr = {
      var e = andExpr()
      while (kw("or")) e = OrE(e, andExpr())
      e
    }

    private def andExpr(): BExpr = {
      var e = cmpExpr()
      while (kw("and")) e = AndE(e, cmpExpr())
      e
    }

    /** `( …` could open a boolean group or an arithmetic operand: try the
      * comparison production first; on failure at an opening paren,
      * backtrack and reparse as `( or )`.
      */
    private def cmpExpr(): BExpr =
      if (kw("not")) NotE(nested(cmpExpr()))
      // EXISTS (SELECT …): a whole predicate on its own (no left operand)
      else if (kw("exists")) {
        expectSym("(")
        val sub = nested(selectBody())
        expectSym(")")
        ExistsE(sub, negated = false)
      }
      else {
        val save = pos
        try comparison()
        catch {
          case e: ParseException if e.getMessage.startsWith("expression nesting") =>
            throw e // never retry a depth overflow as a boolean group
          case e: ParseException =>
            if (toks(save) == TSym("(")) {
              pos = save
              expectSym("(")
              val x = nested(orExpr())
              expectSym(")")
              x
            } else throw e
        }
      }

    private def comparison(): BExpr = {
      val l = addOperand()
      if (kw("is")) {
        val neg = kw("not")
        expectKw("null")
        IsNullE(l, neg)
      } else {
        // `NOT` here (between operand and predicate) is the infix form:
        // IN / BETWEEN / LIKE only — prefix NOT is cmpExpr's job
        val neg = kw("not")
        if (kw("in")) {
          expectSym("(")
          // `IN (SELECT …)` is the subquery form; `IN (e1, e2, …)` the
          // value-list form — disambiguated by the first keyword
          if (peekIsKw("select")) {
            val sub = nested(selectBody())
            expectSym(")")
            InSubE(l, sub, neg)
          } else {
            val b = Seq.newBuilder[Operand]
            b += addOperand()
            while (sym(",")) b += addOperand()
            expectSym(")")
            InE(l, b.result(), neg)
          }
        } else if (kw("between")) {
          // the BETWEEN…AND binds tighter than the boolean AND: the
          // bounds are arithmetic operands, which never consume AND
          val lo = addOperand()
          expectKw("and")
          BetweenE(l, lo, addOperand(), neg)
        } else if (kw("like")) {
          next() match {
            case TStr(p) => LikeE(l, p, neg)
            case t => throw ParseException(s"LIKE pattern must be a string, got $t")
          }
        } else if (neg) {
          throw ParseException(s"expected IN, BETWEEN or LIKE after NOT, got $peek")
        } else {
          val op = next() match {
            case TSym(s) if Set(">=", "<=", "!=", "<>", "==", "=", "<", ">").contains(s) =>
              if (s == "==") "=" else if (s == "<>") "!=" else s
            case t => throw ParseException(s"expected comparison operator, got $t")
          }
          // quantified comparison: `op ANY|ALL (SELECT …)` — contextual
          // (only the exact keyword-paren shape engages, so series named
          // any/all keep comparing). Ordered operators only: `= ANY` IS
          // the IN predicate and `!= ALL` IS NOT IN — refused with that
          // pointer rather than silently duplicating them.
          if ((peekIsKw("any") || peekIsKw("all")) &&
              (pos + 1) < toks.length && toks(pos + 1) == TSym("(")) {
            val quant = ident().toLowerCase
            if (!Set(">", ">=", "<", "<=").contains(op))
              throw ParseException(
                s"$op ${quant.toUpperCase} is not supported — spell " +
                  "= ANY as IN and != ALL as NOT IN")
            expectSym("(")
            if (!peekIsKw("select"))
              throw ParseException(
                s"${quant.toUpperCase} expects a (SELECT …) subquery")
            val sub = nested(selectBody())
            expectSym(")")
            def flip(o: String): String = o match {
              case ">" => "<="; case ">=" => "<"
              case "<" => ">="; case "<=" => ">"
            }
            // x op ALL s  ≡  NOT (x flip(op) ANY s)
            if (quant == "any") QuantE(op, l, sub, negated = false)
            else QuantE(flip(op), l, sub, negated = true)
          } else Cmp(op, l, addOperand())
        }
      }
    }

    private def addOperand(): Operand = {
      var e = mulOperand()
      var go = true
      while (go) {
        if (sym("+")) e = OArith("+", e, mulOperand())
        else if (sym("-")) e = OArith("-", e, mulOperand())
        else go = false
      }
      e
    }

    private def mulOperand(): Operand = {
      var e = unaryOperand()
      var go = true
      while (go) {
        if (sym("*")) e = OArith("*", e, unaryOperand())
        else if (sym("/")) e = OArith("/", e, unaryOperand())
        else go = false
      }
      e
    }

    private def unaryOperand(): Operand =
      if (sym("-")) nested(unaryOperand()) match {
        case OLit(BInt(v))   => OLit(BInt(-v))
        case OLit(BFloat(v)) => OLit(BFloat(-v))
        case x               => ONeg(x)
      }
      else primaryOperand()

    private def primaryOperand(): Operand = peek match {
      case TNum(s) =>
        pos += 1
        if (s.contains('.')) OLit(BFloat(s.toDouble)) else OLit(BInt(s.toLong))
      case TStr(s) => pos += 1; OLit(BStr(s))
      // contextual: only the exact `INTERVAL '<text>'` shape engages, so
      // a series named `interval` still resolves as an identifier
      case TIdent(id) if id.equalsIgnoreCase("interval") &&
          (toks(pos + 1) match { case TStr(_) => true; case _ => false }) =>
        pos += 1
        val TStr(iv) = toks(pos): @unchecked
        pos += 1
        OInterval(iv)
      // contextual like INTERVAL: `DATE '<text>'` / `TIMESTAMP '<text>'`
      // typed literals (ANSI), validated HERE so a malformed literal is
      // a parse error naming the text; they desugar to the to_date /
      // to_timestamp scalar builtins (a cast of a literal — Catalyst
      // constant-folds it, so a `ts < TIMESTAMP '…'` bound still pushes
      // into the scan as a plain ts filter)
      case TIdent(id) if (id.equalsIgnoreCase("date") ||
          id.equalsIgnoreCase("timestamp")) &&
          (toks(pos + 1) match { case TStr(_) => true; case _ => false }) =>
        val isDate = id.equalsIgnoreCase("date")
        pos += 1
        val TStr(txt) = toks(pos): @unchecked
        pos += 1
        val ok =
          if (isDate) scala.util.Try(java.sql.Date.valueOf(txt)).isSuccess
          else scala.util.Try(java.sql.Timestamp.valueOf(txt)).isSuccess
        if (!ok) throw ParseException(
          s"malformed ${id.toUpperCase} literal '$txt'" +
            (if (isDate) " — expected 'YYYY-MM-DD'"
            else " — expected 'YYYY-MM-DD HH:MM:SS[.ffffff]'"))
        OFn(if (isDate) "to_date" else "to_timestamp",
          Seq(OLit(BStr(txt))))
      case TIdent(id) if id.equalsIgnoreCase("true") => pos += 1; OLit(BBool(true))
      case TIdent(id) if id.equalsIgnoreCase("false") => pos += 1; OLit(BBool(false))
      case TIdent(id) if id.equalsIgnoreCase("null") => pos += 1; OLit(BNull)
      case TIdent(id) if aggFns.contains(id.toLowerCase) &&
          toks(pos + 1) == TSym("(") =>
        pos += 2
        // COUNT(DISTINCT x) — distinct is count-only (the useful form;
        // SUM/AVG DISTINCT are rejected as a parse error, not silently
        // computed as their non-distinct cousins)
        if (kw("distinct")) {
          if (!id.equalsIgnoreCase("count"))
            throw ParseException(s"DISTINCT is only supported in count(), not $id()")
          val arg = nested(addOperand())
          expectSym(")")
          if (peekIsKw("filter") && toks(pos + 1) == TSym("("))
            throw ParseException(
              "FILTER is not supported with DISTINCT aggregates")
          arg match {
            case ORef(n) => OAgg("count_distinct", Some(n))
            case e       => OAggX("count_distinct", e)
          }
        } else if (id.equalsIgnoreCase("histogram")) {
          // histogram(x, lo, hi, nbins): fixed-bin distribution counts
          // over [lo, hi) — nbins comma-joined bin counts as ONE string
          // column (engine-portable output, cross-engine hashable).
          // Bounds and bin count are literals, so the whole thing
          // compiles to nbins conditional sums: constant per-group
          // state, map-side combined — a distribution summary that
          // costs one hash aggregate however large the group.
          val x = nested(addOperand())
          def num(what: String): Double = {
            expectSym(",")
            peek match {
              case TNum(v) => pos += 1; v.toDouble
              case TSym("-") => toks(pos + 1) match {
                case TNum(v) => pos += 2; -v.toDouble
                case t => throw ParseException(
                  s"histogram() $what must be a numeric literal, got $t")
              }
              case t => throw ParseException(
                s"histogram() $what must be a numeric literal, got $t")
            }
          }
          val lo = num("lo"); val hi = num("hi"); val nb = num("bin count")
          expectSym(")")
          if (nb != math.floor(nb) || nb < 1 || nb > 256)
            throw ParseException(
              "histogram() bin count must be an integer in [1, 256]")
          if (!(hi > lo))
            throw ParseException("histogram() needs hi > lo")
          filterClause() match {
            case Some(c) =>
              OAggX("histogram", OCase(Seq((c, x)), None), Seq(lo, hi, nb))
            case None => OAggX("histogram", x, Seq(lo, hi, nb))
          }
        } else if (id.equalsIgnoreCase("histogram_merge")) {
          // histogram_merge(h, nbins): elementwise sum of histogram()
          // count strings — the two-level rollup (partial histograms
          // per group/day, merged at read) that pairs with
          // histogram_quantile. nbins must match the partials' bin
          // count (a literal, so the merge compiles to nbins plain
          // sums — the same constant-state shape as histogram itself).
          val x = nested(addOperand())
          expectSym(",")
          val nb = peek match {
            case TNum(s) if !s.contains('.') &&
                s.toLong >= 1 && s.toLong <= 256 =>
              pos += 1; s.toDouble
            case t => throw ParseException(
              s"histogram_merge() bin count must be an integer literal " +
                s"in [1, 256], got $t")
          }
          expectSym(")")
          filterClause() match {
            case Some(c) =>
              OAggX("histogram_merge", OCase(Seq((c, x)), None), Seq(nb))
            case None => OAggX("histogram_merge", x, Seq(nb))
          }
        } else if (corrFns.contains(id.toLowerCase)) {
          // corr(x, y) / covar_pop(x, y) / covar_samp(x, y): parsed as
          // two-argument calls, then DESUGARED here into arithmetic over
          // plain sum() aggregates (the stddev/zscore exact-sums trick:
          // over integral inputs every sum is exact and order-
          // independent, so the remaining double tail is a fixed IEEE
          // sequence — cross-engine stable where the builtin streaming
          // co-moment updates are not). Desugaring at parse time means
          // the whole existing machinery — structural aggregate dedup,
          // HAVING/ORDER BY references, grouped compilation — applies
          // with zero compiler plumbing. ANSI pair semantics: rows where
          // EITHER argument is null drop from every sum (the CASE
          // guard); FILTER (WHERE c) conjoins into the same guard.
          val fn = id.toLowerCase
          val x = nested(addOperand())
          expectSym(",")
          val y = nested(addOperand())
          expectSym(")")
          corrDesugar(fn, x, y, filterClause())
        } else if (id.equalsIgnoreCase("percentile") ||
            id.equalsIgnoreCase("approx_percentile") ||
            id.equalsIgnoreCase("approx_percentile_merge")) {
          // percentile(x, p): exact interpolated percentile
          // (PERCENTILE_CONT); approx_percentile(x, p): the same
          // estimate over a k-bounded deterministic row sample
          // (KmvSampleAgg — mergeable partial state, the 100 TB tier).
          // p must be a numeric literal in [0, 1]. The fraction rides
          // in OAggX.params as its parsed Double, so the whole OAggX
          // machinery (structural dedup across SELECT/HAVING/ORDER BY,
          // FILTER desugar) applies unchanged and textual variants of
          // one fraction are one aggregate.
          val fn = id.toLowerCase
          val parg = nested(addOperand())
          expectSym(",")
          val p = peek match {
            case TNum(s) if s.toDouble >= 0.0 && s.toDouble <= 1.0 =>
              pos += 1; s.toDouble
            case t => throw ParseException(
              s"$fn() fraction must be a numeric literal in [0, 1], got $t")
          }
          expectSym(")")
          filterClause() match {
            case Some(c) => OAggX(fn, OCase(Seq((c, parg)), None), Seq(p))
            case None    => OAggX(fn, parg, Seq(p))
          }
        } else if (id.equalsIgnoreCase("twa")) {
          // twa(x [, '<bucket width>']): time-weighted average. The
          // optional width routes the lead-segment pre-pass through the
          // bucket-then-stitch decomposition — the hot-key escape: the
          // per-key segment window serializes one task per key, the
          // bucketed form fans a hot key out over its time buckets.
          // Bit-equal over integral inputs (identical segment multiset,
          // identical exact sums); the width rides in OAggX.arg2 like
          // string_agg's separator, so structural dedup across
          // SELECT/HAVING/ORDER BY includes it.
          if (sym("*")) {
            // keep the legacy OAgg(*) shape so the compiler's
            // "twa(*) is not valid" refusal fires as before
            expectSym(")")
            OAgg("twa", None)
          } else {
          val parg = nested(addOperand())
          val width = if (sym(",")) peek match {
            case TStr(w) => pos += 1; Some(OLit(BStr(w)): Operand)
            case t => throw ParseException(
              s"twa() bucket width must be a string literal like " +
                s"'1 day', got $t")
          } else None
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            "twa is not supported as a window function")
          filterClause() match {
            case Some(c) => OAggX("twa", OCase(Seq((c, parg)), None),
              Nil, width)
            case None    => OAggX("twa", parg, Nil, width)
          }
          }
        } else if (id.equalsIgnoreCase("xcorr")) {
          // xcorr(x, y, k): lag-k CROSS-correlation — Pearson corr of
          // (xᵢ, yᵢ₊ₖ) pairs in time order ("does x lead y by k
          // steps?" — the lead-lag probe; k = 0 is same-time
          // correlation on the aligned axis). Same machinery as acf
          // (acf(x, k) ≡ xcorr(x, x, k)); same FILTER/OVER refusals.
          val x = nested(addOperand())
          expectSym(",")
          val y = nested(addOperand())
          expectSym(",")
          val kk = peek match {
            case TNum(s) if s.matches("\\d{1,5}") && s.toLong <= 10000 =>
              pos += 1; s.toInt
            case t => throw ParseException(
              s"xcorr() lag must be an integer literal in [0, 10000], got $t")
          }
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            "xcorr is not supported as a window function")
          filterClause().foreach(_ => throw ParseException(
            "xcorr() does not support FILTER — dropping rows re-meshes " +
              "which points sit k apart; filter in WHERE or a subquery"))
          OAggX("xcorr", x, Seq(kk.toDouble), Some(y))
        } else if (id.equalsIgnoreCase("acf")) {
          // acf(x, k): lag-k autocorrelation — Pearson correlation of
          // the group's consecutive (xᵢ, xᵢ₊ₖ) pairs on the time axis
          // ("does this metric echo itself k steps later?" — the
          // seasonality probe pairing holt_winters' literal period).
          // k is a positive integer literal so the lead() frame pins at
          // compile time. No FILTER: dropping rows re-meshes which
          // points are k apart — filter in WHERE or a subquery, where
          // the lag structure is explicit. No OVER: the pre-aggregation
          // lead() pass is itself a window — nesting is not defined.
          val x = nested(addOperand())
          expectSym(",")
          val kk = peek match {
            case TNum(s) if s.matches("\\d{1,5}") && s.toLong >= 1 &&
                s.toLong <= 10000 =>
              pos += 1; s.toInt
            case t => throw ParseException(
              s"acf() lag must be an integer literal in [1, 10000], got $t")
          }
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            "acf is not supported as a window function")
          filterClause().foreach(_ => throw ParseException(
            "acf() does not support FILTER — dropping rows re-meshes " +
              "which points sit k apart; filter in WHERE or a subquery"))
          OAggX("acf", x, Seq(kk.toDouble))
        } else if (id.equalsIgnoreCase("arg_max") ||
            id.equalsIgnoreCase("arg_min") ||
            id.equalsIgnoreCase("max_by") || id.equalsIgnoreCase("min_by")) {
          // arg_max(x, y): the value of x on the row where y is maximal
          // (arg_min: minimal) — "which user had the peak purchase". Both
          // arguments are full expressions; rows where EITHER is NULL are
          // skipped (ANSI pair semantics, like corr). Ties on y break
          // toward the max (resp. min) x — a DETERMINISTIC contract,
          // unlike the unspecified tie of most engines' arg_max. FILTER
          // conjoins into the pair guard via the CASE desugar on both
          // arguments.
          // max_by/min_by are the Spark/Trino spellings — one aggregate
          val fn = id.toLowerCase match {
            case "max_by" => "arg_max"
            case "min_by" => "arg_min"
            case f        => f
          }
          val x = nested(addOperand())
          expectSym(",")
          val y = nested(addOperand())
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            s"$fn is not supported as a window function")
          filterClause() match {
            case Some(c) => OAggX(fn, OCase(Seq((c, x)), None), Nil,
              Some(OCase(Seq((c, y)), None)))
            case None => OAggX(fn, x, Nil, Some(y))
          }
        } else if (id.equalsIgnoreCase("string_agg")) {
          // string_agg(x, 'sep'): the group's values rendered as strings,
          // sorted ASCENDING BY VALUE, joined with the literal separator.
          // The value-sort is the determinism contract (engines' default
          // string_agg is input-order-dependent — useless for a
          // reproducible pipeline); NULLs are skipped (ANSI).
          val x = nested(addOperand())
          expectSym(",")
          val sep = peek match {
            case TStr(s) => pos += 1; s
            case t => throw ParseException(
              s"string_agg() separator must be a string literal, got $t")
          }
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            "string_agg is not supported as a window function")
          val sepOp = Some(OLit(BStr(sep)): Operand)
          filterClause() match {
            case Some(c) =>
              OAggX("string_agg", OCase(Seq((c, x)), None), Nil, sepOp)
            case None => OAggX("string_agg", x, Nil, sepOp)
          }
        } else if (id.equalsIgnoreCase("count_if")) {
          // count_if(c): rows where the condition holds — desugars to
          // count(CASE WHEN c THEN 1 END) (count skips the NULL of both
          // UNKNOWN and false-with-no-branch... false takes the explicit
          // no-ELSE fall-through to NULL too, so only TRUE rows count)
          val c = nested(orExpr())
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            "count_if is not supported as a window function")
          filterClause() match {
            case Some(fc) =>
              OAggX("count", OCase(Seq((AndE(fc, c), OLit(BInt(1)))), None))
            case None => OAggX("count", OCase(Seq((c, OLit(BInt(1)))), None))
          }
        } else if (id.equalsIgnoreCase("bool_and") ||
            id.equalsIgnoreCase("bool_or")) {
          // bool_and(c) / bool_or(c): conjunction / disjunction of a
          // BOOLEAN CONDITION over the group — `bool_and(cpu < 90)` is
          // "did every point stay under 90". The argument parses as a
          // full predicate (the one aggregate whose argument is the
          // boolean tier, not the arithmetic tier) and desugars to the
          // three-valued CASE — true / false / NULL-skipped — so UNKNOWN
          // rows drop exactly as ANSI bool_and prescribes. Empty or
          // all-NULL groups yield NULL.
          val fn = id.toLowerCase
          val c = nested(orExpr())
          expectSym(")")
          if (peekIsKw("over")) throw ParseException(
            s"$fn is not supported as a window function")
          val threeValued = OCase(Seq(
            (c, OLit(BBool(true))), (NotE(c), OLit(BBool(false)))), None)
          filterClause() match {
            case Some(fc) => OAggX(fn, OCase(Seq((fc, threeValued)), None))
            case None     => OAggX(fn, threeValued)
          }
        } else if (id.equalsIgnoreCase("approx_top_k") ||
            id.equalsIgnoreCase("approx_top_k_sketch") ||
            id.equalsIgnoreCase("approx_top_k_merge")) {
          // approx_top_k(x, k): heavy hitters over a Misra-Gries
          // summary; k rides in OAggX.params like percentile's fraction
          // (structural dedup + FILTER desugar apply unchanged)
          val fn = id.toLowerCase
          val parg = nested(addOperand())
          expectSym(",")
          val k = peek match {
            case TNum(s) if !s.contains('.') && s.toLong >= 1 =>
              pos += 1; s.toDouble
            case t => throw ParseException(
              s"$fn() k must be a positive integer literal, got $t")
          }
          expectSym(")")
          filterClause() match {
            case Some(c) => OAggX(fn, OCase(Seq((c, parg)), None), Seq(k))
            case None    => OAggX(fn, parg, Seq(k))
          }
        } else {
          // the argument is a full expression; a bare field ref keeps the
          // legacy OAgg form (and its output-name conventions), anything
          // computed becomes an expression aggregate
          val arg = if (sym("*")) None else Some(nested(addOperand()))
          expectSym(")")
          // `agg(x) OVER (…)` is an analytic call, not a group aggregate
          if (peekIsKw("over")) {
            val fn = if (arg.isEmpty) s"${id.toLowerCase}_star" else id.toLowerCase
            val w = withOptionalOver(fn, arg.toSeq)
            if (peekIsKw("filter") && toks(pos + 1) == TSym("("))
              throw ParseException("FILTER is not supported on window aggregates")
            w
          } else filterClause() match {
            // ANSI filtered aggregation desugars to the CASE aggregate
            // (`agg(CASE WHEN c THEN x END)`): aggregates skip NULLs, so
            // the semantics coincide exactly; count(*) filters via THEN 1
            case Some(c) =>
              OAggX(id.toLowerCase,
                OCase(Seq((c, arg.getOrElse(OLit(BInt(1))))), None))
            case None => arg match {
              case None          => OAgg(id.toLowerCase, None)
              case Some(ORef(n)) => OAgg(id.toLowerCase, Some(n))
              case Some(e)       => OAggX(id.toLowerCase, e)
            }
          }
        }
      // CASE: searched form (WHEN <cond> THEN <expr> …) or simple form
      // (CASE <x> WHEN <v> THEN <expr> … — sugar for x = v conditions);
      // ELSE optional (NULL fall-through, ANSI), END required
      case TIdent(id) if id.equalsIgnoreCase("case") =>
        pos += 1
        val subject: Option[Operand] =
          if (peekIsKw("when")) None else Some(nested(addOperand()))
        val bs = Seq.newBuilder[(BExpr, Operand)]
        if (!peekIsKw("when"))
          throw ParseException(s"CASE requires at least one WHEN, got $peek")
        while (kw("when")) {
          val c = subject match {
            case None    => nested(orExpr())
            case Some(x) => Cmp("=", x, nested(addOperand()))
          }
          expectKw("then")
          bs += ((c, nested(addOperand())))
        }
        val other = if (kw("else")) Some(nested(addOperand())) else None
        expectKw("end")
        OCase(bs.result(), other)
      // CAST(expr AS type) — type validated by the compiler (int | float
      // | string | bool, the dialect's four scalar types)
      case TIdent(id) if id.equalsIgnoreCase("cast") &&
          toks(pos + 1) == TSym("(") =>
        pos += 2
        val e = nested(addOperand())
        expectKw("as")
        val ty = ident().toLowerCase
        expectSym(")")
        OCast(e, ty)
      // any other ident immediately followed by '(' is a scalar function
      // call; the compiler owns the allowlist + arity check (an unknown
      // name is a CompileException, not a parse error). A call followed
      // by OVER is an analytic/window call instead.
      case TIdent(id) if !keywords.contains(id.toLowerCase) &&
          toks(pos + 1) == TSym("(") =>
        pos += 2
        val b = Seq.newBuilder[Operand]
        if (peek != TSym(")")) { // zero-arg form for row_number() etc
          b += nested(addOperand())
          while (sym(",")) b += nested(addOperand())
        }
        expectSym(")")
        withOptionalOver(id.toLowerCase, b.result())
      case TIdent(_) | TQuoted(_) => ORef(rawName())
      // `( SELECT …` is a scalar subquery; any other `(` groups arithmetic
      case TSym("(") if (toks(pos + 1) match {
        case TIdent(id) => id.equalsIgnoreCase("select")
        case _ => false
      }) =>
        pos += 1
        val sub = nested(selectBody())
        expectSym(")")
        OScalarSub(sub)
      case TSym("(") =>
        pos += 1
        val e = nested(addOperand())
        expectSym(")")
        e
      case t => throw ParseException(s"expected operand, got $t")
    }

    /** `OVER '(' (PARTITION BY names)? (ORDER BY name [ASC|DESC] …)? ')'`
      * following a call makes it an analytic/window call; without OVER
      * the call stays a scalar [[OFn]]. */
    /** `OVER w` — a reference to a named window from the query's WINDOW
      * clause. The name is carried inside the OWin's partitionBy under a
      * control-char marker no lexable identifier can collide with, and
      * [[substWindows]] replaces the whole spec before the query parse
      * returns — the compiler never sees a named reference.
      */
    private def withOptionalOver(fn: String, args: Seq[Operand]): Operand =
      if (!kw("over")) OFn(fn, args)
      else peek match {
        case TIdent(w) if !keywords(w.toLowerCase) =>
          pos += 1
          OWin(fn, args, Seq(RawName(Seq(Parser.WinRefMark, w.toLowerCase))),
            Seq.empty, None)
        case TQuoted(w) =>
          pos += 1
          OWin(fn, args, Seq(RawName(Seq(Parser.WinRefMark, w.toLowerCase))),
            Seq.empty, None)
        case _ =>
          expectSym("(")
          val (part, ord, frame) = overBody()
          expectSym(")")
          OWin(fn, args, part, ord, frame)
      }

    /** The inside of a window specification — shared between inline
      * `OVER ( … )` and the named-window definitions of the WINDOW
      * clause. */
    private def overBody(): (Seq[RawName],
        Seq[(RawName, Boolean, Option[Boolean])], Option[WFrame]) = {
        val part = if (kw("partition")) { expectKw("by"); nameList() } else Seq.empty
        val ord =
          if (kw("order")) {
            expectKw("by")
            val b = Seq.newBuilder[(RawName, Boolean, Option[Boolean])]
            def one(): (RawName, Boolean, Option[Boolean]) = {
              val n = rawName()
              val asc = if (kw("desc")) false else { kw("asc"); true }
              (n, asc, nullsOrder())
            }
            b += one()
            while (sym(",")) b += one()
            b.result()
          } else Seq.empty
        // ROWS BETWEEN <bound> AND <bound> (row-offset bounds) or
        // RANGE BETWEEN <ibound> AND <ibound> (interval bounds over the
        // ts order axis); bounds: UNBOUNDED PRECEDING/FOLLOWING,
        // CURRENT ROW, <n> PRECEDING/FOLLOWING (ROWS),
        // INTERVAL '<n>' SECOND|MINUTE|HOUR|DAY PRECEDING/FOLLOWING
        // (RANGE). `range`/`interval` match contextually and stay
        // usable as ordinary identifiers elsewhere.
        val frame = {
          val kind =
            if (kw("rows")) Some("rows")
            else if (kw("range")) Some("range_us")
            else None
          kind.map { k =>
            expectKw("between")
            def bound(): Long =
              if (kw("unbounded")) {
                if (kw("preceding")) Long.MinValue
                else { expectKw("following"); Long.MaxValue }
              } else if (kw("current")) { expectKw("row"); 0L }
              else if (k == "rows") {
                val n = intLit().toLong
                if (kw("preceding")) -n
                else { expectKw("following"); n }
              } else {
                expectKw("interval")
                val n = next() match {
                  case TStr(s) if s.trim.matches("\\d+") => s.trim.toLong
                  case t => throw ParseException(
                    s"INTERVAL bound must be a quoted integer like '5', got $t")
                }
                val us = ident().toLowerCase match {
                  case "second" | "seconds" => n * 1000000L
                  case "minute" | "minutes" => n * 60000000L
                  case "hour" | "hours"     => n * 3600000000L
                  case "day" | "days"       => n * 86400000000L
                  case u => throw ParseException(
                    s"INTERVAL unit must be SECOND|MINUTE|HOUR|DAY, got $u")
                }
                if (kw("preceding")) -us
                else { expectKw("following"); us }
              }
            val lo = bound()
            expectKw("and")
            val hi = bound()
            if (lo > hi) throw ParseException(
              "frame lower bound must not exceed upper bound")
            WFrame(k, lo, hi)
          }
        }
        (part, ord, frame)
      }


    private def intLit(): Int = next() match {
      case TNum(s) if !s.contains('.') => s.toInt
      case t => throw ParseException(s"expected integer, got $t")
    }
  }
}
