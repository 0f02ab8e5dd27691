package graft.boostql

/** BoostQL abstract syntax — the QueryOps-equivalent IR (SURVEY.md §2.7).
  *
  * Mirrors the reference's parsed-query IR (query/base/queryops.go:11-95)
  * as plain case classes: select fields with the 1/2/3-part name sugar
  * (query/parser/selectfieldparser.go:29-37), a single family source, a
  * WHERE tree of comparisons + AND/OR
  * (query/base/logicalexpression.go:10-36), and — beyond the reference,
  * which only declared them as enum values (query/base/expression.go:17-33)
  * — GROUP BY / HAVING / ORDER BY / LIMIT.
  *
  * Expressions are trees of [[Operand]]s and [[BExpr]]s, both [[Node]]s,
  * and every analysis walks them through one traversal: [[children]] and
  * [[mapChildren]], plus the [[exists]], [[collect]] and [[rewrite]]
  * helpers written over them. The scope rule is stated once, here:
  * children never enter a subquery body ([[QuerySpec]]) — a subquery
  * is its own scope and compiles separately, so `x IN (SELECT …)` and
  * `x op ANY (SELECT …)` contribute only their left operand, and EXISTS
  * and a scalar subquery contribute nothing.
  */
object Ast {

  /** The reference's exactly-four-scalar-type literal system
    * (query/base/common.go:4-23).
    */
  sealed trait BLit
  final case class BInt(v: Long) extends BLit
  final case class BFloat(v: Double) extends BLit
  final case class BStr(v: String) extends BLit
  final case class BBool(v: Boolean) extends BLit
  /** NULL literal. The reference mentions NULL but never implements it
    * (query/base/expression.go:9-11); here it carries ANSI three-valued
    * semantics: any comparison against it is unknown, so `x = NULL`
    * matches nothing — row absence is asked with `IS NULL` instead.
    */
  case object BNull extends BLit

  /** A raw (not yet resolved) dotted name of 1-3 parts. Resolution rules
    * per selectfieldparser.go:115-133:
    *  - `s`          → series s, value attribute
    *  - `s.a`        → series s, attribute a (or alias-qualified series value
    *                   if s is the FROM alias)
    *  - `al.s.a`     → alias al, series s, attribute a
    */
  final case class RawName(parts: Seq[String]) {
    def text: String = parts.mkString(".")
  }

  /** Resolved field: a series and either its value (attr=None) or a named
    * per-point attribute.
    */
  final case class FieldRef(series: String, attr: Option[String]) {
    /** Canonical output column name: `cpu` / `cpu_host`. */
    def colName: String = attr.fold(series)(a => s"${series}_$a")
  }

  /** An expression node: an [[Operand]] or a [[BExpr]]. */
  sealed trait Node

  sealed trait Operand extends Node
  final case class OLit(lit: BLit) extends Operand
  /** `INTERVAL '<n> <unit>'` — a duration literal, valid only as the
    * right operand of `+`/`-` with a timestamp. Fixed-width units
    * (micro…day) shift by exact micros; calendar units (month/year)
    * compile to ANSI year-month interval addition with day-of-month
    * clamping. Text validated by the Compiler. */
  final case class OInterval(text: String) extends Operand
  final case class ORef(name: RawName) extends Operand
  /** Aggregate call as a HAVING operand, e.g. `HAVING sum(cpu) > 5`. */
  final case class OAgg(fn: String, arg: Option[RawName]) extends Operand
  /** Aggregate over an arbitrary expression — `sum(CASE WHEN … END)`,
    * `avg(cpu - mem)` — the conditional-aggregation workhorse. Kept
    * separate from [[OAgg]] so the bare-field form retains its legacy
    * output-name conventions; nested aggregates inside the argument are
    * a compile error.
    *
    * `params` carries literal non-column arguments (today: percentile's
    * fraction, parsed to its numeric value so `0.5`, `0.50` and `.5`
    * are one node). Part of the case-class identity, so the structural
    * dedup of identical aggregate calls across SELECT / HAVING /
    * ORDER BY extends to the parameters — no name-mangling side-channel.
    *
    * `arg2` is the second COLUMN argument of the two-operand aggregates:
    * the ordering key of `arg_max(x, y)` / `arg_min(x, y)` and the
    * (literal string) separator of `string_agg(x, ',')`. None for every
    * single-argument aggregate; part of the structural identity like
    * `params`.
    */
  final case class OAggX(fn: String, arg: Operand,
      params: Seq[Double] = Nil, arg2: Option[Operand] = None) extends Operand
  /** Arithmetic over operands (`+ - * /`, standard precedence) — absent
    * from the reference's grammar (whereparser.go:146-169 rejects
    * anything beyond literal/field comparisons) but the first everyday
    * ask of any real predicate surface: `WHERE cpu > mem * 1.5`.
    */
  final case class OArith(op: String, left: Operand, right: Operand) extends Operand
  /** Unary minus over a non-literal operand (literal negation folds at
    * parse time). */
  final case class ONeg(x: Operand) extends Operand
  /** Scalar function call (`upper(click.user)`, `round(cpu / 7.0, 2)`).
    * The reference has no function surface at all (whereparser.go:146-169
    * accepts bare literal/field comparisons only); this is the dialect
    * face of Spark's codegen'd built-ins — the allowlist lives in the
    * compiler, which arity-checks and maps each name onto
    * `org.apache.spark.sql.functions`.
    */
  final case class OFn(fn: String, args: Seq[Operand]) extends Operand
  /** `CAST(x AS int|float|string|bool)` — conversion between the
    * reference's exactly-four scalar types (common.go:4-23). int is
    * 64-bit, float is double; float→int truncates toward zero (ANSI /
    * Spark semantics).
    */
  final case class OCast(x: Operand, toType: String) extends Operand
  /** `(SELECT <one agg item> FROM …)` as a value — the threshold-filter
    * workhorse (`WHERE cpu > (SELECT avg(cpu) FROM …)`). Allowed in
    * WHERE and SELECT items; the sub must be provably single-row.
    * Uncorrelated: an ungrouped aggregate or LIMIT 1 → broadcast
    * one-row cross join. Correlated (equality conjuncts in the sub's
    * WHERE pairing a sub field with an outer field, the IN/EXISTS
    * machinery): a single bare aggregate → groupBy on the key pairs +
    * LEFT join, NULL on empty groups (COUNT → 0). Never a per-row
    * execution.
    */
  final case class OScalarSub(sub: QuerySpec) extends Operand
  /** `CASE WHEN cond THEN expr [WHEN …]* [ELSE expr] END` — searched
    * CASE over full boolean conditions (subquery predicates excluded);
    * without ELSE the fall-through value is NULL (ANSI). Extension: the
    * reference has no conditional expressions.
    */
  final case class OCase(branches: Seq[(BExpr, Operand)],
      otherwise: Option[Operand]) extends Operand
  /** Internal (never parsed): a reference to a grouping output column by
    * its select alias. The HAVING alias rewrite emits this when the alias
    * names a GROUP BY expression entry — post-aggregation the expression
    * exists only as its grouping column and its base columns are gone, so
    * re-expanding the alias to the expression would fail to resolve.
    * Compiles to `col(name)`; contributes no field references (the
    * grouping entry already fetched everything it needs).
    */
  final case class OGroupKey(name: String) extends Operand
  /** Analytic/window call: `fn(args) OVER (PARTITION BY … ORDER BY …
    * [ROWS BETWEEN … AND …])`.
    * fn ∈ {row_number, rank, dense_rank, count_star, count, sum, avg,
    * min, max, lag, lead}; allowed in SELECT items and ORDER BY only,
    * and not combinable with GROUP BY (v1 restriction — grouped-then-
    * windowed queries belong to the DataFrame tier). Window ORDER BY
    * keys are field refs with ASC/DESC. `frame` is a ROWS or RANGE
    * frame ([[WFrame]]); requires a window ORDER BY and only applies to
    * the aggregate functions — the moving-average shape (`avg(cpu)
    * OVER (… ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)` / `… RANGE
    * BETWEEN INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW)`).
    */
  final case class OWin(fn: String, args: Seq[Operand],
      partitionBy: Seq[RawName], orderBy: Seq[(RawName, Boolean, Option[Boolean])],
      frame: Option[WFrame] = None) extends Operand

  /** Window frame: kind "rows" carries (lo, hi) row offsets relative to
    * the current row; kind "range_us" carries time offsets in
    * MICROSECONDS over the window's ORDER BY ts axis (`RANGE BETWEEN
    * INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW` → lo = -300e6,
    * hi = 0). Negative = preceding; Long.MinValue/MaxValue = unbounded
    * — exactly Spark's Window.unboundedPreceding/Following sentinels.
    */
  final case class WFrame(kind: String, lo: Long, hi: Long)

  /** Comparison ops of the reference (logicalexpression.go:10-36), plus
    * NOT — absent from the reference's connective set (AND/OR only,
    * whereparser.go:146-169) but required by any real predicate surface.
    */
  sealed trait BExpr extends Node
  final case class Cmp(op: String, left: Operand, right: Operand) extends BExpr
  final case class AndE(left: BExpr, right: BExpr) extends BExpr
  final case class OrE(left: BExpr, right: BExpr) extends BExpr
  final case class NotE(expr: BExpr) extends BExpr
  /** `x IS [NOT] NULL` — the dialect face of the engine's nil cells
    * (missing per-point attributes decode to null, exactly the
    * reference's unset ResultSet cells, executor.go:609-645).
    */
  final case class IsNullE(operand: Operand, negated: Boolean) extends BExpr
  /** `x [NOT] IN (e1, e2, …)` — sugar for the OR-fold of equalities,
    * with exactly its ANSI three-valued semantics (a NULL element makes
    * non-matches unknown, so `NOT IN` over a list containing NULL
    * matches nothing). Extension beyond the reference's grammar.
    */
  final case class InE(operand: Operand, list: Seq[Operand], negated: Boolean) extends BExpr
  /** `x [NOT] BETWEEN lo AND hi` — inclusive both ends (ANSI). */
  final case class BetweenE(operand: Operand, lo: Operand, hi: Operand,
      negated: Boolean) extends BExpr
  /** `x [NOT] LIKE 'pat'` — SQL wildcards `%` / `_`, case-sensitive. */
  final case class LikeE(operand: Operand, pattern: String, negated: Boolean) extends BExpr
  /** `x [NOT] IN (SELECT …)` — semi/anti-join predicate (extension: the
    * reference has no subquery surface at all). The subquery must have
    * exactly one select item; ANSI three-valued NOT IN semantics (a NULL
    * produced by the subquery makes NOT IN match nothing). Correlation is
    * supported as equality conjuncts in the subquery's WHERE that pair a
    * subquery field with an alias-qualified outer field; compiles to a
    * LEFT SEMI / LEFT ANTI join — never a per-row rescan.
    */
  final case class InSubE(operand: Operand, sub: QuerySpec, negated: Boolean) extends BExpr
  /** Quantified comparison `x op ANY|ALL (SELECT v …)` over the ORDERED
    * operators (`= ANY` is IN and `!= ALL` is NOT IN — the parser points
    * there). ALL is stored as its ANY complement with `negated = true`
    * (`x > ALL s` ≡ `NOT (x <= ANY s)`), so compilation is one shape: a
    * semi join for the positive form, and for the negated form the ANSI
    * three-valued anti join (match-or-either-side-null, with the empty
    * list surviving) — the NOT IN generalization. The sub reduces to ONE
    * aggregate row per correlation key (extreme + counts), so the join
    * is against a key-sized frame, never the raw list.
    */
  final case class QuantE(op: String, operand: Operand, sub: QuerySpec,
      negated: Boolean) extends BExpr
  /** `[NOT] EXISTS (SELECT …)` — same correlation rules and join-based
    * compilation as [[InSubE]]; the subquery's select list is irrelevant
    * to the semantics (only row existence matters).
    */
  final case class ExistsE(sub: QuerySpec, negated: Boolean) extends BExpr

  /** The direct [[Operand]]/[[BExpr]] children of a node, left to right
    * in source order. A window's partition and order keys are
    * [[RawName]]s, not nodes; a subquery body is not entered.
    */
  def children(n: Node): Seq[Node] = n match {
    case _: OLit | _: OInterval | _: ORef | _: OAgg | _: OScalarSub |
         _: OGroupKey | _: ExistsE => Nil
    case OAggX(_, a, _, a2)     => a +: a2.toSeq
    case OArith(_, l, r)        => Seq(l, r)
    case ONeg(x)                => Seq(x)
    case OFn(_, as)             => as
    case OCast(x, _)            => Seq(x)
    case OCase(bs, el)          => bs.flatMap(b => Seq(b._1, b._2)) ++ el
    case w: OWin                => w.args
    case Cmp(_, l, r)           => Seq(l, r)
    case AndE(l, r)             => Seq(l, r)
    case OrE(l, r)              => Seq(l, r)
    case NotE(x)                => Seq(x)
    case IsNullE(o, _)          => Seq(o)
    case InE(o, xs, _)          => o +: xs
    case BetweenE(o, lo, hi, _) => Seq(o, lo, hi)
    case LikeE(o, _, _)         => Seq(o)
    case InSubE(o, _, _)        => Seq(o)
    case QuantE(_, o, _, _)     => Seq(o)
  }

  /** `n` rebuilt with `f` applied to each of its [[children]]; every
    * other field is kept. `f` must map an operand to an operand and a
    * predicate to a predicate.
    */
  def mapChildren[N <: Node](n: N)(f: Node => Node): N = {
    def op(x: Operand): Operand = f(x).asInstanceOf[Operand]
    def bx(x: BExpr): BExpr = f(x).asInstanceOf[BExpr]
    val out: Node = n match {
      case _: OLit | _: OInterval | _: ORef | _: OAgg | _: OScalarSub |
           _: OGroupKey | _: ExistsE => n
      case OAggX(fn, a, ps, a2)   => OAggX(fn, op(a), ps, a2.map(op))
      case OArith(o, l, r)        => OArith(o, op(l), op(r))
      case ONeg(x)                => ONeg(op(x))
      case OFn(fn, as)            => OFn(fn, as.map(op))
      case OCast(x, t)            => OCast(op(x), t)
      case OCase(bs, el)          =>
        OCase(bs.map { case (c, v) => (bx(c), op(v)) }, el.map(op))
      case w: OWin                => w.copy(args = w.args.map(op))
      case Cmp(o, l, r)           => Cmp(o, op(l), op(r))
      case AndE(l, r)             => AndE(bx(l), bx(r))
      case OrE(l, r)              => OrE(bx(l), bx(r))
      case NotE(x)                => NotE(bx(x))
      case IsNullE(o, ng)         => IsNullE(op(o), ng)
      case InE(o, xs, ng)         => InE(op(o), xs.map(op), ng)
      case BetweenE(o, lo, hi, ng) => BetweenE(op(o), op(lo), op(hi), ng)
      case LikeE(o, p, ng)        => LikeE(op(o), p, ng)
      case InSubE(o, s, ng)       => InSubE(op(o), s, ng)
      case QuantE(c, o, s, ng)    => QuantE(c, op(o), s, ng)
    }
    out.asInstanceOf[N] // each arm rebuilds the node's own class
  }

  /** Whether any node of the tree satisfies `pf`. Where `pf` is defined
    * its answer is final and the walk does not go below that node, so a
    * walk's stop set is spelled as `pf` cases answering false.
    */
  def exists(n: Node)(pf: PartialFunction[Node, Boolean]): Boolean =
    pf.applyOrElse(n, (m: Node) => children(m).exists(exists(_)(pf)))

  /** The results of `pf` over the tree in pre-order. Where `pf` is
    * defined its result stands for the whole subtree below that node.
    */
  def collect[T](n: Node)(pf: PartialFunction[Node, Seq[T]]): Seq[T] =
    pf.applyOrElse(n, (m: Node) => children(m).flatMap(collect(_)(pf)))

  /** Top-down rewrite: where `pf` is defined its result replaces the
    * node (and is not walked again); elsewhere the node is rebuilt from
    * its rewritten children.
    */
  def rewrite[N <: Node](n: N)(pf: PartialFunction[Node, Node]): N =
    pf.applyOrElse(n, (m: Node) => mapChildren(m)(rewrite(_)(pf)))
      .asInstanceOf[N]

  sealed trait SelectItem
  final case class FieldItem(name: RawName) extends SelectItem
  /** Aggregate beyond the reference's 🔲 Aggregate enum: fn in
    * {count,sum,avg,min,max}; arg None means `count(*)`.
    */
  final case class AggItem(fn: String, arg: Option[RawName]) extends SelectItem
  /** A computed select item (`SELECT cpu - mem AS diff`): any operand
    * expression — arithmetic over fields, literals, and aggregate calls.
    * `name` is the output column (the `AS` alias, or `expr_<position>`
    * when unaliased).
    */
  final case class ExprItem(expr: Operand, name: String) extends SelectItem

  /** A FROM relation: a series family (`dom.family [AS al]`) or a
    * parenthesized derived table (`(SELECT …) AS al`).
    */
  sealed trait FromRel { def alias: Option[String] }

  final case class Source(domain: String, family: String,
      alias: Option[String]) extends FromRel

  /** Derived table: `FROM (SELECT …) AS t` / `JOIN (SELECT …) AS t ON …`
    * — the subquery (a single SELECT or a set-op compound) compiles to
    * its own frame and its OUTPUT columns are the relation's fields,
    * referenced `t.col` (or bare `col` when it is the only source).
    * ANSI requires the alias; derived columns are flat — they carry no
    * per-point attributes and no reserved time axis, so the ts-pinned
    * functions (bucket/rate/…/ASOF JOIN) require a family source.
    * Extension: the reference's FROM accepts only family names
    * (query/parser/joinparser.go:84-201).
    */
  /** `ATTRIBUTES(domain.family, series)` — the attribute-UNNEST table
    * source: one row per (datapoint, attribute entry) of the named
    * series, columns `ts` (the point's time axis, so the ts-pinned
    * functions bind), `akey`, `avalue`. The dynamic-key complement of
    * the static `series.attr` decode: aggregate over keys you do NOT
    * know ahead of time (`SELECT akey, count(*) … GROUP BY akey`).
    * Flat columns like a derived table; alias optional when it is the
    * only source.
    */
  final case class AttrSource(domain: String, family: String,
      series: String, aliasOpt: Option[String]) extends FromRel {
    def alias: Option[String] = aliasOpt
  }
  final case class SubSource(stmt: QueryStmt, aliasName: String)
      extends FromRel {
    def alias: Option[String] = Some(aliasName)
  }

  /** An additional FROM source: `[INNER|LEFT|RIGHT|FULL [OUTER]] JOIN
    * src ON a.x = b.y` (on = the AND-chain of equality comparisons) or
    * a bare comma `, src` (on = None → cross join, J2). The reference
    * parses only the inner/cross shapes (query/parser/joinparser.go:
    * 84-201) and leaves `AddJoinOp` an empty stub (query/base/queryops
    * .go:61-66) — here joins execute, and the outer-join family (the
    * first thing a real user reaches for beyond the reference's
    * grammar) is added to the dialect. `joinType` is a Spark join-type
    * string: "inner" | "left" | "right" | "full"; cross is encoded as
    * on = None.
    */
  /** ASOF-only options: `within` is the raw tolerance interval text
    * (`'5 minutes'` — validated and converted by the Compiler, so a
    * malformed interval is a CompileException with the full text in
    * hand); `direction` is "backward" (latest-at-or-before — the
    * reference's merge iterator is backward-implicit,
    * boostseriesiterator.go:300-342, and stays the default),
    * "forward" (earliest-at-or-after), or "nearest" (whichever of the
    * two sits closer in time; ties prefer backward).
    */
  final case class AsofOpts(within: Option[String] = None,
      direction: String = "backward")

  final case class JoinClause(source: FromRel, on: Option[BExpr],
      joinType: String = "inner", asof: Option[AsofOpts] = None)

  /** One ORDER BY key. `nullsFirst`: None = the engine default
    * (Spark: NULLS FIRST for ASC, NULLS LAST for DESC); Some(true/false)
    * = an explicit `NULLS FIRST` / `NULLS LAST` — the portable spelling,
    * since ANSI leaves the default to the implementation (DuckDB and
    * Postgres default the other way round from Spark for ASC).
    */
  final case class OrderItem(item: SelectItem, asc: Boolean,
      nullsFirst: Option[Boolean] = None)

  /** Any statement [[Parser.parseStatement]] accepts: a query, or one of
    * the write, DDL and utility statements below. Each `BoostQL.sql*`
    * entrypoint parses once and runs the kinds it names.
    */
  sealed trait Statement

  /** The statements that change a warehouse. `BoostQL.sql` refuses them
    * and names the entrypoint that runs each.
    */
  sealed trait WriteStatement extends Statement

  /** A `domain.family` name in a statement. */
  final case class FamilyRef(domain: String, family: String)

  /** `INSERT INTO domain.family <query>` — batch ingest (`sqlInsert`)
    * and continuous ingest (`sqlStreamInsert`) share this one form. */
  final case class Insert(target: FamilyRef, query: QueryStmt)
      extends WriteStatement
  /** `UPSERT INTO domain.family <query>`. */
  final case class Upsert(target: FamilyRef, query: QueryStmt)
      extends WriteStatement
  /** `CREATE [OR REPLACE] FAMILY domain.family AS <query>`. */
  final case class CreateFamily(target: FamilyRef, orReplace: Boolean,
      query: QueryStmt) extends WriteStatement
  /** `DROP FAMILY [IF EXISTS] domain.family`. */
  final case class DropFamily(target: FamilyRef, ifExists: Boolean)
      extends WriteStatement
  /** `DELETE FROM domain.family WHERE <predicate>` — the retention form
    * (`WHERE ts < DATE 'YYYY-MM-DD'`) and the row form share it. */
  final case class Delete(target: FamilyRef, where: BExpr)
      extends WriteStatement
  /** `UPDATE domain.family SET <assign>[, …] WHERE <predicate>`. */
  final case class Update(target: FamilyRef, set: Seq[Assign],
      where: BExpr) extends WriteStatement
  /** `REFRESH ROLLUP domain.family BUCKET '<interval>' AS <label>
    * [INTO domain.family2]`. */
  final case class RefreshRollup(source: FamilyRef, width: String,
      label: String, into: Option[FamilyRef]) extends WriteStatement

  /** `MERGE INTO domain.family USING (<query>) [AS src] <clause>…`. */
  final case class Merge(target: FamilyRef, using: QueryStmt,
      clauses: Seq[MergeClause]) extends WriteStatement
  sealed trait MergeClause
  /** `WHEN MATCHED [AND <cond>] THEN UPDATE|DELETE`; `action` is
    * "update" or "delete". */
  final case class WhenMatched(cond: Option[BExpr], action: String)
      extends MergeClause
  /** `WHEN NOT MATCHED THEN INSERT`. */
  case object WhenNotMatched extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | UPDATE SET
    * <assign>[, …]` — `set` is empty for DELETE. */
  final case class WhenNotMatchedBySource(cond: Option[BExpr],
      set: Seq[Assign]) extends MergeClause
  /** One SET assignment, shared by UPDATE and MERGE's by-source UPDATE:
    * `series = rhs` sets that series' value, `series.attr = rhs` a
    * per-point attribute. */
  final case class Assign(series: String, attr: Option[String], rhs: Operand)

  /** `DESCRIBE domain.family` — series-catalog discovery over a family:
    * one row per series with point count, time extent (epoch micros —
    * the repo's engine-portable timestamp convention), and the sorted
    * attribute/tag key inventories (comma-joined — scalar output keeps
    * the row hash-comparable across engines). The reference holds this
    * in the m3 namespace/symtable metadata; here it is one scan-shaped
    * aggregation: count/extent in one pass, key inventories via
    * explode + collect_set (distinct KEYS only — never a collect of
    * values), joined on the series name. Row count = series
    * cardinality, so every aggregate output is metadata-sized at any
    * corpus scale.
    */
  final case class Describe(target: FamilyRef) extends Statement

  /** `SHOW FAMILIES [IN domain]` — the catalog-listing half of the
    * discovery face (DESCRIBE is the per-family half): one
    * (domain, family) row per registered family, sorted. Enumerable
    * only when the resolver IS an enumerable registry (the Map
    * overload of `BoostQL.sql`); the function-resolver overloads refuse
    * with a pointer rather than listing nothing.
    */
  final case class ShowFamilies(domain: Option[String]) extends Statement

  /** `SHOW PARTITIONS domain.family` — the partition-inventory third of
    * the discovery face (SHOW FAMILIES lists the catalog, DESCRIBE one
    * family's series, this one family's PHYSICAL layout): one row per
    * dt= date partition with file count, bytes and footer row total.
    * Operates on the WAREHOUSE like the mutate verbs (takes the root,
    * not a query frame) and is metadata-only — the "what would
    * retention or a takedown touch" question, answerable on a petabyte
    * family without a scan.
    */
  final case class ShowPartitions(target: FamilyRef) extends Statement

  /** `EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST|SIMPLE] <query>` — the
    * dialect face of Spark's explain modes (`mode`, default formatted):
    * the query is compiled but not executed, and the result is a
    * one-row, one-column (`plan`) frame holding the plan text. Makes
    * plan regressions (lost pushdown, surprise shuffles) visible to any
    * harness that can run a query, not only to PlanShapeSpec.
    */
  final case class Explain(mode: String, query: QueryStmt) extends Statement

  /** `FUNNEL s1 -> s2 [-> …] BY <attr> [WITHIN '<interval>'] FROM
    * dom.family` — the ordered-conversion funnel as a first-class
    * statement (the most user-reached product-analytics shape): each
    * step is a SERIES of the family, users are identified by the named
    * per-point attribute (tag fallback, like `s.k` field access), and a
    * user advances to step i only via a step-i point strictly later
    * than their step-(i−1) first-reach; WITHIN bounds the whole journey
    * from the step-0 time. Compiles to
    * [[graft.operators.TimeSeriesOps.funnel]] (ONE hash exchange on the
    * user key); returns (step_index, step, users) ordered, users
    * non-increasing. Rows with no user attribute are skipped (no
    * journey without an identity).
    */
  final case class Funnel(steps: Seq[String], by: String,
      within: Option[String], source: FamilyRef) extends Statement

  /** `RETENTION BY <attr> [MAX <n> DAYS] FROM dom.family` — the day-N
    * retention triangle: users cohorted by first-seen day (any series
    * of the family counts as activity), counted on each later day they
    * returned, offsets 0..MAX (default 30). Compiles to
    * [[graft.operators.TimeSeriesOps.retentionCohorts]] (two shuffles —
    * user, then cohort×offset — the minimum for the semantics).
    * Returns (cohort_date, day_offset, users) ordered.
    */
  final case class Retention(by: String, maxDays: Option[Int],
      source: FamilyRef) extends Statement

  /** `OUTLIERS <series> [K <k>] FROM dom.family` — robust MAD anomaly
    * detection over one series: points with |v − median| > k·MAD
    * (default k = 3), the dispersion measure outliers cannot drag.
    * Compiles to [[graft.operators.TimeSeriesOps.madOutliersAgg]] — the
    * hot-key-safe aggregate/broadcast form (medians partial-aggregate;
    * data rows never shuffle). Returns (ts_us, value, dev, mad),
    * unordered (order at the consumer).
    */
  final case class Outliers(series: String, k: Option[Double],
      source: FamilyRef) extends Statement

  /** A query statement: a single SELECT or a set-operation compound. */
  sealed trait QueryStmt extends Statement

  final case class QuerySpec(
      select: Seq[SelectItem],
      source: FromRel,
      joins: Seq[JoinClause],
      where: Option[BExpr],
      groupBy: Seq[RawName],
      having: Option[BExpr],
      orderBy: Seq[OrderItem],
      limit: Option[Int],
      distinct: Boolean = false,
      offset: Option[Int] = None,
      /** Grouping-set mode: "plain" | "rollup" | "cube" | "sets" —
        * `GROUP BY ROLLUP(a, b)` adds the hierarchy of super-aggregate
        * rows (a-subtotals + grand total), CUBE every key subset, and
        * `GROUPING SETS ((…), …)` the explicit ANSI list, with NULL
        * marking the rolled-up key (all executed by Spark's native
        * Expand, one shuffle regardless of set count).
        */
      groupMode: String = "plain",
      /** The explicit sets for groupMode "sets" (each a key list; the
        * empty set is the grand total). `groupBy` then holds the
        * first-appearance-ordered union of all set keys.
        */
      groupSets: Seq[Seq[RawName]] = Seq.empty,
      /** `SELECT /*+ name(arg, …) … */` optimizer hints. Parsed
        * generically; the Compiler validates names (today: BROADCAST,
        * whose args are FROM-source aliases to pin as the build side of
        * their joins) and throws on unknown ones — a typo'd hint that
        * silently no-ops would defeat its purpose.
        */
      hints: Seq[Hint] = Seq.empty,
      /** `QUALIFY <cond>` — the post-window filter (DuckDB/Snowflake/
        * BigQuery idiom): filters AFTER window functions compute, so a
        * top-k-per-group needs no derived-table wrapping. May reference
        * window expressions inline or by select alias. Window+aggregate
        * combination stays refused, so QUALIFY is non-aggregate-query
        * territory here.
        */
      qualify: Option[BExpr] = None,
      /** `GROUP BY bucket(ts, w)[, keys…] FILL(mode)` — dense-bucket
        * gap filling (the InfluxQL/TimescaleDB resample idiom): after
        * the aggregation, every missing bucket between each dimension
        * group's first and last observed bucket materializes, and the
        * aggregate columns fill per [[FillSpec.mode]]. Requires exactly
        * one fixed-width `bucket()` grouping key; refused with HAVING
        * (filtering after densifying would re-open the gaps) and with
        * ROLLUP/CUBE/GROUPING SETS (super-aggregate rows have no dense
        * axis).
        */
      fill: Option[FillSpec] = None,
      /** `SELECT DISTINCT ON (keys) …` — one row per distinct key
        * combination: the FIRST row per the query's ORDER BY (the
        * Postgres/DuckDB idiom; the latest-observation-per-series
        * workhorse). Non-empty only with `distinct = true`; keys must
        * be selected output columns, and an ORDER BY is required for
        * the pick to be deterministic.
        */
      distinctOn: Seq[RawName] = Seq.empty) extends QueryStmt

  /** Gap-fill mode for [[QuerySpec.fill]]: "null" (materialize the
    * missing buckets, leave aggregates null), "value" (constant in
    * `value`), "previous" (last observed carried forward — LOCF), or
    * "linear" (interpolate between the bracketing observed buckets;
    * leading/trailing gaps stay null — no extrapolation).
    */
  final case class FillSpec(mode: String, value: Option[Double] = None)

  /** One optimizer hint: `name(args…)` inside `SELECT /*+ … */`. */
  final case class Hint(name: String, args: Seq[String])

  /** `left UNION [ALL] | INTERSECT | EXCEPT right` — ANSI set operations
    * over positionally-aligned branches (extension: absent from the
    * reference's grammar). op ∈ {union, union_all, intersect,
    * intersect_all, except, except_all};
    * UNION/INTERSECT/EXCEPT dedup, the ALL forms keep bag
    * multiplicities (min() for INTERSECT ALL, subtraction for EXCEPT
    * ALL — ANSI), INTERSECT
    * binds tighter than UNION/EXCEPT (ANSI precedence). orderBy/limit/
    * offset live only on the outermost node — they page the whole
    * compound, and keys must name an output column or ordinal.
    */
  final case class SetOpSpec(
      op: String,
      left: QueryStmt,
      right: QueryStmt,
      orderBy: Seq[OrderItem] = Seq.empty,
      limit: Option[Int] = None,
      offset: Option[Int] = None) extends QueryStmt
}
