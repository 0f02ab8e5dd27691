package graft.boostql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import Ast._
// the AST walk, not Spark's array higher-order function of the same name
import Ast.exists

/** BoostQL → DataFrame compiler.
  *
  * Where the reference builds a plan DAG and pulls rows through it one at
  * a time (query/executor/planner.go:115-243, executor.go:184-274), we
  * emit a declarative DataFrame plan and let Catalyst do scan dedup,
  * projection pruning, predicate pushdown and codegen (SURVEY.md §4 —
  * every rewrite the reference hand-rolls is stock in Catalyst).
  *
  * Semantics decisions (SURVEY.md §7.4):
  *  - Multi-series alignment (the reference's positional zip,
  *    executor.go:857-868) is an exact-`ts` inner equi-join — deterministic
  *    where the reference's row-order zip is only incidentally so.
  *  - Comparisons use Spark/ANSI coercion, not the reference's
  *    left-operand-driven matrix (logicalexpression.go:248-325); its
  *    bool LT≡EQ quirk (329-394) is deliberately not reproduced.
  *  - A WHERE-referenced field that is not selected is fetched but pruned
  *    from the output, like the reference's whereOnlyFields
  *    (executor.go:524-533) — here it falls out of the final projection.
  *  - JOINs (parsed-but-stubbed in the reference, queryops.go:61-66)
  *    execute: each source compiles to its own series-aligned frame,
  *    then frames fold left through inner equi-joins (ON) or cross
  *    joins (comma/CROSS JOIN). In multi-source queries every field
  *    reference must be alias-qualified (`al.series` / `al.series.attr`)
  *    and output columns are prefixed `alias_series[_attr]`.
  *
  * A query compiles in five phases (Catalyst's phase-wise structure,
  * Armbrust et al., SIGMOD 2015), each taking the frame of the one
  * before: (1) sources and joins; (2) WHERE and its subqueries; (3) the
  * aggregate, or, without one, the stitched windows and QUALIFY; (4) the
  * final projection; (5) ORDER BY and paging. They share one analysis of
  * the query, [[Compilation]].
  */
object Compiler {

  final case class CompileException(msg: String) extends RuntimeException(msg)

  /** Resolve the 1/2/3-part name sugar (selectfieldparser.go:115-133)
    * against a single source. */
  def resolve(name: RawName, alias: Option[String]): FieldRef = name.parts match {
    case Seq(s) => FieldRef(s, None)
    case Seq(a, b) if alias.contains(a) => FieldRef(b, None)
    case Seq(s, a) => FieldRef(s, Some(a))
    case Seq(al, s, a) =>
      if (!alias.contains(al))
        throw CompileException(s"unknown alias '$al' in ${name.text}")
      FieldRef(s, Some(a))
    case _ => throw CompileException(s"bad field name ${name.text}")
  }

  /** A field pinned to its source. `inName` is the column name inside the
    * compiled frame; `outName` is the user-facing name (they differ only
    * for the reserved time axis `ts`, which is internally per-source).
    * Prefixes are alias-derived and only used in multi-source queries.
    */
  private final case class SField(src: Int, prefix: Option[String], f: FieldRef,
      isTs: Boolean = false) {
    def inName: String =
      if (isTs) s"__ts_$src" else prefix.fold(f.colName)(p => s"${p}_${f.colName}")
    def outName: String =
      if (isTs) prefix.fold("ts")(p => s"${p}_ts") else inName
  }

  private def aggColName(fn: String, arg: Option[SField]): String =
    s"${fn}_${arg.fold("star")(_.outName)}"

  /** Internal column name for an expression aggregate — structural, so
    * identical `sum(CASE …)` occurrences in SELECT / HAVING / ORDER BY
    * dedup to one computed column. Never user-visible (an expression
    * aggregate always surfaces through its ExprItem alias).
    */
  private def aggXColName(fn: String, e: Ast.Operand,
      params: Seq[Double], arg2: Option[Ast.Operand] = None): String =
    s"__${fn}_x${Integer.toHexString((e, params, arg2).hashCode)}"

  /** An aggregate to compute: Left = bare-field form (legacy naming),
    * Right = expression-argument form (argument + literal params). */
  private type AggSpec =
    Either[(String, Option[SField]),
           (String, Ast.Operand, Seq[Double], Option[Ast.Operand])]

  /** Internal column carrying a scalar subquery's one value — structural
    * (identical subs share a column), never user-visible. */
  private def scalarColName(s2: Ast.QuerySpec): String =
    s"__ssq_${Integer.toHexString(s2.hashCode)}"

  /** Sample variance spelled as explicit S/Q/n sums (the zscore trick):
    * an integral input keeps the sums exact and order-independent, so
    * the double tail is a fixed IEEE sequence — cross-engine stable,
    * where the builtin var_samp/stddev_samp streaming central-moment
    * update is summation-order-dependent in doubles.
    */
  private def varianceColumn(c: Column): Column = {
    val n = count(c).cast("double")
    val s = sum(c).cast("double")
    val q = sum(c * c).cast("double")
    // n <= 1 has no sample variance: NULL — the guard also matters
    // mechanically under ANSI mode, where (n - 1) = 0 with the
    // non-null zero dividend would throw DIVIDE_BY_ZERO at runtime
    // instead of nulling (found by CompileFuzzProps)
    when(n > lit(1.0), (q - s * s / n) / (n - lit(1.0)))
  }

  /** Sample size of the approx_percentile family's bottom-k-by-hash row
    * sample — rank standard error ~ sqrt(p(1-p)/k) ≈ 3% at the median. */
  private val SampleK = 256

  /** Exact interpolated percentile over a [[graft.functions.KmvSampleAgg]]
    * sample sketch column: sort the sampled values, rank p·(n−1), linear
    * interpolation — the identical arithmetic any engine replays from
    * the md5 ranking, rounded to 6 decimals for float stability. Null on
    * empty sketches. */
  private def sampleInterp(sk: Column, p: Double): Column = {
    val vals = array_sort(transform(sk, x => x.getField("v")))
    val n = size(sk)
    val rank = lit(p) * (n - 1).cast("double")
    val lo = floor(rank)
    val loIdx = lo.cast("int") + 1
    val hiIdx = least(loIdx + 1, n)
    val est = element_at(vals, loIdx) +
      (element_at(vals, hiIdx) - element_at(vals, loIdx)) * (rank - lo)
    when(n > 0, round(est, 6))
  }

  /** approx_top_k family plumbing: k from the literal params, the
    * Misra-Gries capacity derived from it (max(64, 8k) — same k at both
    * rollup levels ⇒ same capacity ⇒ the merge law holds), and the
    * portable "item:n,…" rendering of the top k entries (the summary is
    * already count-desc/item-asc, so a slice is the top-k).
    */
  private def topkK(params: Seq[Double], fn: String): Int = {
    val k = params.headOption.getOrElse(throw CompileException(
      s"$fn() requires a k argument, e.g. $fn(x, 10)")).toInt
    if (k < 1) throw CompileException(s"$fn k must be >= 1")
    k
  }
  /** histogram(x, lo, hi, nbins) as nbins conditional sums — one per
    * bin, each a codegen'd when().sum() — assembled into a comma-joined
    * count string (engine-portable scalar output). Bin index is the one
    * IEEE expression floor((x − lo) / (hi−lo) · n), least-clamped so a
    * float landing ulp-exactly on hi-1's edge stays in the last bin;
    * values outside [lo, hi) and nulls are excluded. The sums are
    * partial-mergeable, so a stream's aggregate holds the same expression
    * as watermarked state. */
  private def histogramString(c: Column, lo: Double, hi: Double,
      nb: Double): Column = {
    val n = nb.toInt
    val cd = c.cast("double")
    val bin = least(
      floor((cd - lit(lo)) / lit(hi - lo) * lit(nb)).cast("int"),
      lit(n - 1))
    val inRange = c.isNotNull && cd >= lit(lo) && cd < lit(hi)
    val counts = (0 until n).map(i =>
      coalesce(sum(when(inRange && bin === i, 1L)), lit(0L)).cast("string"))
    array_join(array(counts: _*), ",")
  }
  private def topkCap(k: Int): Int = math.max(64, 8 * k)
  private def freqTopString(sketch: Column, k: Int): Column =
    array_join(transform(slice(sketch, 1, k),
      e => concat(e.getField("item"), lit(":"),
        e.getField("n").cast("string"))), ",")

  private def aggFnColumn(fn: String, c: => Column,
      params: Seq[Double] = Nil): Column = fn match {
    case "count"          => count(c)
    case "count_distinct" => count_distinct(c)
    case "sum"            => sum(c)
    case "avg"            => avg(c)
    case "min"            => min(c)
    case "max"            => max(c)
    case "variance"       => varianceColumn(c)
    case "stddev"         => sqrt(varianceColumn(c))
    // exact sort-based median (Spark's Median aggregate buffers the
    // group — O(group) memory, the exactness contract; the sketch tier
    // has the bounded-state alternative). Even-count midpoints over
    // integral inputs are exact halves, so cross-engine stable.
    case "median"         => median(c)
    // exact interpolated percentile (the PERCENTILE_CONT analogue):
    // rank p*(n-1), linear interpolation between the bracketing group
    // elements — median is the p = 0.5 special case. Sort-based exact
    // like median (O(group) memory, the exactness contract; the GK
    // sketch tier is the bounded-state alternative). Over integral
    // inputs with a binary-fraction p the interpolation arithmetic is
    // exact in doubles, so DuckDB's quantile_cont reproduces it
    // bit-for-bit. The fraction arrives as OAggX.params.head.
    case "percentile" =>
      val frac = params.headOption.getOrElse(throw CompileException(
        "percentile() requires a fraction argument"))
      percentile(c, lit(frac))
    // bounded-state distinct estimate: the portable KMV bottom-k sketch
    // ([[graft.functions.KmvSketchAgg]], k = 64, ~13% rel. error) —
    // per-group state is 64 longs however large the group, vs
    // count(DISTINCT x)'s shuffle of every distinct value. Below k the
    // sketch IS the distinct set, so the estimate is exact. md5-derived
    // hashes make it engine-portable (full DuckDB oracle), unlike
    // native HLLs. The two sketch references dedup to ONE aggregate in
    // the physical plan (semantically-equal aggregate dedup).
    case "approx_distinct" =>
      val k = 64
      val sk = graft.functions.GraftFunctions.kmvSketch(
        graft.operators.SketchOps.portableHash32(c), k)
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
          element_at(sk, -1).cast("double"))
    // the sketch itself (array<bigint>, bottom-64 md5-derived hashes) —
    // materialize per-day/per-key sketches in an inner query, then
    // merge them with approx_distinct_merge in an outer one: the
    // two-level GROUP BY that answers distinct-count rollups at 100 TB
    // from kilobyte sketches, never re-scanning raw values
    case "approx_distinct_sketch" =>
      graft.functions.GraftFunctions.kmvSketch(
        graft.operators.SketchOps.portableHash32(c), 64)
    /* union of sample-sketch columns (array<struct<h, v>> from
     * approx_percentile_sketch) -> interpolated percentile of the
     * merged sample; by the bottom-k merge law the merged sample IS
     * the sample a single pass over the raw rows would keep, so the
     * two-level rollup hash-matches approx_percentile run directly —
     * the quantile counterpart of approx_distinct_merge */
    case "approx_percentile_merge" =>
      val p = params.headOption.getOrElse(throw CompileException(
        "approx_percentile_merge() requires a fraction argument"))
      sampleInterp(
        graft.functions.GraftFunctions.kmvSampleMerge(c, SampleK), p)
    // union of sketch columns -> estimate; by the KMV merge law the
    // result hash-matches approx_distinct run directly on the raw
    // values (pinned by boost_sketch_merge's oracle)
    case "approx_distinct_merge" =>
      val k = 64
      val sk = graft.functions.GraftFunctions.kmvMerge(c, k)
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
          element_at(sk, -1).cast("double"))
    /* approx_top_k(x, k): heavy hitters via the Misra-Gries summary
     * ([[graft.functions.FreqSketchAgg]], capacity max(64, 8k)) — per-
     * group state is bounded at the capacity however large the group,
     * so the shuffle carries kilobyte summaries, never a count per
     * distinct value. Output is the portable string "item:n,…" of the
     * top k by estimated count (ties item-asc); counts undercount by
     * at most n/(cap+1) and are EXACT whenever the group's distinct
     * cardinality stays below the capacity. */
    case "approx_top_k" =>
      val kk = topkK(params, "approx_top_k")
      freqTopString(graft.functions.GraftFunctions.freqSketch(
        c.cast("string"), topkCap(kk)), kk)
    // the raw summary (array<struct<item, n>>) — materialize per-day/
    // per-key summaries in an inner query, roll them up with
    // approx_top_k_merge in the outer one (same k both levels)
    case "approx_top_k_sketch" =>
      val kk = topkK(params, "approx_top_k_sketch")
      graft.functions.GraftFunctions.freqSketch(
        c.cast("string"), topkCap(kk))
    // union of summaries under the mergeable-summaries law; below
    // capacity it is exact summation, hash-matching approx_top_k run
    // directly on the raw values
    case "approx_top_k_merge" =>
      val kk = topkK(params, "approx_top_k_merge")
      freqTopString(graft.functions.GraftFunctions.freqMerge(
        c, topkCap(kk)), kk)
    // see [[histogramString]]
    case "histogram" =>
      val Seq(lo, hi, nb) = params
      histogramString(c, lo, hi, nb)
    /* histogram_merge(h, nbins): elementwise sum of histogram() count
     * strings — partial histograms roll up without touching raw points
     * (the approx_distinct_sketch/_merge pattern for distributions;
     * histogram_quantile then reads percentiles off the merged bins).
     * nbins plain sums over the split counts: the same constant
     * aggregation state as histogram itself. `get` (0-based, null out
     * of range) keeps a null partial from throwing under ANSI.
     * Guard: a non-null partial whose bin count differs from nbins
     * means the literal does not match how the partials were built —
     * silently dropping the tail bins would skew every downstream
     * histogram_quantile read, so the merged result is NULL instead
     * (fails loudly at the first read; all-null groups keep the
     * all-zero bins). */
    case "histogram_merge" =>
      val n = params.head.toInt
      val arr = transform(split(c, ","), x => x.cast("long"))
      val merged = (0 until n).map(i =>
        coalesce(sum(get(arr, lit(i))), lit(0L)).cast("string"))
      val sizesOk = coalesce(
        bool_and(when(c.isNotNull, size(split(c, ",")) === n)), lit(true))
      when(sizesOk, array_join(array(merged: _*), ","))
    // grouping-set marker: 1 when the key is rolled up in this output
    // row, 0 when it groups — the ANSI disambiguator between a rollup
    // super-row and a genuine NULL key (validated against ROLLUP/CUBE
    // mode and key membership at the call site)
    case "grouping"       => grouping(c)
    // conjunction / disjunction of a boolean condition over the group;
    // the argument is already the parser's three-valued CASE, so
    // UNKNOWN rows arrive as NULL and the builtins skip them (ANSI)
    case "bool_and"       => bool_and(c)
    case "bool_or"        => bool_or(c)
    // context-needing aggregates that ONLY the grouped-select compile
    // wires (they read the source's time axis): reaching here means a
    // position without that context — say so, not "unknown"
    case "first" | "last" | "approx_percentile_sketch" |
         "approx_percentile" =>
      throw CompileException(
        s"$fn() needs the source's time axis and is only supported in " +
          "the SELECT/HAVING/ORDER BY of a grouped query over a family " +
          "(not in correlated scalar subqueries)")
    case other            => throw CompileException(s"unknown aggregate $other")
  }

  private def aggColumn(fn: String, arg: Option[SField]): Column = {
    val name = aggColName(fn, arg)
    val c = arg match {
      case None if fn == "grouping" =>
        throw CompileException("grouping() requires a grouping-key argument")
      // star is count-only: silently computing count(*) for sum(*) /
      // approx_distinct(*) would be a wrong answer, not sugar
      case None if fn != "count" =>
        throw CompileException(s"$fn(*) is not valid — $fn() needs an argument")
      case None    => count(lit(1))
      case Some(r) => aggFnColumn(fn, col(r.inName))
    }
    c.as(name)
  }

  private def litColumn(l: BLit): Column = l match {
    case BInt(v)   => lit(v)
    case BFloat(v) => lit(v)
    case BStr(v)   => lit(v)
    case BBool(v)  => lit(v)
    case BNull     => lit(null)
  }

  /** Scalar-function allowlist: dialect name → (arity range, builder over
    * compiled argument columns). Every entry maps onto a codegen'd Spark
    * built-in — no UDFs — so function calls stay inside WholeStageCodegen
    * and never block predicate pushdown of sibling conjuncts.
    */
  private val scalarFns: Map[String, (Int, Int, Seq[Column] => Column)] = Map(
    "upper"    -> ((1, 1, (a: Seq[Column]) => upper(a(0)))),
    "lower"    -> ((1, 1, (a: Seq[Column]) => lower(a(0)))),
    "length"   -> ((1, 1, (a: Seq[Column]) => length(a(0)).cast("long"))),
    "trim"     -> ((1, 1, (a: Seq[Column]) => trim(a(0)))),
    "ltrim"    -> ((1, 1, (a: Seq[Column]) => ltrim(a(0)))),
    "rtrim"    -> ((1, 1, (a: Seq[Column]) => rtrim(a(0)))),
    "reverse"  -> ((1, 1, (a: Seq[Column]) => reverse(a(0)))),
    "concat"   -> ((1, Int.MaxValue, (a: Seq[Column]) => concat(a: _*))),
    "replace"  -> ((3, 3, (a: Seq[Column]) => replace(a(0), a(1), a(2)))),
    // substr(s, pos[, len]) — 1-based pos; without len, to end of string
    "substr"   -> ((2, 3, (a: Seq[Column]) =>
      if (a.length == 3) a(0).substr(a(1), a(2))
      else a(0).substr(a(1), length(a(0))))),
    "abs"      -> ((1, 1, (a: Seq[Column]) => abs(a(0)))),
    "round"    -> ((1, 1, (a: Seq[Column]) => round(a(0)))),
    "floor"    -> ((1, 1, (a: Seq[Column]) => floor(a(0)))),
    "ceil"     -> ((1, 1, (a: Seq[Column]) => ceil(a(0)))),
    "sqrt"     -> ((1, 1, (a: Seq[Column]) => sqrt(a(0)))),
    "exp"      -> ((1, 1, (a: Seq[Column]) => exp(a(0)))),
    "ln"       -> ((1, 1, (a: Seq[Column]) => log(a(0)))),
    "log10"    -> ((1, 1, (a: Seq[Column]) => log10(a(0)))),
    "pow"      -> ((2, 2, (a: Seq[Column]) => pow(a(0), a(1)))),
    "mod"      -> ((2, 2, (a: Seq[Column]) => a(0) % a(1))),
    "least"    -> ((2, Int.MaxValue, (a: Seq[Column]) => least(a: _*))),
    "greatest" -> ((2, Int.MaxValue, (a: Seq[Column]) => greatest(a: _*))),
    "coalesce" -> ((1, Int.MaxValue, (a: Seq[Column]) => coalesce(a: _*))),
    "nullif"   -> ((2, 2, (a: Seq[Column]) => nullif(a(0), a(1)))),
    // deterministic md5-keyed sampling: uniform double in [0, 1) from
    // the top 32 md5 bits ([[graft.operators.SketchOps.portableHash32]]
    // — n / 2^32 is exact, engine-portable arithmetic). `WHERE
    // sample_hash(k) < 0.1` is a reproducible 10% sample at any scale,
    // any partitioning, any run — and keying related queries on the
    // SAME k co-samples them, so sampled joins stay consistent (the
    // 100 TB subsetting pattern; rand()-based sampling gives neither)
    "sample_hash" -> ((1, 1, (a: Seq[Column]) =>
      graft.operators.SketchOps.portableHash32(a(0)) / lit(4294967296.0))),
    // string predicates beyond LIKE: substring/affix tests and full
    // regular expressions (Java regex here, RE2-ish in DuckDB — the
    // shared subset covers everyday character-class/anchor/quantifier
    // patterns; both engines are null-propagating)
    "contains"    -> ((2, 2, (a: Seq[Column]) => a(0).contains(a(1)))),
    "starts_with" -> ((2, 2, (a: Seq[Column]) => a(0).startsWith(a(1)))),
    "ends_with"   -> ((2, 2, (a: Seq[Column]) => a(0).endsWith(a(1)))),
    "regexp_like" -> ((2, 2, (a: Seq[Column]) => regexp_like(a(0), a(1)))),
    // time-axis field extraction (UTC session contract) — the diurnal /
    // weekly / seasonal grouping tier: `GROUP BY hour(ts)` hour-of-day
    // profiles, `dow(ts)` ISO day-of-week rollups (1 = Monday …
    // 7 = Sunday, DuckDB isodow — Spark's dayofweek is Sunday-based so
    // it maps through weekday()+1), epoch_us for raw microsecond
    // arithmetic
    "year"     -> ((1, 1, (a: Seq[Column]) => year(a(0)))),
    "month"    -> ((1, 1, (a: Seq[Column]) => month(a(0)))),
    "day"      -> ((1, 1, (a: Seq[Column]) => dayofmonth(a(0)))),
    "hour"     -> ((1, 1, (a: Seq[Column]) => hour(a(0)))),
    "minute"   -> ((1, 1, (a: Seq[Column]) => minute(a(0)))),
    "second"   -> ((1, 1, (a: Seq[Column]) => second(a(0)))),
    "dow"      -> ((1, 1, (a: Seq[Column]) => weekday(a(0)) + lit(1))),
    "doy"      -> ((1, 1, (a: Seq[Column]) => dayofyear(a(0)))),
    "epoch_us" -> ((1, 1, (a: Seq[Column]) => unix_micros(a(0)))),
    // the DATE/TIMESTAMP literal desugar targets (also user-callable);
    // on a literal argument the cast constant-folds, so a ts bound
    // spelled `TIMESTAMP '…'` pushes into the scan like a plain string
    "to_date"      -> ((1, 1, (a: Seq[Column]) => a(0).cast("date"))),
    "to_timestamp" -> ((1, 1, (a: Seq[Column]) => a(0).cast("timestamp"))),
    /* KMV sketch SET OPERATIONS over two approx_distinct_sketch columns
     * (array<bigint>, bottom-64 md5-derived 32-bit hashes) — the
     * "how much do two audiences overlap" tier that unions alone can't
     * answer. The k-minimum-values Jaccard estimator (Beyer et al.,
     * SIGMOD 2007): U = bottom-k of the union of both sketches,
     * J = |{h ∈ U : h ∈ A and h ∈ B}| / |U|; sketch_intersect scales J
     * by the union's KMV distinct estimate. Below k the sketches ARE
     * the hash sets, so both are EXACT. All higher-order array
     * built-ins — codegen-friendly, and the identical arithmetic
     * replays in any engine with list ops (full DuckDB oracle). */
    "sketch_jaccard" -> ((2, 2, (a: Seq[Column]) =>
      kmvJaccard(a(0), a(1)))),
    "sketch_intersect" -> ((2, 2, (a: Seq[Column]) => {
      kmvJaccard(a(0), a(1)) * kmvUnionEstimate(a(0), a(1))
    })),
    // |A \ B| = D(A∪B) − D(B): difference via the union law (both
    // operands k-min estimates over the SAME hash space), floored at 0
    // (estimator noise can cross zero); exact below k like the others
    "sketch_diff" -> ((2, 2, (a: Seq[Column]) => {
      val dB = when(size(a(1)) < KmvK, size(a(1)).cast("double"))
        .otherwise(lit((KmvK - 1).toDouble) * lit(4294967296.0) /
          element_at(a(1), -1).cast("double"))
      greatest(kmvUnionEstimate(a(0), a(1)) - dB, lit(0.0))
    })),
    /* histogram_quantile(h, q, lo, hi): the Prometheus-style quantile
     * estimate over a histogram() count string — the read half of the
     * mergeable-histogram rollup pattern (aggregate cheap fixed-state
     * histograms per group/day, estimate percentiles at read time).
     * Walks the cumulative counts to the first bucket where
     * cum ≥ q·total (skipping empty buckets), then interpolates
     * uniformly within it:  lo + width · (bin + (q·total − cumBefore)
     * / binCount).  q/lo/hi are ordinary expressions (q may vary per
     * row); lo/hi must be the bounds the histogram was built with —
     * the count string does not carry them. NULL when the histogram is
     * empty or q is outside [0, 1]. One fold over ≤256 elements per
     * row (higher-order functions evaluate per-row post-aggregation,
     * off the hot scan path); the identical arithmetic replays in any
     * engine with list ops. */
    "histogram_quantile" -> ((4, 4, (a: Seq[Column]) => {
      val arr = transform(split(a(0), ","), x => x.cast("long"))
      val q = a(1).cast("double")
      val lo = a(2).cast("double"); val hi = a(3).cast("double")
      val total = aggregate(arr, lit(0L), (acc, x) => acc + x)
      val target = q * total.cast("double")
      val init = struct(lit(0).as("i"), lit(0L).as("cum"),
        lit(-1).as("bin"), lit(0L).as("before"))
      val folded = aggregate(arr, init, (acc, x) => {
        val cum = acc.getField("cum") + x
        val hit = acc.getField("bin") === lit(-1) &&
          cum.cast("double") >= target && x > 0
        struct((acc.getField("i") + 1).as("i"), cum.as("cum"),
          when(hit, acc.getField("i")).otherwise(acc.getField("bin")).as("bin"),
          when(hit, acc.getField("cum"))
            .otherwise(acc.getField("before")).as("before"))
      })
      val bin = folded.getField("bin")
      val cnt = element_at(arr, bin + 1).cast("double")
      val width = (hi - lo) / size(arr).cast("double")
      when(total > 0 && bin >= 0 && q >= 0.0 && q <= 1.0,
        lo + width * (bin.cast("double") +
          (target - folded.getField("before").cast("double")) / cnt))
    }))
  )

  /** The dialect's fixed KMV sketch size (matches approx_distinct /
    * approx_distinct_sketch / approx_distinct_merge — set-op estimators
    * assume both inputs were built at this k). */
  private val KmvK = 64

  private def kmvUnionBottomK(x: Column, y: Column): Column =
    slice(array_sort(array_distinct(concat(x, y))), 1, KmvK)

  /** KMV distinct estimate of the UNION from the merged bottom-k. */
  private def kmvUnionEstimate(x: Column, y: Column): Column = {
    val u = kmvUnionBottomK(x, y)
    when(size(u) < KmvK, size(u).cast("double"))
      .otherwise(lit((KmvK - 1).toDouble) * lit(4294967296.0) /
        element_at(u, -1).cast("double"))
  }

  private def kmvJaccard(x: Column, y: Column): Column = {
    val u = kmvUnionBottomK(x, y)
    val shared = size(filter(u,
      h => array_contains(x, h) && array_contains(y, h)))
    when(size(u) > 0, shared.cast("double") / size(u).cast("double"))
  }

  /** Fixed-width interval text → microseconds (micro…day units; larger
    * calendar units are not fixed-width — INTERVAL arithmetic routes
    * them through [[parseIntervalMonths]]'s calendar path instead, and
    * the width-style consumers (ASOF WITHIN, session(), fixed bucket())
    * refuse them). Shared by ASOF WITHIN and INTERVAL arithmetic; each
    * caller raises its own CompileException so the message names the
    * construct.
    */
  private val intervalShape =
    """\s*(\d+)\s*(microsecond|millisecond|second|minute|hour|day)s?\s*""".r
  private[boostql] def parseIntervalMicros(iv: String): Option[Long] =
    // Locale.ROOT: the default-locale lowercase mangles 'MINUTE' under
    // Turkish-family locales (dotless i), failing the match
    iv.toLowerCase(java.util.Locale.ROOT) match {
      case intervalShape(n, unit) =>
        val mult = unit match {
          case "microsecond" => 1L
          case "millisecond" => 1000L
          case "second"      => 1000000L
          case "minute"      => 60L * 1000000L
          case "hour"        => 3600L * 1000000L
          case "day"         => 86400L * 1000000L
        }
        // exact arithmetic: a count too long for Long (NumberFormat)
        // or a product past Long.MaxValue must surface as the caller's
        // CompileException, never an escape or a silent negative wrap
        val total = BigInt(n) * mult
        if (total <= Long.MaxValue) Some(total.toLong) else None
      case _ => None
    }

  /** Calendar interval text → months (`<n> month[s]` / `<n> year[s]`,
    * years = 12n). Calendar units are NOT fixed-width, so they cannot
    * fold to a micros shift: INTERVAL arithmetic compiles them to ANSI
    * year-month interval addition (month shift with day-of-month
    * clamping — Jan 31 + 1 month = Feb 29/28, the DuckDB/ANSI
    * contract, still constant-folded by Catalyst on literal bounds).
    */
  private val calendarShape = """\s*(\d+)\s*(month|year)s?\s*""".r
  private[boostql] def parseIntervalMonths(iv: String): Option[Int] =
    iv.toLowerCase(java.util.Locale.ROOT) match {
      case calendarShape(n, unit) =>
        val mult = if (unit == "year") 12L else 1L
        val total = BigInt(n) * mult
        if (total <= Int.MaxValue) Some(total.toInt) else None
      case _ => None
    }

  /** `base ± INTERVAL '<text>'`: fixed-width units (micro…day) compile
    * to a micros shift; calendar units (month/year) to ANSI year-month
    * interval addition (day-of-month clamping — Jan 31 + 1 month =
    * Feb 29/28, the DuckDB contract; a fixed-width fold would be wrong
    * by up to 3 days). Either way, on a literal bound (`ts >= '2024-01-12
    * …' - INTERVAL '2 days'`) Catalyst constant-folds the whole right
    * side, so the comparison still pushes into the parquet scan as a
    * plain ts filter.
    */
  private def intervalShift(base: Column, op: String,
      text: String): Column = {
    if (op != "+" && op != "-") throw CompileException(
      s"INTERVAL supports only + and -, not $op")
    val ts = base.cast("timestamp")
    parseIntervalMicros(text) match {
      case Some(us) =>
        // NATIVE day-time-interval arithmetic (not a unix_micros
        // round-trip): bit-identical micros shift under the UTC
        // session, but the shape matters twice — it still constant-
        // folds into a pushable plain-ts bound on literal operands,
        // AND Spark's stream-stream join state-eviction analysis
        // (StreamingJoinHelper) recognizes ts ± interval terms,
        // where an opaque timestamp_micros(unix_micros(ts) ± n)
        // would silence state cleanup in the streaming join tier
        val iv = lit(java.time.Duration.ofNanos(math.multiplyExact(us, 1000L)))
        if (op == "+") ts + iv else ts - iv
      case None =>
        val m = parseIntervalMonths(text).getOrElse(throw CompileException(
          s"malformed INTERVAL '$text' — expected '<n> " +
            "<microsecond|millisecond|second|minute|hour|day|month|year>[s]'"))
        ts + make_ym_interval(lit(0), lit(if (op == "+") m else -m))
    }
  }

  /** A comparison operator over two columns (the parser has already
    * normalized `==` and `<>` to `=` and `!=`). */
  private def cmpColumn(op: String, a: Column, b: Column): Column =
    op match {
      case "="  => a === b
      case "!=" => a =!= b
      case "<"  => a < b
      case ">"  => a > b
      case "<=" => a <= b
      case ">=" => a >= b
    }

  /** An arithmetic operator over two columns. */
  private def arithColumn(op: String, a: Column, b: Column): Column =
    op match {
      case "+" => a + b
      case "-" => a - b
      case "*" => a * b
      case "/" => a / b
    }

  /** A CAST target → its Spark type: the dialect's int is 64-bit
    * (common.go:8), float is double. */
  private def castType(ty: String): String = ty match {
    case "int"    => "long"
    case "float"  => "double"
    case "string" => "string"
    case "bool"   => "boolean"
    case other => throw CompileException(
      s"CAST target must be int, float, string or bool (got $other)")
  }

  /** Whether an expression contains an aggregate call, CASE conditions
    * included. Window arguments and subquery predicates are not this
    * query's aggregation.
    */
  private def containsAgg(n: Node): Boolean = exists(n) {
    case _: OAgg | _: OAggX              => true
    case _: OWin | _: InSubE | _: QuantE => false
  }

  /** Every raw name an expression references, in source order:
    * aggregate arguments and window keys included. A nested subquery
    * predicate's names belong to ITS scope — the recursive compile
    * resolves them (two-level correlation is out).
    */
  private def rawRefs(n: Node): Seq[RawName] = collect(n) {
    case ORef(nm)              => Seq(nm)
    case OAgg(_, a)            => a.toSeq
    case w: OWin               =>
      w.args.flatMap(rawRefs) ++ w.partitionBy ++ w.orderBy.map(_._1)
    case _: InSubE | _: QuantE => Nil
  }

  /** Time-series functions with an implicit window over the source's
    * time axis — the dialect face of the reference's stated north star
    * ("a rich set of time-series functions on a SQL-like language
    * front", README.md:8; the windowed executor loop executor.go:239-252).
    * They order by `ts` (unique per the engine's datapoint model), so no
    * tie-break is needed; placement follows OWin's rules (SELECT items /
    * ORDER BY only, no GROUP BY combination).
    */
  private val tsWinFns = Set("rate", "delta", "locf", "ewma", "interp",
    "session", "holt", "holt_forecast", "holt_winters",
    "holt_winters_forecast", "cusum", "cusum_low")

  /** Whole-partition series statistics (`zscore`): no time order — the
    * statistic is over the entire series (or each OVER partition), so
    * OVER may carry PARTITION BY only, same placement rules as the
    * ordered time-series functions.
    */
  private val tsPartFns = Set("zscore")

  // bucket()/session() widths parse through the same
  // [[parseIntervalMicros]] grammar as INTERVAL/WITHIN (one duration
  // parser in the dialect — a unit or bound fixed once reaches all
  // four constructs); micro…day, epoch-aligned. bucket() additionally
  // accepts the calendar units '1 week|month|quarter|year' via
  // date_trunc; session()/WITHIN stay fixed-width only (a calendar
  // tolerance has no single duration).

  /** The one BoostQL expression evaluator: an [[Operand]] or a [[BExpr]]
    * to a Spark Column. Every caller walks the same rules for literals,
    * arithmetic, INTERVAL shifts, CAST, CASE, the scalar builtins and
    * the predicates: the compiler (batch and stream) and the mutate
    * verbs over long rows. A scope says only what differs between them:
    *  - [[reference]]: how a name resolves;
    *  - [[nonScalar]]: which aggregates, windows, `bucket()`, time-series
    *    functions and subquery columns it compiles, and how;
    *  - [[leaf]]: how a leaf predicate (comparison, IS NULL, IN, BETWEEN,
    *    LIKE) is wrapped;
    *  - [[refuse]]: the wording for a node outside the scope (a
    *    non-scalar operand, a function outside the builtins, a subquery
    *    predicate).
    */
  private[boostql] abstract class Scope {
    protected def reference(n: RawName): Column
    protected def nonScalar: PartialFunction[Operand, Column] =
      PartialFunction.empty
    protected def leaf(e: BExpr, c: Column): Column = c
    protected def refuse(n: Node): Nothing
    /** The scope of a CASE condition. */
    protected def caseCondition: Scope = this

    final def operand(o: Operand): Column = nonScalar.applyOrElse(o, scalar)

    private def scalar(o: Operand): Column = o match {
      case OLit(l) => litColumn(l)
      case ORef(n) => reference(n)
      case OArith(op, l, r: OInterval) => intervalShift(operand(l), op, r.text)
      case OArith("+", l: OInterval, r) => operand(OArith("+", r, l))
      case OArith("-", _: OInterval, _) => throw CompileException(
        "INTERVAL - timestamp is not valid; write ts - INTERVAL '…'")
      case OArith(op, l, r) => arithColumn(op, operand(l), operand(r))
      case ONeg(x) => -operand(x)
      case OInterval(t) => throw CompileException(
        s"INTERVAL '$t' is only valid in + / - with a timestamp")
      case OCast(x, ty) => operand(x).cast(castType(ty))
      // round's 2-arg form needs its scale as a constant (Spark's
      // round(col, scale) takes an Int, not a Column)
      case OFn("round", Seq(x, scale)) => scale match {
        case OLit(BInt(d)) => round(operand(x), d.toInt)
        case _ => throw CompileException("round scale must be an integer literal")
      }
      case f @ OFn(fn, args) => scalarFns.get(fn) match {
        case None => refuse(f)
        case Some((lo, hi, build)) =>
          if (args.length < lo || args.length > hi) {
            val want = if (hi == Int.MaxValue) s"$lo+" else if (lo == hi) s"$lo" else s"$lo..$hi"
            throw CompileException(s"$fn expects $want argument(s), got ${args.length}")
          }
          build(args.map(operand))
      }
      case OCase(bs, otherwise) =>
        val cond = caseCondition
        val first = when(cond.predicate(bs.head._1), operand(bs.head._2))
        val chained = bs.tail.foldLeft(first) { case (acc, (c, v)) =>
          acc.when(cond.predicate(c), operand(v))
        }
        otherwise.fold(chained)(x => chained.otherwise(operand(x)))
      case other => refuse(other)
    }

    final def predicate(e: BExpr): Column = e match {
      case AndE(l, r) => predicate(l) && predicate(r)
      case OrE(l, r)  => predicate(l) || predicate(r)
      case NotE(x)    => !predicate(x)
      case IsNullE(o, neg) =>
        val c = operand(o)
        leaf(e, if (neg) c.isNotNull else c.isNull)
      // IN folds to OR-of-equalities: arbitrary operand elements work and
      // the ANSI three-valued NULL behavior (incl. the NOT IN + NULL
      // trap) falls out of the fold — matches what Catalyst's In rewrites
      // to, so codegen and pushdown are unaffected
      case InE(o, xs, neg) =>
        val c = operand(o)
        val folded = xs.map(x => c === operand(x)).reduce(_ || _)
        leaf(e, if (neg) !folded else folded)
      case BetweenE(o, lo, hi, neg) =>
        val c = operand(o)
        val b = c >= operand(lo) && c <= operand(hi)
        leaf(e, if (neg) !b else b)
      case LikeE(o, p, neg) =>
        val c = operand(o).like(p)
        leaf(e, if (neg) !c else c)
      case Cmp(op, l, r) => leaf(e, cmpColumn(op, operand(l), operand(r)))
      case _: InSubE | _: ExistsE | _: QuantE => refuse(e)
    }
  }

  /** Apply an ORDER BY key's direction and NULLS placement. No explicit
    * NULLS clause keeps Spark's defaults (NULLS FIRST for ASC, LAST for
    * DESC); the explicit forms are the portable spelling against engines
    * whose defaults differ (DuckDB/Postgres ASC default is NULLS LAST).
    */
  private def sortKey(c: Column, o: OrderItem): Column =
    sortDir(c, o.asc, o.nullsFirst)
  private def sortDir(c: Column, asc: Boolean,
      nullsFirst: Option[Boolean]): Column = (asc, nullsFirst) match {
    case (true, None)         => c.asc
    case (true, Some(true))   => c.asc_nulls_first
    case (true, Some(false))  => c.asc_nulls_last
    case (false, None)        => c.desc
    case (false, Some(true))  => c.desc_nulls_first
    case (false, Some(false)) => c.desc_nulls_last
  }

  /** A smoothing constant of ewma/holt/holt_winters, baked into the
    * kernel's update expressions: a numeric literal in (0, 1] — the only
    * range where the recurrence is a convex smoothing — or in [0, 1]
    * where `zeroOk` (a zero beta/gamma switches the trend/season off).
    */
  private def smoothParam(fn: String, o: Operand, what: String,
      zeroOk: Boolean): Double = o match {
    case OLit(BFloat(a))
      if (a > 0.0 || (zeroOk && a == 0.0)) && a <= 1.0 => a
    case OLit(BInt(1)) => 1.0
    case OLit(BInt(0)) if zeroOk => 0.0
    case _ => throw CompileException(
      s"$fn() $what must be a numeric literal in " +
        (if (zeroOk) "[0, 1]" else "(0, 1]"))
  }

  /** A positive fixed-width interval literal, in microseconds: the bucket
    * width of a bucket-then-stitch form (twa and the smoothing escapes),
    * a sliding or streamed bucket()'s width or slide, a session()'s gap. */
  private def bucketWidth(fn: String, o: Operand,
      what: String = "bucket width"): Long = o match {
    case OLit(BStr(w)) => parseIntervalMicros(w).filter(_ > 0)
      .getOrElse(throw CompileException(
        s"$fn() $what '$w' must be a positive " +
          "fixed-width interval (microsecond…day)"))
    case _ => throw CompileException(
      s"$fn() $what must be a string literal like '1 day'")
  }

  /** A join side's time axis plus a constant offset: `x.ts [± INTERVAL
    * '…']` for an alias `x` among `aliases` → (x, offset in µs). */
  private[boostql] def tsOff(o: Operand,
      aliases: Seq[String]): Option[(String, Long)] = o match {
    case ORef(RawName(Seq(al, t)))
      if t.equalsIgnoreCase("ts") && aliases.contains(al) => Some((al, 0L))
    case OArith(op @ ("+" | "-"), x, OInterval(iv)) => for {
      (al, off) <- tsOff(x, aliases); us <- parseIntervalMicros(iv)
    } yield (al, if (op == "+") off + us else off - us)
    case OArith("+", iv: OInterval, x) => tsOff(OArith("+", x, iv), aliases)
    case _ => None
  }

  /** A join condition's conjuncts, each BETWEEN as its two comparisons. */
  private[boostql] def conjuncts(e: BExpr): Seq[BExpr] = e match {
    case AndE(l, r) => conjuncts(l) ++ conjuncts(r)
    case BetweenE(o, lo, hi, false) => Seq(Cmp(">=", o, lo), Cmp("<=", o, hi))
    case other => Seq(other)
  }

  private val calendarBucket = """\s*(\d+)\s*(week|month|quarter|year)s?\s*""".r
  /** The unit of a calendar `bucket()` width ('1 week|month|quarter|year',
    * a date_trunc bucket), or None for any other text. Calendar buckets
    * are not fixed-width, so only a count of 1 is expressible. */
  private def calendarUnit(w: String): Option[String] =
    w.toLowerCase(java.util.Locale.ROOT) match {
      case calendarBucket(n, unit) =>
        if (n.toLong != 1L) throw CompileException(
          s"bucket() calendar width must be exactly '1 $unit' — " +
            s"multi-$unit buckets are not fixed-width")
        Some(unit)
      case _ => None
    }

  /** The bucket-stitched smoothing escapes: each kernel's argument
    * signature, whose trailing bucket width selects the escape. The
    * single-pass kernel takes the same arguments less the width. */
  private val escapeArgs: Map[String, Seq[String]] = {
    val holt = Seq("x", "alpha", "beta", "'<width>'")
    val hw = Seq("x", "alpha", "beta", "gamma", "period", "'<width>'")
    Map("ewma" -> Seq("x", "alpha", "'<width>'"), "holt" -> holt,
      "holt_forecast" -> holt, "holt_winters" -> hw,
      "holt_winters_forecast" -> hw)
  }
  private def isEscape(fn: String, arity: Int): Boolean =
    escapeArgs.get(fn).exists(_.length == arity)

  /** A bucket-stitched smoothing escape's literals; gamma and period are
    * 0 for the non-seasonal kernels. */
  private final case class Escape(fn: String, alpha: Double, beta: Double,
      gamma: Double, period: Int, widthUs: Long)
  /** A select item compiled as a frame transform and read back as
    * `__esc_<name>`: a smoothing escape, or the zscore stitch (`esc`
    * None). */
  private final case class Stitched(name: String, arg: Operand,
      part: Seq[RawName], esc: Option[Escape])

  /** The OVER clause of a time-series function: PARTITION BY only. */
  private def tsOver(fn: String, ord: Seq[(RawName, Boolean, Option[Boolean])],
      frame: Option[WFrame]): Unit = {
    if (ord.nonEmpty) throw CompileException(
      s"$fn() orders by the time axis implicitly — OVER may only " +
        "carry PARTITION BY")
    if (frame.isDefined)
      throw CompileException(s"$fn() does not take a window frame")
  }

  /** A GROUP BY entry's column name in the compiled frame. */
  private def keyName(g: Either[SField, ExprItem]): String = g match {
    case Left(sf)               => sf.inName
    case Right(ExprItem(_, nm)) => nm
  }

  /** corr's exact-sums formula over acf/xcorr's materialized pair
    * columns; zero variance on either side → NULL (never
    * DIVIDE_BY_ZERO). */
  private def acfColumn(nm: String): Column = {
    val x = col(s"__acf_x_$nm")
    val y = col(s"__acf_y_$nm")
    val n = count(x).cast("double")
    val sx = sum(x).cast("double")
    val sy = sum(y).cast("double")
    val sxx = sum(x * x).cast("double")
    val syy = sum(y * y).cast("double")
    val sxy = sum(x * y).cast("double")
    val num = n * sxy - sx * sy
    // guard BEFORE the sqrt: over exact integer sums the variance
    // terms are exact doubles, and an engine whose NaN compares
    // HIGH (DuckDB's total order) would pass a sqrt(negative)
    // guard spelled on the sqrt value
    val dxx = n * sxx - sx * sx
    val dyy = n * syy - sy * sy
    when(dxx > lit(0.0) && dyy > lit(0.0),
      num / sqrt(dxx) / sqrt(dyy))
  }

  /** A segment aggregate over its materialized `__seg_` column. */
  private def segColumn(f: String, nm: String): Column = f match {
    case "twa" =>
      val us = unix_micros(col("__ts_0"))
      val span = (max(us) - min(us)).cast("double")
      // zero span (all points at one timestamp) has no time axis to
      // integrate over: NULL, never an ANSI divide-by-zero
      when(span > lit(0.0),
        sum(col(s"__seg_$nm")).cast("double") / 2.0 / span)
    case _ => sum(col(s"__seg_$nm"))
  }

  /** Compile a query; `families` resolves each (domain, family) source to
    * a series-family DataFrame (schema: series, ts, value, tags,
    * attributes). Each phase is a method of one [[Compilation]] and takes
    * the frame of the phase before it.
    */
  def compile(spec: QuerySpec, families: ((String, String)) => DataFrame): DataFrame =
    run(new Compilation(spec, families, None))

  /** A compilation's stream mode (see [[BoostQL.sqlStream]]): the
    * watermark delay, and the sweep that refuses a stateful node in the
    * frame the aggregate reads. */
  private[boostql] final case class StreamMode(delay: String,
      sweep: DataFrame => Unit)

  /** Compile a GROUP BY query over stream frames: [[compile]] with the
    * aggregate phase in stream mode. An aggregate expression item reads
    * the other select outputs by alias, as HAVING does: a grouped key as
    * its grouping column, an aggregate alias as its expression. */
  private[boostql] def compileStream(spec: QuerySpec,
      families: ((String, String)) => DataFrame, mode: StreamMode): DataFrame = {
    val named = spec.select.collect { case it: ExprItem => it.name -> it.expr }.toMap
    val keys = spec.groupBy.collect { case RawName(Seq(n)) if named.contains(n) => n }
    val select = spec.select.map {
      case ExprItem(e, nm) if containsAgg(e) => ExprItem(rewrite(e) {
        case ORef(RawName(Seq(n))) if keys.contains(n) => OGroupKey(n)
        case ORef(RawName(Seq(n))) if n != nm && named.contains(n) => named(n)
        case kept @ (_: OAggX | _: OWin | _: InSubE | _: QuantE) => kept
      }, nm)
      case other => other
    }
    run(new Compilation(spec.copy(select = select), families, Some(mode)))
  }

  private def run(c: Compilation): DataFrame = {
    val frame = c.aggregateOrWindow(c.where(c.sourcesAndJoins()))
    if (c.sortsOutput) c.orderPage(c.project(frame))
    else c.project(c.orderPage(frame))
  }

  /** One query's compilation. Its fields are the analysis every phase
    * reads: the sources, the alias index, the derived tables' inner
    * frames, field resolution ([[ref]]), the ORDER BY items, the GROUP BY
    * entries, the alias-rewritten HAVING and QUALIFY, and the expression
    * scopes ([[row]], [[item]]). Its public methods are the phases, in
    * the order [[compile]] runs them.
    */
  private final class Compilation(spec: QuerySpec,
      families: ((String, String)) => DataFrame, stream: Option[StreamMode]) {
    val sources: Seq[FromRel] = spec.source +: spec.joins.map(_.source)
    val multi = sources.length > 1
    // a family source carries the reserved time axis and attribute map;
    // a derived table (SubSource) is flat — its subquery's OUTPUT columns
    // are its only fields
    def isFam(i: Int): Boolean = sources(i).isInstanceOf[Source]
    val aliasIdx: Map[String, Int] =
      sources.zipWithIndex.flatMap { case (s, i) => s.alias.map(_ -> i) }.toMap
    if (multi && aliasIdx.size < sources.length)
      throw CompileException("multi-source queries require an alias on every source")

    // --- optimizer hints ------------------------------------------------
    // `/*+ BROADCAST(a, …) */` pins the named sources as broadcast build
    // sides — the 100 TB lever when a dimension side sits just over
    // spark.sql.autoBroadcastJoinThreshold and the planner would
    // otherwise shuffle both sides. Validated strictly: unknown hint
    // names and unresolvable aliases throw (a typo'd hint that silently
    // no-ops would defeat its purpose).
    val broadcastIdx: Set[Int] = spec.hints.flatMap { h =>
      h.name match {
        case "broadcast" =>
          if (h.args.isEmpty)
            throw CompileException("BROADCAST hint needs at least one source alias")
          h.args.map { a =>
            aliasIdx.collectFirst { case (k, i) if k.equalsIgnoreCase(a) => i }
              .orElse(sources.zipWithIndex.collectFirst {
                case (s: Source, i)
                  if s.alias.isEmpty && s.family.equalsIgnoreCase(a) => i
              })
              .getOrElse(throw CompileException(
                s"BROADCAST hint references unknown source '$a'"))
          }
        case other => throw CompileException(
          s"unknown hint '$other' (supported: BROADCAST)")
      }
    }.toSet
    if (broadcastIdx.nonEmpty && sources.length == 1)
      throw CompileException("BROADCAST hint requires a join")
    // only the sources an ASOF actually consumes refuse the hint (the
    // right side of an asof, or the anchor when the FIRST join is asof
    // — both feed the union-window plan, which has no join node to
    // build); a different source joining normally in the same query
    // still broadcasts
    def feedsAsof(i: Int): Boolean =
      (i > 0 && spec.joins(i - 1).joinType == "asof") ||
        (i == 0 && spec.joins.headOption.exists(_.joinType == "asof"))
    broadcastIdx.find(feedsAsof).foreach(_ =>
      throw CompileException(
        "BROADCAST cannot target an ASOF-joined source — the as-of " +
          "operator compiles to a union-window plan with no join node " +
          "to build"))
    // the PRESERVED side of an outer join cannot be the broadcast build
    // side (a broadcast hash join must build the side whose unmatched
    // rows may be dropped); Spark drops such a hint with only a log
    // warning, which would break the strict no-silent-no-op contract —
    // refuse instead. The hint on source b binds to the one join where
    // b participates directly: join b-1 (b as its right side), or
    // join 0 when b is the anchor (hints do not propagate up through
    // Join nodes).
    broadcastIdx.foreach { b =>
      val (jt, side) =
        if (b == 0) (spec.joins.head.joinType, "left")
        else (spec.joins(b - 1).joinType, "right")
      val preserved = jt match {
        case "full"           => true
        case "left"           => side == "left"
        case "right"          => side == "right"
        case _                => false
      }
      if (preserved) throw CompileException(
        s"BROADCAST cannot target the preserved side of a ${jt.toUpperCase} " +
          "OUTER join — Spark cannot build that side and would silently " +
          "drop the pin")
    }

    // Derived tables compile upfront (plan construction only — nothing
    // executes) so the scope can ask whether a subquery's OUTPUT carries
    // the reserved time axis: a column literally named `ts` of timestamp
    // type means the axis survived the subquery (propagated, not
    // aggregated away or retyped), and the ts-pinned functions/ASOF may
    // bind to it — the executor window is source-agnostic in the
    // reference too (executor.go:239-252). The frames are reused by
    // sourceFrame, so each derived table still compiles exactly once.
    val innerFrames: Map[Int, DataFrame] = sources.zipWithIndex.collect {
      case (sub: SubSource, i) => i -> compile(sub.stmt, families)
      // ATTRIBUTES(dom.fam, series): one row per (datapoint, attribute
      // entry) — flat (ts, akey, avalue) like a derived table. Points
      // with no attributes contribute no rows (UNNEST semantics); the
      // series filter pushes into the scan like any series predicate.
      case (a: AttrSource, i) =>
        i -> families((a.domain, a.family))
          .filter(col("series") === a.series)
          .select(col("ts"),
            explode(map_entries(col("attributes"))).as("__e"))
          .select(col("ts"), col("__e.key").as("akey"),
            col("__e.value").as("avalue"))
    }.toMap
    def subHasTs(i: Int): Boolean = innerFrames.get(i).exists(df =>
      df.columns.contains("ts") &&
        df.schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampType)
    /** Whether source `i` has a time axis: a series family always does,
      * a derived table when its subquery outputs a timestamp `ts`. */
    def hasAxis(i: Int): Boolean = isFam(i) || subHasTs(i)
    /** The time-axis aggregates read source 0's axis, so they refuse a
      * join and a derived table without one, each in its own words. */
    def requireAxis(joinedWhy: String, derivedWhy: String): Unit = {
      if (multi) throw CompileException(joinedWhy)
      if (!hasAxis(0)) throw CompileException(derivedWhy)
    }

    // Derived-table field resolution: `col` / `al.col` only — no
    // attribute access (flat columns). `ts` is the reserved axis when
    // the subquery propagated it (subHasTs), otherwise an ordinary
    // column name.
    def subRef(n: RawName, si: Int, pre: Option[String]): SField = n.parts match {
      case Seq(c) => SField(si, pre, FieldRef(c, None))
      case Seq(a, c) if sources(si).alias.contains(a) =>
        SField(si, pre, FieldRef(c, None))
      case _ => throw CompileException(
        s"${n.text}: derived-table columns are flat — reference them as " +
          "<col> or <alias>.<col>")
    }

    // `ts` / `al.ts` names the reserved time axis (a series cannot be
    // called ts) — the dialect face of the reference's executor window
    // (executor.go:239-252)
    def ref(n: RawName): SField =
      if (!multi) sources.head match {
        case _: SubSource | _: AttrSource => n.parts match {
          case Seq(t) if t.equalsIgnoreCase("ts") && subHasTs(0) =>
            SField(0, None, FieldRef("ts", None), isTs = true)
          case Seq(a, t) if sources.head.alias.contains(a) &&
              t.equalsIgnoreCase("ts") && subHasTs(0) =>
            SField(0, None, FieldRef("ts", None), isTs = true)
          case _ => subRef(n, 0, None)
        }
        case _ => n.parts match {
          case Seq(t) if t.equalsIgnoreCase("ts") =>
            SField(0, None, FieldRef("ts", None), isTs = true)
          case Seq(a, t) if sources.head.alias.contains(a) && t.equalsIgnoreCase("ts") =>
            SField(0, None, FieldRef("ts", None), isTs = true)
          case _ => SField(0, None, resolve(n, sources.head.alias))
        }
      }
      else n.parts match {
        case Seq(al, t) if aliasIdx.contains(al) && t.equalsIgnoreCase("ts") &&
            hasAxis(aliasIdx(al)) =>
          SField(aliasIdx(al), Some(al), FieldRef("ts", None), isTs = true)
        case Seq(al, s) if aliasIdx.contains(al) =>
          SField(aliasIdx(al), Some(al), FieldRef(s, None))
        case Seq(al, s, a) if aliasIdx.contains(al) =>
          if (!isFam(aliasIdx(al))) throw CompileException(
            s"${n.text}: derived table '$al' has flat columns (no attributes)")
          SField(aliasIdx(al), Some(al), FieldRef(s, Some(a)))
        case _ => throw CompileException(
          s"${n.text}: field references must be alias-qualified in multi-source queries")
      }

    // --- collect every field the query touches -------------------------
    // (recursing through arithmetic AND through aggregate arguments —
    // `HAVING sum(mem) > 5` must fetch mem even when nothing else
    // references it; an OGroupKey reads a grouping output column, so
    // it fetches nothing)
    def refs(n: Node): Seq[SField] = collect(n) {
      case ORef(nm)      => Seq(ref(nm))
      case OAgg(_, arg)  => arg.map(ref).toSeq
      case w: OWin       => w.args.flatMap(refs) ++ w.partitionBy.map(ref) ++
        w.orderBy.map(o => ref(o._1))
      // a subquery touches the outer plan through its left operand and
      // the outer half of each correlation pair (the join keys) — those
      // must be fetched; everything else lives in its own compile
      case OScalarSub(s2)      => outerKeys(s2)
      case ExistsE(s2, _)      => outerKeys(s2)
      case InSubE(o, s2, _)    => refs(o) ++ outerKeys(s2)
      case QuantE(_, o, s2, _) => refs(o) ++ outerKeys(s2)
    }
    def outerKeys(sub: QuerySpec): Seq[SField] = analyzeSub(sub).pairs.map(_._1)

    // --- subquery predicates ---------------------------------------------
    // `x [NOT] IN (SELECT …)` / `[NOT] EXISTS (SELECT …)` compile to LEFT
    // SEMI / LEFT ANTI joins against the independently-compiled subquery
    // frame — the distributed formulation (never a per-outer-row rescan;
    // AQE broadcasts the sub side when it is small). Correlation is
    // equality conjuncts in the sub's WHERE pairing a sub field with an
    // alias-qualified OUTER field; they become join keys.
    case class SubAnalysis(local: QuerySpec, pairs: Seq[(SField, RawName)]) {
      /** The sub frame's key columns, `<prefix>_k<i>`, one per pair. */
      def keyNames(prefix: String): Seq[String] =
        pairs.indices.map(i => s"${prefix}_k$i")
      /** Each outer key equal to its sub key column. */
      def keyCond(prefix: String): Seq[Column] =
        pairs.zip(keyNames(prefix)).map { case ((of, _), kn) =>
          col(of.inName) === col(kn)
        }
    }

    def analyzeSub(sub: QuerySpec): SubAnalysis = {
      val subAl: Set[String] =
        (sub.source +: sub.joins.map(_.source)).flatMap(_.alias).toSet
      // an alias-qualified name whose alias belongs to the OUTER query
      // (and is not shadowed by a sub alias) is a correlated reference
      def isOuter(n: RawName): Boolean = n.parts match {
        case Seq(al, rest @ _*) if rest.nonEmpty =>
          !subAl.contains(al) && aliasIdx.contains(al)
        case _ => false
      }
      // outer references are legal only in the sub's WHERE (as correlation)
      val elsewhere = sub.select.flatMap {
        case FieldItem(n)        => Seq(n)
        case AggItem(_, a)       => a.toSeq
        case ExprItem(e, _)      => rawRefs(e)
      } ++ sub.groupBy ++ sub.having.toSeq.flatMap(rawRefs) ++
        sub.orderBy.flatMap(o => o.item match {
          case FieldItem(n)   => Seq(n)
          case AggItem(_, a)  => a.toSeq
          case ExprItem(e, _) => rawRefs(e)
        })
      elsewhere.find(isOuter).foreach(n => throw CompileException(
        s"outer reference ${n.text} is only allowed in the subquery's WHERE"))

      def conj(e: BExpr): Seq[BExpr] = e match {
        case AndE(l, r) => conj(l) ++ conj(r)
        case x          => Seq(x)
      }
      val (corr, local) = sub.where.toSeq.flatMap(conj)
        .partition(c => rawRefs(c).exists(isOuter))
      val pairs = corr.map {
        case Cmp("=", ORef(a), ORef(b)) => (isOuter(a), isOuter(b)) match {
          case (true, false) => (ref(a), b)
          case (false, true) => (ref(b), a)
          case _ => throw CompileException(
            s"correlated predicate must pair an outer field with a subquery field")
        }
        case other => throw CompileException(
          "only equality correlation (outer.field = sub.field) is supported " +
            "in subqueries")
      }
      if (pairs.nonEmpty &&
          (sub.groupBy.nonEmpty || sub.having.nonEmpty || sub.distinct ||
            sub.limit.nonEmpty))
        throw CompileException(
          "correlated subqueries cannot use GROUP BY/HAVING/DISTINCT/LIMIT")
      // the sub's ORDER BY is semantically dead for membership/existence
      // — UNLESS a LIMIT rides on it, where it decides WHICH rows
      // survive (`IN (SELECT v … ORDER BY s DESC LIMIT 5)` means the
      // top 5, not an arbitrary 5). Keep it exactly then.
      SubAnalysis(
        sub.copy(where = local.reduceOption(AndE),
          orderBy = if (sub.limit.isDefined) sub.orderBy else Seq.empty),
        pairs)
    }

    // for the fieldless-EXISTS check in applySubPred: an ExprItem
    // select list "references a field" when any of its nodes does
    def referencesField(n: Node): Boolean = exists(n) {
      case _: ORef | _: OWin | _: OScalarSub | _: OGroupKey => true
      case OAgg(_, a) => a.isDefined
    }
    def itemRefs(i: SelectItem): Seq[SField] = i match {
      case FieldItem(n)        => Seq(ref(n))
      case AggItem(_, Some(n)) => Seq(ref(n))
      case AggItem(_, None)    => Seq.empty
      case ExprItem(e, _)      => refs(e)
    }

    // A bare ORDER BY name resolves against select-item output names
    // first (standard SQL: the output column shadows any source field),
    // then falls through to a field ref. Without this, `ORDER BY d` for
    // `SELECT cpu - mem AS d` would fabricate a phantom series 'd' whose
    // empty frame silently annihilates the exact-ts join.
    val orderItems: Seq[OrderItem] = spec.orderBy.map { o =>
      o.item match {
        case FieldItem(RawName(Seq(n))) if !n.equalsIgnoreCase("ts") =>
          spec.select.collectFirst {
            case it @ ExprItem(_, nm) if nm == n                       => it
            case it @ AggItem(f, a) if aggColName(f, a.map(ref)) == n  => it
            case it @ FieldItem(m) if ref(m).outName == n              => it
          }.fold(o)(it => o.copy(item = it))
        // ORDER BY <ordinal>: a bare integer literal names a select
        // position (sorting on a constant is meaningless, so the SQL
        // reading is unambiguous)
        case ExprItem(OLit(BInt(p)), _) =>
          if (p < 1 || p > spec.select.length)
            throw CompileException(
              s"ORDER BY position $p is out of range 1..${spec.select.length}")
          o.copy(item = spec.select(p.toInt - 1))
        case _ => o
      }
    }

    // A bare GROUP BY name matching a select alias groups by that
    // aliased EXPRESSION (`SELECT click * 0.5 AS half ... GROUP BY
    // half`) — same phantom-series hazard as ORDER BY: treating the
    // alias as a field ref would silently empty the join.
    val groupEntries: Seq[Either[SField, ExprItem]] = spec.groupBy.map { n =>
      n.parts match {
        case Seq(one) =>
          spec.select.collectFirst {
            case it @ ExprItem(_, nm) if nm == one => it
          }.map(Right(_)).getOrElse(Left(ref(n)))
        case _ => Left(ref(n))
      }
    }
    // output names of grouped-by expressions: post-aggregation these
    // exist as grouping columns and must be read back, not recomputed
    val groupedExprNames: Set[String] =
      groupEntries.collect { case Right(ExprItem(_, nm)) => nm }.toSet

    // HAVING sees select-item output aliases (the MySQL/DuckDB
    // convenience): a bare name matching an ExprItem alias or an
    // AggItem's output name rewrites to that item's expression. Without
    // this the name would fabricate a phantom series — the same silent
    // empty-join hazard ORDER BY aliases had.
    val havingAliasMap: Map[String, Operand] = spec.select.collect {
      case ExprItem(e2, nm) => nm -> e2
      case AggItem(f, a)    => aggColName(f, a.map(ref)) -> OAgg(f, a)
    }.toMap
    val having2: Option[BExpr] = spec.having.map(rewrite(_) {
      // an alias that IS a GROUP BY expression entry reads back its
      // grouping output column (its base columns are gone after
      // groupBy().agg()) — mirrors the groupedExprNames special case in
      // outputCol/orderCol
      case ORef(RawName(Seq(n))) if groupedExprNames.contains(n) =>
        OGroupKey(n)
      case ORef(RawName(Seq(n))) if havingAliasMap.contains(n) =>
        havingAliasMap(n)
      // aggregate arguments are pre-aggregation scope — aliases of the
      // OUTPUT don't reach inside them; windows and subquery predicates
      // are rejected later
      case kept @ (_: OAggX | _: OWin | _: InSubE | _: QuantE) => kept
    })

    // QUALIFY alias substitution: a single-part name matching a select
    // alias means that aliased EXPRESSION (typically the window call —
    // `… row_number() OVER (…) AS rk … QUALIFY rk <= 3`), compiled
    // fresh in the filter; remaining names resolve as ordinary fields.
    val qualAliasMap: Map[String, Operand] = spec.select.collect {
      case ExprItem(e, nm) => nm -> e
    }.toMap
    val qualify2: Option[BExpr] = spec.qualify.map(rewrite(_) {
      case ORef(RawName(Seq(n))) if qualAliasMap.contains(n) => qualAliasMap(n)
      case kept @ (_: OAggX | _: OWin | _: InSubE | _: QuantE) => kept
    })

    val allRefs: Seq[SField] =
      (spec.select.flatMap(itemRefs) ++
        spec.where.toSeq.flatMap(refs) ++
        spec.joins.flatMap(_.on.toSeq.flatMap(refs)) ++
        groupEntries.flatMap {
          case Left(sf) => Seq(sf)
          case Right(ExprItem(e, _)) => refs(e)
        } ++
        having2.toSeq.flatMap(refs) ++
        qualify2.toSeq.flatMap(refs) ++
        orderItems.flatMap(o => itemRefs(o.item))).distinct
    if (allRefs.isEmpty) throw CompileException("query references no fields")

    // --- expression compilation ----------------------------------------
    /** Compile an analytic call over its window spec. Ranking and
      * lag/lead require a window ORDER BY (their result is undefined
      * without one — a CompileException here, not whatever Spark does).
      */
    def winColumn(w: OWin, aggOk: Boolean): Column = {
      import org.apache.spark.sql.expressions.{Window => W}
      val OWin(fn, args, part, ord, frame) = w
      // the time-series functions accept OVER for PARTITION BY only
      // (`rate(cpu) OVER (PARTITION BY cpu.host)` — per-key series);
      // their ORDER BY is the time axis by definition, and frames make
      // no sense over consecutive-point semantics
      if (tsWinFns.contains(fn) || tsPartFns.contains(fn)) {
        tsOver(fn, ord, frame)
        return tsWinColumn(fn, args, aggOk, part)
      }
      def arg(i: Int): Column = {
        if (args.length <= i)
          throw CompileException(s"$fn needs ${i + 1} argument(s)")
        new Q(aggOk, winOk = false).operand(args(i))
      }
      val needsOrder = Set("row_number", "rank", "dense_rank", "lag", "lead",
        "ntile", "first_value", "last_value", "percent_rank", "cume_dist",
        "nth_value")
      if (needsOrder.contains(fn) && ord.isEmpty)
        throw CompileException(s"$fn OVER requires a window ORDER BY")
      def offsetOf(i: Int): Int = args.lift(i) match {
        case None                => 1
        case Some(OLit(BInt(v))) => v.toInt
        case Some(other) =>
          throw CompileException(s"$fn offset must be an integer literal, got $other")
      }
      val c = fn match {
        case "row_number" => row_number()
        case "rank"       => rank()
        case "dense_rank" => dense_rank()
        case "count_star" => count(lit(1))
        case "count"      => count(arg(0))
        case "sum"        => sum(arg(0))
        case "avg"        => avg(arg(0))
        case "min"        => min(arg(0))
        case "max"        => max(arg(0))
        case "lag"        => lag(arg(0), offsetOf(1))
        case "lead"       => lead(arg(0), offsetOf(1))
        case "ntile" => args.headOption match {
          case Some(OLit(BInt(n))) if n >= 1 => ntile(n.toInt)
          case _ => throw CompileException(
            "ntile needs a positive integer literal argument")
        }
        case "first_value" => first(arg(0))
        case "last_value"  => last(arg(0))
        // rank ratios: (rank-1)/(n-1) and rows<=current/n — integer
        // ratios evaluated once in doubles, identical in any engine
        case "percent_rank" => percent_rank()
        case "cume_dist"    => cume_dist()
        case "nth_value" => args.lift(1) match {
          case Some(OLit(BInt(n))) if n >= 1 => nth_value(arg(0), n.toInt)
          case _ => throw CompileException(
            "nth_value needs (expr, positive integer literal) arguments")
        }
        case other => throw CompileException(
          s"unknown window function $other (supported: row_number, rank, " +
            "dense_rank, count, sum, avg, min, max, lag, lead, ntile, " +
            "first_value, last_value, nth_value, percent_rank, cume_dist)")
      }
      val w0 = W.partitionBy(part.map(p => col(ref(p).inName)): _*)
      val spec =
        if (ord.isEmpty) w0
        else w0.orderBy(ord.map { case (n, asc, nf) =>
          sortDir(col(ref(n).inName), asc, nf)
        }: _*)
      // ROWS/RANGE frames: aggregate window functions only (a framed
      // rank is meaningless), and only over an ordered window; the
      // parser's unbounded sentinels are exactly
      // Window.unboundedPreceding/Following, so rowsBetween/rangeBetween
      // take them verbatim. A RANGE interval frame requires the order
      // key to be exactly the ascending time axis — it compiles to
      // rangeBetween over epoch micros (the natural time-series moving
      // aggregate: "sum over the trailing 5 minutes").
      val framed = frame match {
        case None => spec
        case Some(WFrame(kind, lo, hi)) =>
          if (ord.isEmpty)
            throw CompileException("a window frame requires a window ORDER BY")
          val frameable = Set("count_star", "count", "sum", "avg", "min",
            "max", "first_value", "last_value", "nth_value")
          if (!frameable.contains(fn))
            throw CompileException(
              s"a window frame applies to aggregate window functions, not $fn")
          kind match {
            case "rows" => spec.rowsBetween(lo, hi)
            case "range_us" => ord match {
              case Seq((n, true, _)) if ref(n).isTs =>
                w0.orderBy(unix_micros(col(ref(n).inName)))
                  .rangeBetween(lo, hi)
              case _ => throw CompileException(
                "RANGE interval frame requires ORDER BY on exactly the " +
                  "ascending time axis ts")
            }
          }
      }
      c.over(framed)
    }

    /** `bucket(ts, '<n> <unit>')` — tumbling time bucket over the
      * reserved time axis. Fixed-width units (micro…day) compile to
      * epoch-aligned pure integer arithmetic on micros (codegen'd,
      * never a UDF): `timestamp_micros(us - pmod(us, width))`.
      * Calendar units compile to `date_trunc` — `'1 week'` (ISO Monday
      * start), `'1 month'`, `'1 quarter'`, `'1 year'` — the rollup a
      * real TSDB user reaches for right after daily buckets; calendar
      * buckets are not fixed-width, so only count 1 is expressible and
      * larger counts refuse. The first argument must be the time axis
      * (optionally alias-qualified), pinning the function to the
      * engine's iteration axis rather than arbitrary columns.
      */
    def bucketColumn(args: Seq[Operand]): Column = {
      if (args.length == 3)
        throw CompileException(
          "sliding bucket(ts, '<width>', '<slide>') is only valid bare " +
            "as a GROUP BY key — each row belongs to width/slide windows, " +
            "so it is an expansion, not a scalar")
      if (args.length != 2)
        throw CompileException("bucket(ts, '<n> <unit>') expects 2 arguments")
      val axis = args.head match {
        case ORef(n) if ref(n).isTs => ref(n).inName
        case _ => throw CompileException(
          "bucket() first argument must be the time axis ts")
      }
      args(1) match {
        case OLit(BStr(w)) => calendarUnit(w) match {
          case Some(unit) => date_trunc(unit, col(axis))
          case None =>
            val widthUs = parseIntervalMicros(w).getOrElse(
              throw CompileException(
                s"bucket() width '$w' must be '<n> <unit>' with unit " +
                  "microsecond|millisecond|second|minute|hour|day, or " +
                  "'1 week|month|quarter|year'"))
            if (widthUs <= 0)
              throw CompileException("bucket() width must be positive")
            val us = unix_micros(col(axis))
            timestamp_micros(us - pmod(us, lit(widthUs)))
        }
        case _ => throw CompileException(
          "bucket() width must be a string literal like '5 minutes'")
      }
    }

    /** A running-frame kernel (ewma, cusum, holt, holt_winters) over
      * `c` in time-axis order: Spark's executor applies one declarative
      * update per row (O(n) per series, no frame rescan). The
      * WindowExpression is built directly (not via Column.over): the
      * ColumnNode bridge rewraps any AggregateFunction in an
      * AggregateExpression, which would strip the kernel's pinned
      * running ROWS frame.
      */
    def runningKernel(kernel: Expression => Expression, c: Column,
        part: Seq[RawName], axis: String): Column = {
      import org.apache.spark.sql.catalyst.expressions.{
        Ascending, SortOrder, UnspecifiedFrame, WindowExpression,
        WindowSpecDefinition}
      ColumnBridge.column(WindowExpression(
        kernel(ColumnBridge.expression(c.cast("double"))),
        WindowSpecDefinition(
          part.map(p => ColumnBridge.expression(col(ref(p).inName))),
          Seq(SortOrder(ColumnBridge.expression(col(axis)), Ascending)),
          UnspecifiedFrame)))
    }

    /** rate/delta/locf — consecutive-point functions over the implicit
      * per-source time-axis order (`ts` is unique per datapoint, so the
      * order is total without a tie-break). The window is intentionally
      * unpartitioned: a compiled frame is ONE series' aligned axis — the
      * sequential scan is the operator's contract (the reference's
      * pull-based series iterator); at scale the parallel unit is the
      * series/family, not intra-series row order.
      */
    def tsWinColumn(fn: String, args: Seq[Operand], aggOk: Boolean,
        part: Seq[RawName] = Seq.empty): Column = {
      import org.apache.spark.sql.expressions.{Window => W}
      // a smoothing kernel's single-pass form takes its escape's
      // arguments less the width
      val arity = escapeArgs.get(fn).fold(
        if (fn == "cusum" || fn == "cusum_low") 3
        else if (fn == "session") 2 else 1)(_.length - 1)
      // the escaped bucket-stitched forms compile through a frame
      // transform (a join-back, not a window Column), which only a
      // TOP-LEVEL select item can carry — anywhere else (nested in an
      // expression, under QUALIFY, in ORDER BY) refuses with the shape
      if (isEscape(fn, args.length)) throw CompileException(
        s"the bucket-stitched $fn(${escapeArgs(fn).mkString(", ")}) escape " +
          "is a top-level select item only (not nested in an expression, " +
          "not under QUALIFY) — alias it and reference the alias")
      if (args.length != arity)
        throw CompileException(s"$fn() expects exactly $arity argument(s)")
      if (fn == "session") {
        // sessionize the time axis itself: session(ts, '<gap>') assigns
        // 0-based ids per partition — a break wherever the gap to the
        // previous point exceeds the threshold, then a running count of
        // breaks. Pure integer arithmetic: exact on any engine.
        args.head match {
          case ORef(n) if ref(n).isTs => ()
          case _ => throw CompileException(
            "session() first argument must be the time axis ts")
        }
        val gapUs = bucketWidth("session", args(1), "gap")
        val axis0 = if (!multi) "__ts_0" else args.head match {
          case ORef(n) => s"__ts_${ref(n).src}"
          case _       => "__ts_0"
        }
        val w = W.partitionBy(part.map(p => col(ref(p).inName)): _*)
          .orderBy(col(axis0).asc)
        val tsU = unix_micros(col(axis0))
        val gap = tsU - lag(tsU, 1).over(w)
        val brk = when(gap.isNull, lit(0L))
          .when(gap > gapUs, lit(1L)).otherwise(lit(0L))
        return sum(brk).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
      }
      def tsAxis(s: Int): String = {
        if (!hasAxis(s)) throw CompileException(
          s"$fn() needs a time axis — this derived table does not " +
            s"output a timestamp column named ts; propagate ts through " +
            s"the subquery or apply $fn inside it")
        s"__ts_$s"
      }
      val axis =
        if (!multi) tsAxis(0)
        else refs(args.head).map(_.src).distinct match {
          case Seq(s) => tsAxis(s)
          case _ => throw CompileException(
            s"$fn() argument must reference exactly one source in a " +
              "multi-source query")
        }
      val c = new Q(aggOk, winOk = false).operand(args.head)
      if (fn == "zscore") {
        // Whole-partition statistic: (x - mean) / sample-stddev, spelled
        // as explicit sums so an integral input keeps S = Σx and
        // Q = Σx² exact (order-independent long sums) and every
        // remaining double op is a fixed IEEE sequence — bit-identical
        // on any engine evaluating the same formula. (The builtin
        // stddev_samp is a streaming central-moment update — summation-
        // order-dependent in doubles, so NOT cross-engine stable.)
        val pw = W.partitionBy(part.map(p => col(ref(p).inName)): _*)
        val n = count(c).over(pw).cast("double")
        val s = sum(c).over(pw).cast("double")
        val q = sum(c * c).over(pw).cast("double")
        val cd = c.cast("double")
        // guards: a 1-point partition has no sample variance and a
        // zero-variance partition no z-score — NULL both, and neither
        // division reaches ANSI's DIVIDE_BY_ZERO
        val sd = sqrt(when(n > lit(1.0), (q - s * s / n) / (n - lit(1.0))))
        return when(sd > lit(0.0), (cd - s / n) / sd)
      }
      val w = W.partitionBy(part.map(p => col(ref(p).inName)): _*)
        .orderBy(col(axis).asc)
      fn match {
        case "delta" => c - lag(c, 1).over(w)
        case "rate" =>
          val dv = c - lag(c, 1).over(w)
          val dtUs = unix_micros(col(axis)) - lag(unix_micros(col(axis)), 1).over(w)
          when(dtUs > 0, dv / (dtUs.cast("double") / 1e6))
        case "locf" =>
          last(c, ignoreNulls = true)
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        case "interp" =>
          // linear gap-fill: nulls between two observations take
          // prev + (next - prev) * dt-fraction on the epoch-micros
          // axis; leading/trailing nulls stay null (no extrapolation).
          // Four bounded-frame window lookups + one fixed IEEE formula
          // per row — no self-join, no state beyond the frames.
          val tsUs = unix_micros(col(axis)).cast("double")
          val runF = w.rowsBetween(W.unboundedPreceding, W.currentRow)
          val futF = w.rowsBetween(W.currentRow, W.unboundedFollowing)
          val pv = last(c, ignoreNulls = true).over(runF)
          val pt = last(when(c.isNotNull, tsUs), ignoreNulls = true).over(runF)
          val nv = first(c, ignoreNulls = true).over(futF)
          val nt = first(when(c.isNotNull, tsUs), ignoreNulls = true).over(futF)
          when(c.isNotNull, c.cast("double"))
            .otherwise(pv + (nv - pv) * (tsUs - pt) / (nt - pt))
        case "ewma" =>
          // y_i = a*x_i + (1-a)*y_(i-1)
          val alpha = smoothParam(fn, args(1), "alpha", zeroOk = false)
          runningKernel(graft.functions.Ewma(_, alpha), c, part, axis)
        case "cusum" | "cusum_low" =>
          // one-sided tabular CUSUM — the changepoint statistic:
          // cusum(x, target, slack) accumulates deviations past
          // target ± slack, floored at zero (cusum = upward shifts,
          // cusum_low = downward); alarms are the user's threshold
          // over the emitted statistic. Parameters bake into the
          // update expressions, so both must be numeric literals.
          def cusumParam(o: Operand, what: String): Double = o match {
            case OLit(BFloat(a)) if java.lang.Double.isFinite(a) => a
            case OLit(BInt(a)) => a.toDouble
            case _ => throw CompileException(
              s"$fn() $what must be a finite numeric literal")
          }
          val target = cusumParam(args(1), "target")
          val slack = cusumParam(args(2), "slack")
          if (slack < 0.0) throw CompileException(
            s"$fn() slack must be >= 0")
          runningKernel(graft.functions.Cusum(_, target, slack,
            low = fn == "cusum_low"), c, part, axis)
        case "holt" | "holt_forecast" =>
          // Holt double-exponential smoothing — level + linear trend
          // (holt = smoothed level, holt_forecast = one-step-ahead
          // l + b), two-slot state
          val alpha = smoothParam(fn, args(1), "alpha", zeroOk = false)
          val beta = smoothParam(fn, args(2), "beta", zeroOk = true)
          runningKernel(graft.functions.Holt(_, alpha, beta,
            forecast = fn == "holt_forecast"), c, part, axis)
        case "holt_winters" | "holt_winters_forecast" =>
          // Holt-Winters additive triple-exponential smoothing — level +
          // trend + period-slot seasonal cycle (holt_winters = the
          // seasonal fit l + s, holt_winters_forecast = one-step-ahead
          // l + b + s_next); the period is baked into the update
          // expressions too, so it must be a literal
          val alpha = smoothParam(fn, args(1), "alpha", zeroOk = false)
          val beta = smoothParam(fn, args(2), "beta", zeroOk = true)
          val gamma = smoothParam(fn, args(3), "gamma", zeroOk = true)
          val period = args(4) match {
            case OLit(BInt(p)) if p >= 2 && p <= 24 => p.toInt
            case _ => throw CompileException(
              s"$fn() period must be an integer literal in [2, 24] " +
                "(the seasonal cycle length in observations: 7 for " +
                "day-of-week, 12 for month, 24 for hour-of-day)")
          }
          runningKernel(graft.functions.HoltWinters(_, alpha, beta, gamma,
            period, forecast = fn == "holt_winters_forecast"), c, part, axis)
      }
    }
    /** The query's own [[Scope]]: a name resolves through [[ref]] to its
      * compiled-frame column; aggregates read their aggregation output
      * where `aggOk` (HAVING, grouped SELECT items); windows and the
      * time-series functions compile where `winOk` (SELECT items,
      * QUALIFY, ORDER BY), but never inside a CASE condition.
      */
    final class Q(aggOk: Boolean, winOk: Boolean) extends Scope {
      protected def reference(n: RawName): Column = col(ref(n).inName)
      override protected def nonScalar: PartialFunction[Operand, Column] = {
        case OAgg(fn, arg) =>
          if (!aggOk) throw CompileException("aggregate not allowed in WHERE")
          col(aggColName(fn, arg.map(ref)))
        case OAggX(fn, e, ps, a2) =>
          if (!aggOk) throw CompileException("aggregate not allowed in WHERE")
          col(aggXColName(fn, e, ps, a2))
        case OScalarSub(s2) => col(scalarColName(s2))
        case OGroupKey(nm)  => col(nm)
        // time-series functions: bucket() is a plain scalar (usable in
        // WHERE / GROUP BY); rate/delta/locf carry an implicit window
        // over the source's time axis, so they follow OWin's placement
        case OFn("bucket", args) => bucketColumn(args)
        case OFn(fn, args) if tsWinFns.contains(fn) || tsPartFns.contains(fn) =>
          if (!winOk) throw CompileException(
            s"$fn() is a time-series window function — allowed in SELECT " +
              "items, QUALIFY and ORDER BY only")
          tsWinColumn(fn, args, aggOk)
        case w: OWin =>
          if (!winOk) throw CompileException(
            "window functions are only allowed in SELECT items, QUALIFY " +
              "and ORDER BY")
          winColumn(w, aggOk)
      }
      override protected def caseCondition: Scope =
        if (winOk) new Q(aggOk, winOk = false) else this
      protected def refuse(n: Node): Nothing = throw CompileException(n match {
        case OFn(fn, _) => s"unknown function $fn (supported: " +
          s"${scalarFns.keys.toSeq.sorted.mkString(", ")})"
        // semi/anti joins are plan surgery, not a Column — reachable
        // only as top-level WHERE conjuncts, which compile() strips out
        // before calling here
        case _ => "subquery predicates are only supported as top-level " +
          "WHERE conjuncts (optionally under NOT)"
      })
    }
    // WHERE, ON and aggregate arguments: no aggregates, no windows
    val row = new Q(aggOk = false, winOk = false)

    // ==== phase 1: sources and joins ====================================

    // --- per-source frame: per-series projection + exact-ts align ------
    // Each series contributes its value column and any referenced
    // attribute columns. Catalyst dedups the shared scan (the reference
    // does this by vertex reuse, planner.go:265-290) and pushes
    // `series = 'x'` into parquet.
    def sourceFrame(srcIdx: Int): DataFrame = sources(srcIdx) match {
      case _: SubSource | _: AttrSource =>
        // Derived table (or the ATTRIBUTES unnest source, which behaves
        // exactly like one): compile the inner statement to its own
        // frame (full recursion — set-op compounds, nested derived
        // tables, its own aggregation all included), then project the
        // referenced output columns under this scope's internal names.
        // Catalyst flattens the nesting into ONE plan, so
        // pushdown/pruning cross the derived-table boundary (an outer
        // WHERE on a sub column reaches the inner scan unless an
        // agg/limit blocks it).
        val subName = sources(srcIdx) match {
          case s2: SubSource => s2.aliasName
          case a2: AttrSource => a2.alias.getOrElse(
            s"ATTRIBUTES(${a2.domain}.${a2.family}, ${a2.series})")
          case _ => "?"
        }
        val inner = innerFrames(srcIdx)
        val refs = allRefs.filter(_.src == srcIdx)
        if (refs.isEmpty)
          throw CompileException(
            s"derived table $subName is never referenced")
        val have = inner.columns.toSet
        val missing = refs.map(_.f.colName).distinct.filterNot(have)
        if (missing.nonEmpty)
          throw CompileException(
            s"derived table $subName has no column(s) " +
              s"${missing.mkString(", ")} (outputs: ${inner.columns.mkString(", ")})")
        val projected = refs.distinctBy(_.f.colName)
          .map(r => col(r.f.colName).as(r.inName))
        // a surviving axis rides along under its internal name even when
        // no field spells `ts` — implicit-window functions (rate/locf/…)
        // and ASOF time matching order by it without referencing it
        val withAxis =
          if (subHasTs(srcIdx) && !refs.exists(_.isTs))
            projected :+ col("ts").as(s"__ts_$srcIdx")
          else projected
        inner.select(withAxis: _*)
      case famSrc: Source => famSourceFrame(srcIdx, famSrc)
    }

    def famSourceFrame(srcIdx: Int, famSrc: Source): DataFrame = {
      val family = families((famSrc.domain, famSrc.family))
      val refs = allRefs.filter(r => r.src == srcIdx && !r.isTs)
      val seriesNames = refs.map(_.f.series).distinct
      if (seriesNames.isEmpty) throw CompileException(
        s"source ${famSrc.domain}.${famSrc.family} is " + (
          if (allRefs.exists(r => r.src == srcIdx && r.isTs))
            "referenced only through its time axis ts — name one of its " +
              "series, e.g. count(cpu) for a series cpu"
          else "never referenced"))
      def seriesDf(s: String): DataFrame = {
        val valName = refs.find(r => r.f.series == s && r.f.attr.isEmpty)
          .map(_.inName).getOrElse(
            if (multi) s"${famSrc.alias.get}_$s" else s)
        val attrs = refs.filter(r => r.f.series == s && r.f.attr.isDefined)
        // `s.k` reads per-point attribute k, falling back to the series-
        // level tag k (reference: tags are series metadata, seriesfamily
        // .go:19-37; per-point attributes shadow them on name collision)
        val cols = Seq(col("ts"), col("value").as(valName)) ++
          attrs.map(r => coalesce(
            element_at(col("attributes"), r.f.attr.get),
            element_at(col("tags"), r.f.attr.get)).as(r.inName))
        family.filter(col("series") === s).select(cols: _*)
      }
      val aligned = seriesNames.map(seriesDf).reduce((a, b) => a.join(b, Seq("ts"), "inner"))
      // ts is per-source internal (not addressable in the dialect);
      // rename so multi-source joins don't collide on it
      aligned.withColumnRenamed("ts", s"__ts_$srcIdx")
    }

    // ASOF JOIN: the ON clause must be a conjunction of '=' comparisons
    // pairing the newly-joined source with an earlier one; time is
    // implicit (series time axes, never spelled in ON)
    def asofPairs(e: BExpr, rightIdx: Int): Seq[(SField, SField)] = e match {
      case AndE(l, r) => asofPairs(l, rightIdx) ++ asofPairs(r, rightIdx)
      case Cmp("=", ORef(a), ORef(b)) =>
        val (fa, fb) = (ref(a), ref(b))
        if (fa.isTs || fb.isTs)
          throw CompileException(
            "ASOF JOIN time matching is implicit; ts must not appear in ON")
        if (fb.src == rightIdx && fa.src < rightIdx) Seq((fa, fb))
        else if (fa.src == rightIdx && fb.src < rightIdx) Seq((fb, fa))
        else throw CompileException(
          "ASOF JOIN ON must pair the joined source with an earlier one")
      case _ => throw CompileException(
        "ASOF JOIN ON must be a conjunction of '=' comparisons between fields")
    }

    /** Tolerance interval text → microseconds. Validated HERE (not the
      * parser) so the malformed-interval failure is a CompileException
      * carrying the full interval text.
      */
    def asofToleranceMicros(iv: String): Long =
      parseIntervalMicros(iv).getOrElse(throw CompileException(
        s"malformed ASOF WITHIN interval '$iv' — expected '<n> " +
          "<microsecond|millisecond|second|minute|hour|day>[s]'"))

    /** For each left row: the latest right row with right time <= left
      * time within the equi-key group ([[graft.operators.TimeSeriesOps
      * .asofJoin]]'s union-window formulation — no join node at all);
      * unmatched left rows drop (inner semantics, DuckDB's default).
      * The right source's event time stays addressable (`b.ts`) as the
      * matched row's time. Options: FORWARD flips to earliest-at-or-
      * after; NEAREST takes whichever direction sits closer (ties
      * prefer backward); WITHIN bounds |left.ts - matched.ts| —
      * beyond-tolerance matches null out and drop with the unmatched
      * rows.
      */
    def asofJoin(acc: DataFrame, right: DataFrame, cond: BExpr, i: Int,
        opts: AsofOpts): DataFrame = {
      val pairs = asofPairs(cond, i + 1).distinct
      if (pairs.isEmpty)
        throw CompileException("ASOF JOIN needs at least one '=' key pair")
      val rightTs = s"__ts_${i + 1}"
      // right keys COPIED (not renamed) to the left key names: the by
      // columns line up for the union while `b.key` stays selectable
      val withKeys = pairs.foldLeft(right)((df, p) =>
        df.withColumn(p._1.inName, col(p._2.inName)))
      val r2 = withKeys
        .withColumn(s"__asof$rightTs", col(rightTs))
        .withColumnRenamed(rightTs, "__ts_0")
      val by = pairs.map(_._1.inName)
      val carried = r2.columns.toSeq.filterNot(c => by.contains(c) || c == "__ts_0")
      val out = graft.operators.TimeSeriesOps.asofJoin(
        acc, r2, by, "__ts_0", carried, prefix = "",
        toleranceMicros = opts.within.map(asofToleranceMicros),
        direction = opts.direction)
      out.withColumnRenamed(s"__asof$rightTs", rightTs)
        .filter(col(rightTs).isNotNull)
    }

    /** Phase 1: each source's frame, folded left through the joins.
      * joinType "left"/"right"/"full" null-extends the unmatched
      * side(s), exactly Spark's outer-join semantics. A stream checks
      * its aggregate's shape ([[timeKey]]) before any of it. */
    def sourcesAndJoins(): DataFrame = {
      timeKey
      def hinted(df: DataFrame, i: Int): DataFrame =
        if (broadcastIdx(i)) broadcast(df) else df
      spec.joins.zipWithIndex.foldLeft(hinted(sourceFrame(0), 0)) {
        case (acc, (JoinClause(_, on, joinType, asofOpts), i)) =>
          val right = hinted(sourceFrame(i + 1), i + 1)
          (joinType, on) match {
            case ("asof", Some(cond)) =>
              // time matching is implicit on the time axes — the anchor
              // (source 0) and the joined source each need one
              if (!hasAxis(0) || !hasAxis(i + 1)) throw CompileException(
                "ASOF JOIN requires a time axis on both sides (a series " +
                  "family, or a derived table whose subquery outputs a " +
                  "timestamp column named ts)")
              asofJoin(acc, right, cond, i, asofOpts.getOrElse(AsofOpts()))
            case ("asof", None) =>
              throw CompileException("ASOF JOIN requires an ON clause")
            case (_, Some(cond)) => hotKeyJoin(acc, right).getOrElse(
              acc.join(right, row.predicate(cond), joinType))
            case (_, None)       => acc.crossJoin(right)
          }
      }
    }

    /** Stream mode's inner join of two family streams: the hot-key-proof
      * plan, [[graft.streaming.StreamingOps.bucketedIntervalJoin]], whose
      * state probe stays within one bound-width time bucket per key
      * however hot one key runs. The ON comes apart into cross-side
      * equalities (the join keys), cross-side time-axis comparisons (the
      * bound on `b.ts − a.ts`) and one-side conjuncts (each filters its
      * side, which an inner join allows). Each left row explodes into
      * its ≤ 2 covering buckets and the exact bound still applies, so
      * every true pair matches once. None — the symmetric join — for any
      * other conjunct, no key, a bound open at either end, or a select
      * item or WHERE conjunct that reads both sides (`sum(a.x + b.y)`).
      */
    def hotKeyJoin(a: DataFrame, b: DataFrame): Option[DataFrame] = {
      if (stream.isEmpty || spec.joins.head.joinType != "inner") return None
      val aliases = sources.map(_.alias.get)
      def sides(n: Node): Seq[Int] = refs(n).map(_.src).distinct
      // two different sides' time axes, each with its offset
      def axes(l: Operand, r: Operand) = for {
        x <- tsOff(l, aliases); y <- tsOff(r, aliases) if x._1 != y._1
      } yield (x, y)
      val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
      var lo = Long.MinValue; var hi = Long.MaxValue
      val keys = Vector.newBuilder[(Operand, Operand)]
      val local = Vector.newBuilder[(Int, BExpr)]
      conjuncts(spec.joins.head.on.get).foreach {
        case Cmp(op, l, r) if axes(l, r).isDefined =>
          // ts_x + ox OP ts_y + oy, as a bound on δ = ts_b − ts_a
          val ((x, ox), (_, oy)) = axes(l, r).get
          val (o, k) = if (x == aliases(1)) (op, oy - ox)
            else (flip.getOrElse(op, op), ox - oy)
          o match {
            case "<=" => hi = math.min(hi, k)
            case "<" if k != Long.MinValue => hi = math.min(hi, k - 1)
            case ">=" => lo = math.max(lo, k)
            case ">" if k != Long.MaxValue => lo = math.max(lo, k + 1)
            case "=" | "==" => lo = math.max(lo, k); hi = math.min(hi, k)
            case _ => return None
          }
        case Cmp("=" | "==", l, r) if sides(l).length == 1 &&
            sides(r).length == 1 && sides(l) != sides(r) =>
          keys += (if (sides(l) == Seq(0)) (l, r) else (r, l))
        case c if sides(c).length <= 1 => local += (sides(c).headOption.getOrElse(0) -> c)
        case _ => return None
      }
      val keyPairs = keys.result()
      if (keyPairs.isEmpty || lo == Long.MinValue || hi == Long.MaxValue || hi < lo ||
          (spec.select.map(itemRefs) ++ spec.where.toSeq.flatMap(conjuncts).map(refs))
            .exists(_.map(_.src).distinct.length > 1)) return None
      def side(df: DataFrame, i: Int): DataFrame = keyPairs.zipWithIndex.foldLeft(
          local.result().collect { case (`i`, c) => c }.reduceOption(AndE)
            .fold(df)(c => df.filter(row.predicate(c)))) { case (d, (k, j)) =>
        d.withColumn(s"__ek${j}_$i", row.operand(if (i == 0) k._1 else k._2))
      }
      val ek = keyPairs.indices.map(j => s"__ek${j}_0" -> s"__ek${j}_1")
      Some(graft.streaming.StreamingOps.bucketedIntervalJoin(side(a, 0), side(b, 1),
        ek, lo, hi, "__ts_0", "__ts_1").drop(ek.flatMap(p => Seq(p._1, p._2)): _*))
    }

    // ==== phase 2: WHERE and its subqueries =============================

    // --- scalar subqueries (WHERE + SELECT; correlated via equality) ----
    // `WHERE cpu > (SELECT avg(cpu) FROM …)`: each distinct uncorrelated
    // sub compiles once and broadcast-cross-joins its ONE row onto the
    // outer frame, so the comparison is an ordinary codegen'd filter —
    // never a per-row subquery execution. A CORRELATED sub (equality
    // conjuncts pairing a sub field with an outer field, same machinery
    // as IN/EXISTS) decorrelates to a groupBy on the key pairs + LEFT
    // join: one aggregate row per key group, NULL where the group is
    // empty (COUNT coalesces to 0 — the ANSI empty-group count).
    // scalarSubs flags each sub that sits inside an aggregate argument
    // (a subquery predicate's left operand is THIS scope). A sub inside
    // window arguments is a plain SELECT sub: windows are refused beside
    // aggregates, so its query is ungrouped and it attaches before the
    // projection.
    def scalarSubs(n: Node, inAgg: Boolean = false): Seq[(QuerySpec, Boolean)] =
      collect(n) {
        case OScalarSub(s2) => Seq((s2, inAgg))
        case a: OAggX       => children(a).flatMap(scalarSubs(_, inAgg = true))
      }
    /** The scalar subqueries that attach before the aggregation (or
      * the projection) and those that attach after it. */
    lazy val (preScalarSubs, postScalarSubs) = {
      val whereScalarSubs: Seq[QuerySpec] =
        spec.where.toSeq.flatMap(scalarSubs(_)).map(_._1)
      val (aggArgScalarSubs, selectScalarSubs) = spec.select.flatMap {
        case ExprItem(e, _) => scalarSubs(e); case _ => Seq.empty
      }.partition(_._2) match {
        case (in, out) => (in.map(_._1).distinct, out.map(_._1).distinct)
      }
      val elsewhere =
        spec.having.toSeq.flatMap(scalarSubs(_)) ++
        spec.joins.flatMap(_.on.toSeq.flatMap(scalarSubs(_))) ++
        spec.orderBy.flatMap(_.item match {
          case ExprItem(e, _) => scalarSubs(e); case _ => Seq.empty })
      if (elsewhere.nonEmpty) throw CompileException(
        "scalar subqueries are only supported in WHERE and SELECT items")
      // outer aggregation shape: SELECT-item subs attach post-agg (their
      // column must survive the groupBy), and correlated ones cannot
      // (their join keys are pre-aggregation columns). A sub inside an
      // aggregate argument is pre-aggregation scope: it attaches before
      // the groupBy, as WHERE's do, and a correlated one joins on
      // pre-aggregation keys.
      val outerHasAgg = spec.groupBy.nonEmpty || spec.having.nonEmpty ||
        spec.select.exists {
          case _: AggItem     => true
          case ExprItem(e, _) => containsAgg(e)
          case _              => false
        }
      // A correlated SELECT sub in a GROUPED outer query is legal when it
      // correlates on grouping keys only (ANSI: any outer column the sub
      // reads must be single-valued per group). The grouping output column
      // keeps its pre-agg inName, so the same keyed left join attaches
      // post-aggregation — still one aggregate pass per sub, never a
      // per-group rescan.
      if (outerHasAgg) {
        val groupKeyInNames: Set[String] =
          groupEntries.collect { case Left(sf) => sf.inName }.toSet
        for (s <- selectScalarSubs; of <- outerKeys(s))
          if (!groupKeyInNames.contains(of.inName))
            throw CompileException(
              "correlated scalar subquery in the SELECT of a grouped query " +
                s"must correlate on grouping keys (${of.outName} is not one)")
      }
      ((whereScalarSubs ++ aggArgScalarSubs ++
        (if (outerHasAgg) Seq.empty else selectScalarSubs)).distinct,
        if (outerHasAgg) selectScalarSubs else Seq.empty)
    }
    def attachScalarSubs(df: DataFrame, subs: Seq[QuerySpec]): DataFrame =
      subs.foldLeft(df) { (acc, s2) =>
        if (s2.select.length != 1)
          throw CompileException("scalar subquery must select exactly one item")
        val a = analyzeSub(s2) // also rejects outer refs outside sub WHERE
        if (a.pairs.isEmpty) {
          val aggShaped = s2.select.head match {
            case AggItem(_, _)  => true
            case ExprItem(e, _) => containsAgg(e)
            case _              => false
          }
          if (!((aggShaped && s2.groupBy.isEmpty) || s2.limit.contains(1)))
            throw CompileException(
              "scalar subquery must be single-row: an ungrouped aggregate " +
                "or LIMIT 1")
          // compile the ORIGINAL spec (ORDER BY intact for the LIMIT 1 form)
          acc.crossJoin(broadcast(compile(s2, families).toDF(scalarColName(s2))))
        } else {
          // correlated: the single item must be a BARE aggregate call so
          // the empty-group value is known exactly (NULL for sum/avg/
          // min/max, 0 for the counts — an expression AROUND the
          // aggregate would need evaluation over the empty group, which
          // a join cannot express)
          val isCount = s2.select.head match {
            case AggItem(f, _)           => f.startsWith("count")
            case ExprItem(OAgg(f, _), _)  => f.startsWith("count")
            case ExprItem(OAggX(f, _, _, _), _) => f.startsWith("count")
            case _ => throw CompileException(
              "correlated scalar subquery must select a single bare " +
                "aggregate (count/sum/avg/min/max over a field or expression)")
          }
          // analyzeSub rejected GROUP BY/HAVING/DISTINCT/LIMIT already;
          // grouping by the correlation keys makes it one row per key —
          // the single-row proof per outer row
          val keyCols = a.keyNames(scalarColName(s2))
          val spec2 = a.local.copy(
            select = a.local.select ++ a.pairs.map(p => FieldItem(p._2)),
            groupBy = a.pairs.map(_._2))
          val named = compile(spec2, families)
            .toDF(scalarColName(s2) +: keyCols: _*)
          val joined2 = acc.join(named,
            a.keyCond(scalarColName(s2)).reduce(_ && _), "left").drop(keyCols: _*)
          if (isCount)
            joined2.withColumn(scalarColName(s2),
              coalesce(col(scalarColName(s2)), lit(0L)))
          else joined2
        }
      }

    /** Apply one subquery conjunct to the filtered outer frame as a
      * semi/anti join. `j` uniquifies the renamed sub columns.
      */
    def applySubPred(df: DataFrame, pred: BExpr, j: Int): DataFrame = pred match {
      case ExistsE(sub, neg) =>
        val a = analyzeSub(sub)
        val jt = if (neg) "left_anti" else "left_semi"
        if (a.pairs.isEmpty) {
          // uncorrelated: one surviving sub row decides every outer row.
          // If the sub's select list references no fields (SELECT 1 …),
          // substitute the first WHERE-referenced field — only row
          // existence matters.
          val spec2 =
            if (a.local.select.exists {
              case FieldItem(_) | AggItem(_, _) => true
              case ExprItem(e, _) => referencesField(e)
            }) a.local
            else a.local.where.toSeq.flatMap(rawRefs).headOption match {
              case Some(n) => a.local.copy(select = Seq(FieldItem(n)))
              case None => throw CompileException(
                "EXISTS subquery must reference at least one field")
            }
          val subDf = compile(spec2, families).limit(1)
            .select(lit(1).as(s"__sq${j}_e"))
          df.join(subDf, lit(true), jt)
        } else {
          val spec2 = a.local.copy(select = a.pairs.map(p => FieldItem(p._2)),
            limit = None, offset = None, distinct = false)
          val named = compile(spec2, families)
            .toDF(a.keyNames(s"__sq$j"): _*)
          df.join(named, a.keyCond(s"__sq$j").reduce(_ && _), jt)
        }
      case InSubE(x, sub, neg) =>
        val a = analyzeSub(sub)
        if (a.local.select.length != 1)
          throw CompileException("IN subquery must select exactly one item")
        val spec2 = a.local.copy(
          select = a.local.select ++ a.pairs.map(p => FieldItem(p._2)))
        val named = compile(spec2, families)
          .toDF(s"__sq${j}_v" +: a.keyNames(s"__sq$j"): _*)
        val xc = row.operand(x)
        val vc = col(s"__sq${j}_v")
        val keyCond = a.keyCond(s"__sq$j")
        if (!neg)
          df.join(named, (keyCond :+ (xc === vc)).reduce(_ && _), "left_semi")
        else {
          // ANSI three-valued NOT IN: a row qualifies iff NO (correlated)
          // sub row matches it OR is NULL, and x itself is not NULL when
          // the per-row list is non-empty — exactly the anti join over
          // `match-or-either-side-null`
          val cond = (keyCond :+ (xc === vc || xc.isNull || vc.isNull))
            .reduce(_ && _)
          df.join(named, cond, "left_anti")
        }
      case QuantE(op, x, sub, neg) =>
        val a = analyzeSub(sub)
        if (a.local.select.length != 1)
          throw CompileException(
            "ANY/ALL subquery must select exactly one item")
        val spec2 = a.local.copy(
          select = a.local.select ++ a.pairs.map(p => FieldItem(p._2)))
        val keyNames = a.keyNames(s"__sq$j")
        val listed = compile(spec2, families)
          .toDF(s"__sq${j}_v" +: keyNames: _*)
        // reduce the (per-correlation-key) list to ONE aggregate row:
        // the decisive extreme (min for >/>= — x beats ANY iff it beats
        // the minimum; max for </<=) plus the non-null and total counts
        // for the ANSI null/empty cases. The join then runs against
        // |keys| rows, never the raw list.
        val vc = col(s"__sq${j}_v")
        val extreme = if (op.startsWith(">")) min(vc) else max(vc)
        val agg = listed.groupBy(keyNames.map(col): _*)
          .agg(extreme.as(s"__sq${j}_m"), count(vc).as(s"__sq${j}_nn"),
            count(lit(1)).as(s"__sq${j}_n"))
        val xc = row.operand(x)
        val mc = col(s"__sq${j}_m")
        val cmp = op match {
          case ">"  => xc > mc
          case ">=" => xc >= mc
          case "<"  => xc < mc
          case "<=" => xc <= mc
          case o    => throw CompileException(s"ANY/ALL does not take $o")
        }
        val keyCond = a.keyCond(s"__sq$j")
        if (!neg)
          // x op ANY: true iff some non-null v satisfies — iff x beats
          // the extreme (null-propagating, so empty/all-null key lists
          // never match)
          df.join(agg, (keyCond :+ cmp).reduce(_ && _), "left_semi")
        else
          // negated (the ALL family): anti over match-or-unknown — a
          // row drops when its list is non-empty AND (x beats the
          // extreme, or either side is NULL, or the list has nulls);
          // an absent or empty key survives (ALL over the empty list
          // is true)
          df.join(agg, (keyCond :+ (col(s"__sq${j}_n") > 0 &&
            (cmp || xc.isNull || mc.isNull ||
              col(s"__sq${j}_nn") < col(s"__sq${j}_n")))).reduce(_ && _),
            "left_anti")
      case other => throw CompileException(s"not a subquery predicate: $other")
    }

    /** Phase 2: attach the pre-aggregation scalar subqueries, then filter
      * on WHERE. Its top-level conjuncts split: subquery predicates peel
      * off into semi/anti joins (NOT folds into the predicate's negated
      * flag, so `NOT EXISTS` / double negation normalize away); the rest
      * fold back into one codegen'd filter. */
    def where(joined: DataFrame): DataFrame = {
      def normalizeConjunct(e: BExpr): BExpr = e match {
        case NotE(x) => normalizeConjunct(x) match {
          case InSubE(o, s, n) => InSubE(o, s, !n)
          case QuantE(o2, x, s, n) => QuantE(o2, x, s, !n)
          case ExistsE(s, n)   => ExistsE(s, !n)
          case nx              => NotE(nx)
        }
        case x => x
      }
      def whereConjuncts(e: BExpr): Seq[BExpr] = e match {
        case AndE(l, r) => whereConjuncts(l) ++ whereConjuncts(r)
        case x          => Seq(normalizeConjunct(x))
      }
      val withScalars = attachScalarSubs(joined, preScalarSubs)
      val (subPreds, plainPreds) = spec.where.toSeq.flatMap(whereConjuncts)
        .partition {
          case _: InSubE | _: ExistsE | _: QuantE => true
          case _ => false
        }
      val filtered0 = plainPreds.reduceOption(AndE)
        .fold(withScalars)(w => withScalars.filter(row.predicate(w)))
      subPreds.zipWithIndex.foldLeft(filtered0) {
        case (df, (p, j)) => applySubPred(df, p, j)
      }
    }

    // ==== phase 3: aggregate, or windows =================================

    // the aggregate calls of an operand or a boolean tree (HAVING
    // conditions, CASE WHEN conditions)
    def aggs(n: Node): Seq[AggSpec] = collect(n) {
      case OAgg(f, a)          => Seq(Left((f, a.map(ref))))
      case a @ OAggX(f, e, ps, a2) =>
        if (children(a).exists(containsAgg))
          throw CompileException(s"nested aggregate inside $f(…)")
        Seq(Right((f, e, ps, a2)))
      // subquery predicates never nest aggregates into THIS query's agg
      // list (the expression scope refuses them outside top-level WHERE anyway)
      case _: OWin | _: InSubE | _: QuantE => Nil
    }
    def itemAggs(i: SelectItem): Seq[AggSpec] = i match {
      case AggItem(f, a)  => Seq(Left((f, a.map(ref))))
      case ExprItem(e, _) => aggs(e)
      case _              => Seq.empty
    }
    lazy val hasAgg: Boolean = spec.select.exists(itemAggs(_).nonEmpty) ||
      spec.groupBy.nonEmpty || spec.having.nonEmpty

    // windows + grouping in one query is DataFrame-tier territory —
    // refuse rather than guess which happens first
    def hasWinOp(n: Node): Boolean = exists(n) {
      case _: OWin         => true
      // tsPartFns (zscore) are windows too: under QUALIFY they must
      // materialize pre-filter like every other window, or the final
      // projection would recompute them over the FILTERED partitions
      case OFn(f, _) if tsWinFns.contains(f) || tsPartFns.contains(f) => true
      case _: OAggX | _: InSubE | _: QuantE => false
    }
    // (a stream's aggregate refuses windows itself: its session() key is one)
    lazy val hasWin: Boolean = stream.isEmpty &&
      (spec.select ++ orderItems.map(_.item)).exists {
        case ExprItem(e, _) => hasWinOp(e)
        case _              => false
      }

    /** Escaped/auto-stitched smoothing detection (the final projection
      * reads the materialized `__esc_<alias>` columns back): top-level
      * zscore items (auto) and the smoothing kernels' bucket-width forms
      * (opt-in, [[escapeArgs]]) — each compiled by [[windows]] as a frame
      * transform instead of a per-key window Column.
      */
    lazy val escapable: Seq[Stitched] =
      if (qualify2.isDefined || hasAgg || multi || !hasAxis(0)) Seq.empty
      else {
        def periodLit(fn: String, o: Operand): Int = o match {
          case OLit(BInt(p)) if p >= 2 && p <= 8 => p.toInt
          case _ => throw CompileException(
            s"the stitched $fn() period must be an integer literal in " +
              "[2, 8] — the (2+p)² matrix-power buffer is " +
              "codegen-bounded; longer cycles use the single-pass form")
        }
        def escOf(fn: String, args: Seq[Operand]): Escape = {
          def smooth(i: Int, what: String): Double =
            smoothParam(fn, args(i), what, zeroOk = i > 1)
          fn match {
            case "ewma" =>
              Escape(fn, smooth(1, "alpha"), 0.0, 0.0, 0, bucketWidth(fn, args(2)))
            case "holt" | "holt_forecast" =>
              Escape(fn, smooth(1, "alpha"), smooth(2, "beta"), 0.0, 0,
                bucketWidth(fn, args(3)))
            case _ => // holt_winters | holt_winters_forecast
              Escape(fn, smooth(1, "alpha"), smooth(2, "beta"),
                smooth(3, "gamma"), periodLit(fn, args(4)), bucketWidth(fn, args(5)))
          }
        }
        spec.select.collect {
          case ExprItem(OFn("zscore", Seq(arg)), nm) =>
            Stitched(nm, arg, Seq.empty, None)
          case ExprItem(OWin("zscore", Seq(arg), part, ord, frame), nm) =>
            tsOver("zscore", ord, frame)
            Stitched(nm, arg, part, None)
          case ExprItem(OFn(fn, args), nm) if isEscape(fn, args.length) =>
            Stitched(nm, args.head, Seq.empty, Some(escOf(fn, args)))
          case ExprItem(OWin(fn, args, part, ord, frame), nm)
            if isEscape(fn, args.length) =>
            val e = escOf(fn, args)
            tsOver(fn, ord, frame)
            Stitched(nm, args.head, part, Some(e))
        }
      }
    lazy val escapedNames: Set[String] = escapable.map(_.name).toSet

    /** Phase 3: the aggregate of the filtered frame, or, with no
      * aggregate, its windows (stitched escapes, then QUALIFY). */
    def aggregateOrWindow(filtered: DataFrame): DataFrame = {
      if (hasAgg && hasWin)
        throw CompileException(
          "window functions cannot be combined with GROUP BY/HAVING/aggregates")
      // under QUALIFY a window value must come from the pre-filter
      // partitions; only SELECTED window expressions are materialized
      // there, so an ORDER BY window with no structurally-equal select
      // item would silently re-rank the filtered rows — refuse instead
      // (matching by EXPRESSION, not item: an unaliased ORDER BY copy of
      // a selected window is the same pre-filter value and is fine)
      if (qualify2.isDefined)
        orderItems.map(_.item).foreach {
          case ExprItem(e, _) if hasWinOp(e) &&
              !spec.select.exists { case ExprItem(e2, _) => e2 == e; case _ => false } =>
            throw CompileException(
              "under QUALIFY, ORDER BY may use window expressions only " +
                "through selected items (their pre-filter values)")
          case _ => ()
        }
      val out = if (hasAgg) aggregate(filtered) else windows(filtered)
      if (hasAgg && spec.qualify.isDefined)
        throw CompileException(
          "QUALIFY requires a window-function query; aggregates filter with HAVING")
      if (!hasAgg && spec.fill.isDefined)
        throw CompileException(
          "FILL requires a GROUP BY bucket(…) aggregate query — there is " +
            "no bucket axis to densify here")
      out
    }

    /** approx_percentile(x, p): interpolated percentile of a
      * k-bounded deterministic uniform row sample
      * ([[graft.functions.KmvSampleAgg]], k = 256) keyed on the md5
      * of the source's epoch-micros time axis — the engine's unique
      * row key — so the estimate is partitioning-invariant and
      * engine-replayable (rank by md5, keep k, interpolate: a full
      * DuckDB oracle, unlike engine-native GK/t-digest sketches).
      * Groups below k hold every row, making the estimate exact.
      * Needs compile context (the axis), so it lives here rather
      * than in aggFnColumn. Single-source only: a joined frame can
      * repeat the sampling axis, which the distinct-hash buffer
      * would silently dedup.
      */
    def sampleSketchColumn(fnName: String, v: Column): Column = {
      requireAxis(
        s"$fnName() is single-source only — joined frames " +
          "can repeat the sampling time axis",
        s"$fnName() samples on the time axis — this derived " +
          "table does not output a timestamp column named ts")
      val key = graft.operators.SketchOps
        .portableHash60(unix_micros(col("__ts_0")))
      graft.functions.GraftFunctions.kmvSample(
        key, v.cast("double"), SampleK)
    }
    /** first(x) / last(x): the value at the earliest / latest point of
      * the group on the family's time axis — the TSDB first/last
      * aggregate (InfluxQL FIRST/LAST, TimescaleDB first/last), with
      * the axis IMPLIED by the source the way bucket()/rate() imply
      * it. Compiles to one lexicographic struct extreme —
      * `min/max(struct(ts, x)).x` over rows where x is non-null — a
      * single codegen'd hash-aggregate expression with constant
      * per-group state (no sort, no window): partial extremes combine
      * map-side, so the shape holds at any group size. The (ts, x)
      * composite makes equal-timestamp ties deterministic (smallest /
      * largest value wins), which is what lets a DuckDB
      * `first(x ORDER BY ts, x)` ordered aggregate replay it exactly.
      * Needs compile context (the axis), so it lives here like
      * approx_percentile; single-source only — a joined frame has no
      * unambiguous time axis.
      */
    def timeOrderedColumn(fn: String, v: Column): Column = {
      requireAxis(
        s"$fn() is single-source only — joined frames have no " +
          "unambiguous time axis",
        s"$fn() takes the value at the group's time-axis extreme — " +
          "this derived table does not output a timestamp column named ts")
      val key = when(v.isNotNull, struct(col("__ts_0").as("t"), v.as("v")))
      (if (fn == "first") min(key) else max(key)).getField("v")
    }

    /** A bucket(ts, '<width>'[, '<slide>']) key's width and slide in
      * microseconds; a tumbling key slides by its width. The slide divides
      * the width, so every row is in exactly width/slide windows, and never
      * exceeds it: a larger slide leaves gaps, a filter, not a window. */
    def widthSlideUs(args: Seq[Operand]): (Long, Long) = {
      val w = bucketWidth("bucket", args(1), "width")
      val sl = args.lift(2).fold(w)(bucketWidth("bucket", _, "slide"))
      if (sl > w) throw CompileException(
        "bucket() slide must not exceed the width — a larger slide " +
          "leaves gaps (filter rows instead)")
      if (w % sl != 0) throw CompileException(
        "bucket() width must be a multiple of the slide so every row " +
          "is in exactly width/slide windows")
      (w, sl)
    }

    // ---- stream mode: the aggregate as event-time state ----------------

    /** A stream's time key: bucket(ts, …) or session(ts, …) over the time
      * axis, under any CASTs. */
    def isTimeKey(e: Operand): Boolean = e match {
      case OCast(x, _) => isTimeKey(x)
      case OFn("bucket", ORef(t) +: a) if a.length == 1 || a.length == 2 => ref(t).isTs
      case OFn("session", Seq(ORef(t), _)) => ref(t).isTs
      case _ => false
    }

    /** Stream mode's refusals, ahead of the batch aggregate's: the shapes
      * whose state the engine cannot key on event time, merge or evict,
      * and, over a join, everything beyond one tumbling key, dimension
      * aliases and the plain aggregates. Returns the time key's alias and
      * operand. */
    def streamShape(): (String, Operand) = {
      def joinOnly(cond: Boolean, what: => String): Unit = if (multi && cond)
        throw CompileException("streaming joined-stream aggregation supports " +
          "one [CAST(]bucket(x.ts, '<width>')[ AS int)] key + dimension " +
          s"aliases + count/sum/avg/min/max only; $what is not supported " +
          "(the single-family sqlStream form is wider)")
      joinOnly(spec.joins.exists(_.joinType != "inner"),
        s"GROUP BY over a ${spec.joins.head.joinType.toUpperCase} OUTER " +
          "joined stream (the null-extended rows only arrive at watermark " +
          "finalize, a second layer of emission latency the aggregate would " +
          "compound — aggregate the inner join, or the outer join at the sink)")
      joinOnly(spec.having.isDefined,
        "HAVING over a joined-stream aggregate (filter the finalized " +
          "windows at the sink, or use the single-family form which " +
          "supports HAVING)")
      val keys = spec.groupBy.zip(groupEntries).flatMap {
        case (_, Right(ExprItem(e, nm))) if isTimeKey(e) => Some(nm -> e)
        case (_, Right(ExprItem(e, nm))) =>
          if (!e.isInstanceOf[ORef] && (!multi || containsAgg(e)))
            throw CompileException(s"streaming GROUP BY alias '$nm' must " +
              "name a bucket(ts, …) / session(ts, …) item or a plain field")
          None
        case (n, Left(sf)) =>
          joinOnly(true, s"GROUP BY '${n.text}' (name a select alias)")
          if (sf.isTs) throw CompileException(
            "GROUP BY ts groups every point alone — use bucket(ts, …)")
          None
      }
      if (keys.length > 1) throw CompileException(
        "watermarked streaming aggregation takes exactly one bucket(ts, …) " +
          "or session(ts, …) group key")
      val (name, key) = keys.headOption.getOrElse(throw CompileException(
        "watermarked streaming aggregation needs a bucket(ts, '<width>') or " +
          "session(ts, '<gap>') group key selected under an alias"))
      def uncast(e: Operand): Operand = e match { case OCast(x, _) => uncast(x); case x => x }
      val OFn(fn, args) = uncast(key)
      joinOnly(fn == "session", "a session key over a joined stream")
      joinOnly(args.length == 3, "a sliding bucket over a joined stream (an " +
        "Expand between two stateful operators)")
      // the engine merges sessions per key: a global session is unsupported
      if (fn == "session" && groupEntries.length == 1) throw CompileException(
        "streaming session(ts, …) aggregation needs at least one plain " +
          "grouping key besides the session — a global session merge is " +
          "not supported by the engine (group by the series/user key whose " +
          "activity defines the session)")
      // mergeable, bounded state; HAVING and aggregate expressions compare
      // and combine values, which histogram's bin string is not
      val plain = Seq("count", "sum", "avg", "min", "max")
      def safe(n: Node, bare: Boolean): Unit = aggs(n).map(_.fold(_._1, _._1)).foreach { f =>
        val ok = plain ++ Seq("approx_top_k") ++ (if (bare) Seq("histogram") else Nil)
        if (!ok.contains(f)) throw CompileException(s"$f() is not streaming-safe " +
          s"— supported streaming aggregates: ${ok.mkString(", ")}")
        joinOnly(!plain.contains(f), s"$f() (streaming-safe joined-stream " +
          "aggregates: count, sum, avg, min, max)")
      }
      spec.select.foreach {
        case ExprItem(_, nm) if groupedExprNames(nm) => ()
        case FieldItem(n) if groupEntries.contains(Left(ref(n))) => ()
        case ExprItem(e @ (_: OAgg | _: OAggX), _) => safe(e, bare = true)
        case ExprItem(e, nm) if containsAgg(e) && !hasWinOp(e) &&
            !exists(e) { case _: OScalarSub => true } =>
          joinOnly(true, s"the aggregate expression '$nm'")
        case _: AggItem => throw CompileException(
          "streaming aggregates must be aliased (agg(x) AS name)")
        case _ => throw CompileException("streaming select items must be the " +
          "bucket key, a grouping field, an aliased aggregate, or an " +
          "expression over streaming-safe aggregates")
      }
      if (!spec.select.exists { case ExprItem(e, _) => containsAgg(e); case _ => false })
        throw CompileException(
          "watermarked streaming aggregation needs at least one aggregate")
      spec.select.foreach {
        case ExprItem(_: OAgg | _: OAggX, _) => ()
        case ExprItem(e, _) => safe(e, bare = false)
        case _ => ()
      }
      having2.foreach(safe(_, bare = false))
      name -> key
    }

    /** Stream mode: a time key's event-time window over the watermarked
      * axis — bucket(ts, w[, slide]) → window(ts, w[, slide]), session(ts,
      * gap) → session_window(ts, gap) — and how the key reads the window
      * after the aggregate: its start, in epoch seconds under CAST(… AS
      * int). The engine recognizes these keys, so the watermark evicts
      * finalized windows and append mode emits them. */
    def eventWindow(key: Operand): (Column, Column => Column) = key match {
      case OCast(x, ty) =>
        if (ty != "int") throw CompileException(s"streaming ${x match {
          case OFn(f, _) => f; case _ => "time" }} key CAST must target " +
          s"int (epoch seconds), not $ty")
        val (w, start) = eventWindow(x)
        (w, c => start(c).cast(castType(ty)))
      case OFn(fn, args @ (ORef(t) +: _)) =>
        val axis = col(ref(t).inName)
        val w = if (fn == "session")
          session_window(axis, s"${bucketWidth(fn, args(1), "gap")} microseconds")
        else {
          val (wUs, sUs) = widthSlideUs(args)
          window(axis, s"$wUs microseconds", s"$sUs microseconds")
        }
        (w, _.getField("start"))
    }

    /** Stream mode: the time key's alias and window, forced before any
      * frame is built, so a stream refuses its shape first. */
    lazy val timeKey: Option[(String, (Column, Column => Column))] =
      stream.map { _ =>
        val (nm, key) = streamShape()
        nm -> eventWindow(key)
      }

    /** The aggregate path of phase 3: the optional sliding-bucket
      * expansion and window pre-pass, the grouping (plain, ROLLUP, CUBE
      * or GROUPING SETS), HAVING, FILL, and the SELECT-item scalar
      * subqueries that attach after the aggregation. In stream mode the
      * time key groups on its event-time window instead. */
    def aggregate(in: DataFrame): DataFrame = {
      stream.foreach(_.sweep(in))
      // a single family's axis takes the watermark here; a join's sides
      // carry theirs from their sources
      val filtered = stream.filter(_ => !multi)
        .fold(in)(m => in.withWatermark("__ts_0", m.delay))
      /** SLIDING buckets: `GROUP BY bucket(ts, '<width>', '<slide>')`
        * (by select alias) expands each row MAP-SIDE into its
        * width/slide overlapping windows — explode over an epoch-aligned
        * start sequence, the batch twin of the engine's streaming
        * `window(ts, w, s)` Expand — then groups normally
        * ([[widthSlideUs]]). Row multiplicity changes, so the sliding key
        * is only valid as a plain grouping key: scalar use, ROLLUP/CUBE/
        * GROUPING SETS (Expand-on-Expand) and FILL refuse.
        */
      val slidingEntries = if (timeKey.isDefined) Nil else groupEntries.collect {
        case Right(it @ ExprItem(OFn("bucket", a), nm)) if a.length == 3 =>
          (nm, a, it)
      }
      if (slidingEntries.length > 1) throw CompileException(
        "at most one sliding bucket(ts, width, slide) grouping key")
      if (slidingEntries.nonEmpty && spec.groupMode != "plain")
        throw CompileException(
          "a sliding bucket key is not valid with ROLLUP/CUBE/GROUPING SETS")
      if (slidingEntries.nonEmpty && spec.fill.isDefined)
        throw CompileException(
          "FILL applies to the tumbling bucket(ts, width) form — sliding " +
            "windows already overlap")
      val preExpanded = slidingEntries.headOption.fold(filtered) {
        case (nm, a, _) =>
          // the window starts materialize via withColumn, which REPLACES
          // a same-named column — a key alias shadowing a source
          // series/column would silently change what downstream items
          // read, so it refuses instead
          if (filtered.columns.contains(nm)) throw CompileException(
            s"sliding bucket alias '$nm' collides with a source column " +
              "of the same name — choose a different alias")
          val axis = a.head match {
            case ORef(n) if ref(n).isTs => ref(n).inName
            case _ => throw CompileException(
              "bucket() first argument must be the time axis ts")
          }
          val (widthUs, slideUs) = widthSlideUs(a)
          val tsUs = unix_micros(col(axis))
          val base = tsUs - pmod(tsUs, lit(slideUs))
          val starts = sequence(
            base - lit(widthUs - slideUs), base, lit(slideUs))
          filtered.withColumn(nm,
            explode(transform(starts, s => timestamp_micros(s))))
      }
      // every bare (non-aggregated) select field must be a grouping key —
      // inside ExprItems too (OAgg args are not bare: they aggregate);
      // an ExprItem that IS a grouping entry is exempt (it's the key)
      val groupNames = groupEntries.collect { case Left(sf) => sf.inName }.toSet
      def bareRefs(n: Node): Seq[SField] = collect(n) {
        case ORef(nm) => Seq(ref(nm))
        case _: OAggX | _: OWin | _: InSubE | _: QuantE => Nil
      }
      spec.select.foreach {
        case FieldItem(n) if !groupNames.contains(ref(n).inName) =>
          throw CompileException(s"${n.text} must appear in GROUP BY")
        case ExprItem(_, nm) if groupedExprNames.contains(nm) => ()
        case ExprItem(e, nm) =>
          bareRefs(e).find(r => !groupNames.contains(r.inName)).foreach(r =>
            throw CompileException(s"$nm: ${r.outName} must appear in GROUP BY"))
        case _ => ()
      }
      // and HAVING, whose select aliases are already rewritten
      having2.toSeq.flatMap(bareRefs).find(r => !groupNames.contains(r.inName))
        .foreach(r => throw CompileException(
          s"HAVING: ${r.outName} must appear in GROUP BY or be an aggregate"))
      // the same rule governs ORDER BY: post-aggregation only grouping
      // keys and aggregates exist, so a bare non-grouped sort key must
      // refuse HERE — not leak Spark's unresolved-column error at
      // execution (select aliases and ordinals were already resolved
      // to their select items above, so a surviving FieldItem is a
      // genuine field reference)
      orderItems.map(_.item).foreach {
        case FieldItem(n) if !groupNames.contains(ref(n).inName) =>
          throw CompileException(
            s"ORDER BY ${n.text} must appear in GROUP BY or be an aggregate")
        case ExprItem(_, nm) if groupedExprNames.contains(nm) => ()
        case ExprItem(e, _) =>
          bareRefs(e).find(r => !groupNames.contains(r.inName)).foreach(r =>
            throw CompileException(
              s"ORDER BY: ${r.outName} must appear in GROUP BY or be " +
                "an aggregate"))
        case _ => ()
      }
      // aggs needed by SELECT, HAVING and ORDER BY (hidden ones dropped
      // later)
      val selectAggs = spec.select.flatMap(itemAggs)
      val orderAggs = orderItems.map(_.item).flatMap(itemAggs)
      val aggSpecs = (selectAggs ++ having2.toSeq.flatMap(aggs) ++ orderAggs).distinct
      if (aggSpecs.isEmpty)
        throw CompileException("GROUP BY/HAVING query needs at least one aggregate")
      // grouping() is only meaningful over grouping sets, and only over
      // an actual grouping key (Spark would raise a runtime
      // AnalysisException; the dialect refuses at compile time)
      aggSpecs.foreach {
        case Left(("grouping", a)) =>
          if (spec.groupMode == "plain")
            throw CompileException(
              "grouping() requires GROUP BY ROLLUP/CUBE/GROUPING SETS")
          if (!a.map(_.inName).exists(groupNames.contains))
            throw CompileException(
              s"grouping() argument ${a.map(_.outName).getOrElse("*")} " +
                "must be a grouping key")
        case Right(("grouping", _, _, _)) =>
          throw CompileException("grouping() takes a single grouping-key field")
        case _ => ()
      }
      /** Consecutive-point ("segment") aggregates — the counter/gauge
        * math that needs each point's SUCCESSOR, not just the bag of
        * values:
        *  - twa(x): time-weighted average, the dialect face of
        *    [[graft.operators.TimeSeriesOps.timeWeightedAvg]]
        *    (TimescaleDB's time_weighted_average): trapezoid-integrate
        *    the piecewise-linear value curve over each group's span,
        *    twa = Σ (vᵢ+vᵢ₊₁)/2 · (tᵢ₊₁−tᵢ) / (t_max − t_min) — the
        *    right mean for irregular sampling where plain avg()
        *    over-weights dense stretches.
        *  - increase(x): total counter increase, reset-aware (the
        *    Prometheus contract): per consecutive pair the contribution
        *    is vᵢ₊₁−vᵢ when the counter moved forward, else vᵢ₊₁ (a
        *    reset restarts from zero); summed per group. NULL values
        *    break the chain (both segments touching a NULL contribute
        *    nothing).
        *  - resets(x): how many times the counter went backward —
        *    the reset count increase() compensated for.
        * All compile as ONE lead() window pass over the group keys
        * (segment values, added pre-agg) and a hash aggregate on the
        * SAME keys — the exchange is reused, no second shuffle. Over
        * integral inputs the sums are exact (twa has a single double
        * division tail) — cross-engine stable. Need the time axis:
        * single family/ts-propagating source only; ROLLUP/CUBE/
        * GROUPING SETS and sliding-bucket grouping refuse (their row
        * expansion would double-count segments).
        */
      val segFns = Set("twa", "increase", "resets")
      val segSpecs: Seq[(String, String, Column, Option[Long])] =
        aggSpecs.collect {
          case Left((f, a)) if segFns(f) =>
            val sf = a.getOrElse(throw CompileException(
              s"$f(*) is not valid — $f() needs an argument"))
            (f, aggColName(f, a), col(sf.inName), None)
          case Right((f, e, ps, a2)) if segFns(f) =>
            // twa's optional bucket width (arg2, parser-shaped): the
            // hot-key escape routing the segment pre-pass through the
            // bucket-then-stitch decomposition below
            val bucketUs = a2.map(bucketWidth(f, _))
            (f, aggXColName(f, e, ps, a2), row.operand(e), bucketUs)
        }
      if (segSpecs.nonEmpty) {
        val f = segSpecs.head._1
        requireAxis(
          s"$f() is single-source only — joined frames have no " +
            "unambiguous time axis",
          s"$f() walks consecutive points on the time axis — this " +
            "derived table does not output a timestamp column named ts")
        if (spec.groupMode != "plain") throw CompileException(
          s"$f() is not valid with ROLLUP/CUBE/GROUPING SETS")
        if (slidingEntries.nonEmpty) throw CompileException(
          s"$f() is not valid with a sliding bucket key — the window " +
            "expansion would double-count segments")
      }
      /** acf(x, k): lag-k autocorrelation — Pearson correlation of the
        * group's (xᵢ, xᵢ₊ₖ) pairs in time-axis order, the seasonality
        * probe ("does the metric echo itself k steps later?") pairing
        * holt_winters' literal period. Rides the same pre-aggregation
        * window pass as the segment aggregates: ONE lead(k) over the
        * group keys materializes the pair columns (both gated on both
        * sides non-null — ANSI pair semantics), and the aggregate is
        * corr's exact-sums formula over them (integral inputs keep the
        * sums order-independent; the double tail is a fixed IEEE
        * sequence — cross-engine stable, same discipline as
        * [[Parser.corrDesugar]]). Same restrictions as the segment
        * tier: the pair structure is a property of the consecutive
        * time axis.
        */
      val acfSpecs: Seq[(String, Column, Column, Int)] = aggSpecs.collect {
        case Right(("acf", e, ps, a2)) =>
          val c = row.operand(e)
          (aggXColName("acf", e, ps, a2), c, c, ps.head.toInt)
        // xcorr(x, y, k): the cross-series lead-lag probe — identical
        // machinery with y as the led side (acf(x,k) ≡ xcorr(x,x,k))
        case Right(("xcorr", e, ps, a2 @ Some(y))) =>
          (aggXColName("xcorr", e, ps, a2),
            row.operand(e),
            row.operand(y), ps.head.toInt)
        case Left(("acf", _)) => throw CompileException(
          "acf() requires (field, lag) arguments")
        case Left(("xcorr", _)) => throw CompileException(
          "xcorr() requires (x, y, lag) arguments")
      }
      if (acfSpecs.nonEmpty) {
        requireAxis(
          "acf()/xcorr() are single-source only — joined frames have " +
            "no unambiguous time axis",
          "acf()/xcorr() pair points k apart on the time axis — this " +
            "derived table does not output a timestamp column named ts")
        if (spec.groupMode != "plain") throw CompileException(
          "acf()/xcorr() are not valid with ROLLUP/CUBE/GROUPING SETS")
        if (slidingEntries.nonEmpty) throw CompileException(
          "acf()/xcorr() are not valid with a sliding bucket key — the " +
            "window expansion would re-mesh which points sit k apart")
      }
      /** mad(x): median absolute deviation — median(|x − median(x)|),
        * the robust dispersion aggregate (a z-score's stddev is dragged
        * by the very outliers it measures; a median is not). Needs the
        * per-group median BEFORE the group collapses, so it rides the
        * same pre-pass: a window median over the group keys (no order —
        * whole-partition frame) materializes the deviation column, and
        * the aggregate takes its exact interpolated median on the SAME
        * keys — one exchange for window and aggregate. No time axis
        * needed; sliding buckets fine (per-window median is the ask);
        * ROLLUP/CUBE/GROUPING SETS refuse (Expand double-counts).
        */
      val madSpecs: Seq[(String, Column)] = aggSpecs.collect {
        case Left(("mad", a)) =>
          val sf = a.getOrElse(throw CompileException(
            "mad(*) is not valid — mad() needs an argument"))
          (aggColName("mad", a), col(sf.inName))
        case Right(("mad", e, ps, a2)) =>
          (aggXColName("mad", e, ps, a2), row.operand(e))
      }
      if (madSpecs.nonEmpty && spec.groupMode != "plain")
        throw CompileException(
          "mad() is not valid with ROLLUP/CUBE/GROUPING SETS")
      val preAgg = if (segSpecs.isEmpty && madSpecs.isEmpty &&
          acfSpecs.isEmpty) preExpanded
      else {
        import org.apache.spark.sql.expressions.{Window => W}
        // materialize expression keys as NAMED columns first, so the
        // lead-window and the aggregate hash on the same attributes —
        // one exchange for both (groupCols below reads these back)
        val withKeys = groupEntries.foldLeft(preExpanded) {
          case (df, Right(ExprItem(e, nm))) =>
            // a key alias that collides with an existing column would
            // make the aggregate silently group by the RAW column (the
            // old contains-check skipped materialization) — refuse
            if (df.columns.contains(nm)) throw CompileException(
              s"group key alias '$nm' collides with a source " +
                "column of the same name — choose a different alias")
            df.withColumn(nm, row.operand(e))
          case (df, _) => df
        }
        val partNames = groupEntries.map(keyName)
        val partCols = partNames.map(col)
        val w = W.partitionBy(partCols: _*).orderBy(col("__ts_0"))
        val us = unix_micros(col("__ts_0"))
        /** twa's bucket-then-stitch segment pre-pass — the hot-key
          * escape (`twa(x, '<width>')`): the single-pass lead() window
          * partitions by the group keys alone, so one hot key
          * serializes its whole series through one task. The trapezoid
          * segments decompose exactly over any time partition:
          * in-bucket segments come from a (keys, bucket)-partitioned
          * lead() window (parallelism = keys × buckets), and each
          * bucket-LAST row takes its boundary segment (to the NEXT
          * bucket's first point) from a bucket-summary join — same rows
          * out, same `__seg_` column, IDENTICAL segment multiset, so
          * the downstream aggregate (and the single-pass DuckDB oracle)
          * is bit-equal over integral inputs. Null group keys stitch
          * null-safely (they are their own window partition).
          *
          * Assumes DISTINCT timestamps per key (the family ingest
          * contract): under duplicate (key, ts) rows the single-pass
          * lead() breaks the tie in arbitrary row order while the
          * boundary stitch picks min(struct(u, v)) — value-ordered —
          * so the two forms may pick different boundary partners.
          * Both are "a" valid trapezoid chain; only the multiset
          * identity claim above needs the distinctness assumption.
          */
        def twaBucketedSeg(df: DataFrame, nm: String, v: Column,
            bUs: Long): DataFrame = {
          val tbk = s"__tbk_$nm"
          val dfB = df.withColumn(tbk, us - pmod(us, lit(bUs)))
          val wIn = W.partitionBy((partNames :+ tbk).map(col): _*)
            .orderBy(col("__ts_0"))
          val nx = lead(v, 1).over(wIn)
          val nu = lead(us, 1).over(wIn)
          val firstPer = dfB
            .groupBy((partNames :+ tbk).map(col): _*)
            .agg(min(struct(us.as("u"), v.as("v"))).as("__f"))
          val wB = W.partitionBy(partNames.map(col): _*)
            .orderBy(col(tbk).asc)
          val bndTbl = firstPer
            .withColumn("__nf", lead(col("__f"), 1).over(wB))
            .select((partNames :+ tbk).map(c =>
              col(c).as(s"__bs_$c")) :+ col("__nf"): _*)
          val cond = partNames.map(c => col(c) <=> col(s"__bs_$c"))
            .foldLeft(col(tbk) === col(s"__bs_$tbk"))(_ && _)
          dfB.withColumn(s"__seg_$nm", (v + nx) * (nu - us))
            .withColumn(s"__nu_$nm", nu)
            .join(bndTbl, cond, "left")
            .withColumn(s"__seg_$nm",
              when(col(s"__nu_$nm").isNotNull, col(s"__seg_$nm"))
                .otherwise((v + col("__nf").getField("v")) *
                  (col("__nf").getField("u") - us)))
            .drop((partNames :+ tbk).map(c => s"__bs_$c") ++
              Seq(tbk, s"__nu_$nm", "__nf"): _*)
        }
        val withSegs = segSpecs.foldLeft(withKeys) {
          case (df, ("twa", nm, v, Some(bUs))) => twaBucketedSeg(df, nm, v, bUs)
          case (df, (f, nm, v, bUs)) =>
            if (bUs.isDefined) throw CompileException(
              s"$f() does not take a bucket width — the escape applies " +
                "to twa()")
            val nx = lead(v, 1).over(w)
            val seg = f match {
              case "twa" => (v + nx) * (lead(us, 1).over(w) - us)
              case "increase" =>
                when(v.isNull || nx.isNull, lit(null))
                  .otherwise(when(nx >= v, nx - v).otherwise(nx))
              case "resets" =>
                when(v.isNull || nx.isNull, lit(null))
                  .otherwise(when(nx < v, lit(1L)).otherwise(lit(0L)))
            }
            df.withColumn(s"__seg_$nm", seg)
        }
        // acf: gated (xᵢ, xᵢ₊ₖ) pair columns in the ORIGINAL type —
        // sums stay exact over integral inputs, cast after (corr's
        // discipline)
        val withAcf = acfSpecs.foldLeft(withSegs) {
          case (df, (nm, vx, vy, kk)) =>
            val nx = lead(vy, kk).over(w)
            val ok = vx.isNotNull && nx.isNotNull
            df.withColumn(s"__acf_x_$nm", when(ok, vx))
              .withColumn(s"__acf_y_$nm", when(ok, nx))
        }
        // mad: whole-partition (unordered) frame — the group median
        val wAll = W.partitionBy(partCols: _*)
        madSpecs.foldLeft(withAcf) { case (df, (nm, v)) =>
          df.withColumn(s"__mad_dev_$nm",
            abs(v - percentile(v, lit(0.5)).over(wAll)))
        }
      }
      // groupCols follows the pre-pass: when it materializes the
      // expression keys as columns, the aggregate groups on THOSE
      // attributes, so the lead-window's exchange is the aggregate's
      val groupCols = groupEntries.map {
        case Left(sf)               => col(sf.inName)
        case Right(ExprItem(_, nm)) if timeKey.exists(_._1 == nm) =>
          timeKey.get._2._1.as(nm)
        case Right(ExprItem(OFn("bucket", a), nm)) if a.length == 3 => col(nm)
        case Right(ExprItem(e, nm)) =>
          if (segSpecs.nonEmpty || madSpecs.nonEmpty) col(nm)
          else row.operand(e).as(nm)
      }
      val aggCols = aggSpecs.map {
        case Left(("approx_percentile", _)) => throw CompileException(
          "approx_percentile() requires (field, fraction) arguments")
        case Left((f, a)) if segFns(f) =>
          val nm = aggColName(f, a); segColumn(f, nm).as(nm)
        case Right((f, e, ps, a2)) if segFns(f) =>
          val nm = aggXColName(f, e, ps, a2); segColumn(f, nm).as(nm)
        case Right((f @ ("acf" | "xcorr"), e, ps, a2)) =>
          val nm = aggXColName(f, e, ps, a2)
          acfColumn(nm).as(nm)
        case Left(("mad", a)) =>
          val nm = aggColName("mad", a)
          percentile(col(s"__mad_dev_$nm"), lit(0.5)).as(nm)
        case Right(("mad", e, ps, a2)) =>
          val nm = aggXColName("mad", e, ps, a2)
          percentile(col(s"__mad_dev_$nm"), lit(0.5)).as(nm)
        case Left(("approx_percentile_sketch", a)) =>
          val sf = a.getOrElse(throw CompileException(
            "approx_percentile_sketch(*) is not valid — it needs an argument"))
          sampleSketchColumn("approx_percentile_sketch", col(sf.inName))
            .as(aggColName("approx_percentile_sketch", a))
        case Right(("approx_percentile_sketch", e, ps, a2)) =>
          sampleSketchColumn("approx_percentile_sketch",
            row.operand(e))
            .as(aggXColName("approx_percentile_sketch", e, ps, a2))
        case Left((f @ ("first" | "last"), a)) =>
          val sf = a.getOrElse(throw CompileException(
            s"$f(*) is not valid — $f() needs an argument"))
          timeOrderedColumn(f, col(sf.inName)).as(aggColName(f, a))
        case Left((f, a)) => aggColumn(f, a)
        case Right(("approx_percentile", e, ps, a2)) =>
          val p = ps.headOption.getOrElse(throw CompileException(
            "approx_percentile() requires a fraction argument"))
          sampleInterp(sampleSketchColumn("approx_percentile",
            row.operand(e)), p)
            .as(aggXColName("approx_percentile", e, ps, a2))
        case Right((f @ ("first" | "last"), e, ps, a2)) =>
          timeOrderedColumn(f, row.operand(e))
            .as(aggXColName(f, e, ps, a2))
        /* arg_max/arg_min: ONE pass, no join-back — the pair rides a
         * struct ordered by (key, value), so ties on the key break
         * deterministically toward the max (resp. min) value; rows where
         * either argument is NULL drop (the struct is NULL). */
        case Right((f @ ("arg_max" | "arg_min"), e, ps, a2 @ Some(y))) =>
          val vx = row.operand(e)
          val vy = row.operand(y)
          val pair = when(vx.isNotNull && vy.isNotNull,
            struct(vy.as("k"), vx.as("v")))
          val red = if (f == "arg_max") max(pair) else min(pair)
          red.getField("v").as(aggXColName(f, e, ps, a2))
        // string_agg: values rendered as strings, sorted ASC, joined —
        // the value-sort (not input order) is the determinism contract
        case Right(("string_agg", e, ps, a2 @ Some(OLit(BStr(sep))))) =>
          val vx = row.operand(e)
          array_join(array_sort(collect_list(vx.cast("string"))), sep)
            .as(aggXColName("string_agg", e, ps, a2))
        case Right((f, e, ps, a2)) =>
          val c = row.operand(e)
          aggFnColumn(f, c, ps).as(aggXColName(f, e, ps, a2))
      }
      // ROLLUP/CUBE/GROUPING SETS plan through Spark's native Expand
      // (one shuffle, the grouping-set rows generated map-side) — no
      // extra pass per subset
      val grouped = spec.groupMode match {
        case "rollup" => filtered.rollup(groupCols: _*)
        case "cube"   => filtered.cube(groupCols: _*)
        case "sets" =>
          // pre-project expression keys so each grouping column is a
          // stable attribute the set lists can name by column
          val pre = groupEntries.foldLeft(filtered) {
            case (df, Right(ExprItem(e, nm))) =>
              df.withColumn(nm, row.operand(e))
            case (df, _) => df
          }
          def keyCol(n: RawName): Column =
            col(keyName(groupEntries(spec.groupBy.indexOf(n))))
          pre.groupingSets(
            spec.groupSets.map(_.map(keyCol)), spec.groupBy.map(keyCol): _*)
        case _ => preAgg.groupBy(groupCols: _*)
      }
      val agged = timeKey.foldLeft(grouped.agg(aggCols.head, aggCols.tail: _*)) {
        case (df, (nm, (_, start))) => df.withColumn(nm, start(col(nm)))
      }
      val havd = having2.fold(agged)(h => agged.filter(new Q(aggOk = true, winOk = false).predicate(h)))
      // SELECT-item scalar subs attach AFTER the aggregation (one
      // broadcast row onto the grouped output; pre-agg they'd be
      // swallowed by the groupBy) — and after the fill, so filled rows
      // carry the subquery value too
      attachScalarSubs(fill(havd), postScalarSubs)
    }

    /** `FILL(mode)`: densify the bucket axis AFTER the aggregation —
      * the InfluxQL `GROUP BY time(...) fill(...)` / TimescaleDB
      * time_bucket_gapfill idiom. Per dimension group (the non-bucket
      * keys), every bucket between the group's first and last
      * OBSERVED bucket materializes (epoch-aligned integer sequence —
      * the exact complement of the bucket() floor), missing
      * aggregates then fill per mode: null / constant / previous
      * (LOCF) / linear (interpolation on the bucket axis, no
      * extrapolation past the observed ends).
      *
      * Scale shape: everything here runs on the AGGREGATED frame
      * (|groups| × |observed buckets| rows, orders of magnitude below
      * the scan), adding one min/max pass reusing the dimension-key
      * partitioning, a left join on (keys, bucket), and — for
      * previous/linear — per-dimension-key window passes whose
      * partitions are each one group's bucket count. The dense output
      * is the user's explicit ask; a '1 second' fill over a year is
      * 31M rows per group by CONTRACT, not by accident.
      */
    def fill(in: DataFrame): DataFrame = spec.fill match {
      case None => in
      case Some(Ast.FillSpec(mode, fv)) =>
        if (spec.groupMode != "plain") throw CompileException(
          "FILL is not valid with ROLLUP/CUBE/GROUPING SETS — " +
            "super-aggregate rows have no dense bucket axis")
        if (spec.having.isDefined) throw CompileException(
          "FILL with HAVING is not supported — filtering after " +
            "densifying would re-open the gaps the fill just closed")
        val bucketEntries = groupEntries.zipWithIndex.collect {
          case (Right(ExprItem(OFn("bucket", bargs), nm)), i) => (nm, bargs, i)
        }
        if (bucketEntries.length != 1) throw CompileException(
          "FILL needs exactly one bucket(ts, '<width>') grouping key, " +
            "selected bare under an alias (no CAST wrapper) and " +
            "grouped by that alias — it is the axis being densified")
        val (dName, bargs, dIdx) = bucketEntries.head
        // the spine step mirrors bucket()'s two width families:
        // fixed widths densify by an epoch-micros integer sequence,
        // calendar widths ('1 week|month|quarter|year', the
        // date_trunc buckets) by a calendar-interval sequence from
        // the observed (already truncation-aligned) min — month
        // lengths vary, and the linear mode interpolates on actual
        // micros, so irregular steps are handled by construction
        val step: Either[String, Long] = bargs(1) match {
          case OLit(BStr(w)) => calendarUnit(w).toLeft(
            parseIntervalMicros(w).getOrElse(throw CompileException(
              s"FILL requires a bucket with a densifiable step — " +
                s"'$w' is neither a fixed width nor a calendar unit")))
          case _ => throw CompileException(
            "bucket() width must be a string literal like '5 minutes'")
        }
        val partKeys = groupEntries.zipWithIndex.collect {
          case (g, i) if i != dIdx => keyName(g)
        }
        val keyCols = partKeys :+ dName
        val valCols = in.columns.filterNot(keyCols.contains).toSeq
        import org.apache.spark.sql.expressions.{Window => W}
        val spineTs: Column = step match {
          case Right(widthUs) => transform(sequence(
            unix_micros(col("__lo")), unix_micros(col("__hi")),
            lit(widthUs)), us => timestamp_micros(us))
          // quarter is not a Spark interval unit — 3 months is
          case Left("quarter") =>
            expr("sequence(__lo, __hi, interval 3 month)")
          case Left(unit) =>
            expr(s"sequence(__lo, __hi, interval 1 $unit)")
        }
        val spine = in.groupBy(partKeys.map(col): _*)
          .agg(min(col(dName)).as("__lo"), max(col(dName)).as("__hi"))
          .select(partKeys.map(col) :+ explode(spineTs).as("__t0"): _*)
          .select(partKeys.map(c => col(c).as(s"__sp_$c")) :+
            col("__t0").as(s"__sp_$dName"): _*)
        // Dimension keys join NULL-SAFELY (<=>): a tag/attribute
        // dimension group whose key IS null must still match its own
        // spine rows (groupBy made it a group; a plain equi-join would
        // drop every observed row of that group and report the whole
        // group as gaps). The bucket axis joins by plain equality —
        // spine buckets are never null. Spine-only rows are the GAP
        // rows; `__gap` tags them so fill modes touch ONLY materialized
        // gaps, never an observed bucket whose aggregate is genuinely
        // null (e.g. sum over an all-null bucket) — the
        // InfluxQL/TimescaleDB gap-fill contract.
        val cond = partKeys.map(k => col(s"__sp_$k") <=> col(k))
          .foldLeft(col(s"__sp_$dName") === col(dName))(_ && _)
        val joined = spine
          .join(in.withColumn("__gap", lit(false)), cond, "left")
          .select(keyCols.map(c => col(s"__sp_$c").as(c)) ++
            valCols.map(col) :+
            coalesce(col("__gap"), lit(true)).as("__gap"): _*)
        val gap = col("__gap")
        def perCol(f: Column => Column): DataFrame =
          valCols.foldLeft(joined)((df, c) => df.withColumn(c, f(col(c))))
        val filled = mode match {
          case "null"  => joined
          case "value" => perCol(c => when(gap, lit(fv.get)).otherwise(c))
          case "previous" =>
            // carry the last OBSERVED row's value into gap rows — even
            // when that value is itself null (struct-wrapping makes an
            // observed null a non-null carrier, so it is not skipped
            // back over); observed rows pass through untouched
            val w = W.partitionBy(partKeys.map(col): _*)
              .orderBy(col(dName))
              .rowsBetween(W.unboundedPreceding, W.currentRow)
            perCol(c => when(!gap, c).otherwise(
              last(when(!gap, struct(c.as("v"))), ignoreNulls = true)
                .over(w)("v")))
          case "linear" =>
            // the interp() formula on the bucket axis: four bounded-
            // frame lookups + one fixed IEEE expression per gap row;
            // anchors are observed non-null points only
            val tsUs = unix_micros(col(dName)).cast("double")
            val w0 = W.partitionBy(partKeys.map(col): _*)
              .orderBy(col(dName))
            val runF = w0.rowsBetween(W.unboundedPreceding, W.currentRow)
            val futF = w0.rowsBetween(W.currentRow, W.unboundedFollowing)
            perCol { c =>
              val anchor = when(!gap && c.isNotNull, c.cast("double"))
              val anchorT = when(!gap && c.isNotNull, tsUs)
              val pv = last(anchor, ignoreNulls = true).over(runF)
              val pt = last(anchorT, ignoreNulls = true).over(runF)
              val nv = first(anchor, ignoreNulls = true).over(futF)
              val nt = first(anchorT, ignoreNulls = true).over(futF)
              when(!gap, c.cast("double"))
                .otherwise(pv + (nv - pv) * (tsUs - pt) / (nt - pt))
            }
        }
        filled.drop("__gap")
    }

    /** The window path of phase 3 (no aggregate): the escaped and
      * auto-stitched smoothing items as frame transforms, then QUALIFY.
      *
      * Two per-key window shapes get join-back compilations here, so a
      * hot key stops serializing one task (the skew artifact's failure
      * mode), both reading back through outputCol as `__esc_<alias>`:
      *  - zscore(x) [OVER (PARTITION BY k)] AUTO-stitches: the
      *    whole-partition S/Q/n sums come from a groupBy (map-side
      *    partial aggregation — parallel however hot the key) and
      *    join back null-safely. For INTEGRAL inputs the sums are the
      *    SAME exact order-independent longs and the double tail the
      *    same fixed IEEE sequence, so the rewrite is BIT-EQUAL to the
      *    window form (the boost_ts_zscore oracle pins it end to end
      *    on a CAST-AS-int column); for double inputs the partial-
      *    aggregation merge order can differ from the window's single-
      *    pass order in the last ulp — same contract as
      *    varianceColumn. Engages for top-level select items without
      *    QUALIFY; anything else keeps the window form.
      *  - ewma(x, alpha, '<width>') is the OPT-IN bucket-stitched
      *    escape ([[graft.operators.TimeSeriesOps.ewmaStitched]]):
      *    per-(key, bucket) kernel + affine bucket chaining — ~1e-9
      *    reassociation, so it is a new spelling, never a silent
      *    rewrite of ewma(x, alpha).
      * FIT+FORECAST faces of the same holt/holt_winters escape (same
      * argument, PARTITION BY keys, and smoothing parameters) share
      * ONE stitch pipeline: its stages 0–2 are face-independent and only
      * the per-row finish differs, so the paired-face query shape
      * (boost_ts_holt_escape / boost_ts_hw_escape) runs the kernel
      * once instead of once per select item. Grouping preserves
      * first-occurrence order; non-pairable items group alone.
      */
    def windows(filtered: DataFrame): DataFrame = {
      val escGrouped: Seq[Seq[Stitched]] = {
        val buf = scala.collection.mutable.LinkedHashMap[Any,
          scala.collection.mutable.ArrayBuffer[Stitched]]()
        escapable.foreach { it =>
          val key: Any = it.esc match {
            case Some(e) if e.fn.startsWith("holt") =>
              (e.copy(fn = e.fn.stripSuffix("_forecast")), it.arg, it.part)
            case _ => ("solo", it.name)
          }
          buf.getOrElseUpdate(key,
            scala.collection.mutable.ArrayBuffer.empty) += it
        }
        buf.values.map(_.toSeq).toSeq
      }
      val stitched = escGrouped.foldLeft(filtered) {
        case (df, group @ (Stitched(nm, arg, part, escOpt) +: _)) =>
          val c = row.operand(arg)
          val keyNames = part.map(p => ref(p).inName)
          val in = s"__esc_in_$nm"
          // each face of a fit+forecast group: its output column, and
          // whether it is the forecast
          def faces(forecast: String): Seq[(String, Boolean)] =
            group.map(s => (s"__esc_${s.name}", s.esc.exists(_.fn == forecast)))
          escOpt match {
            case Some(Escape("ewma", alpha, _, _, _, widthUs)) =>
              graft.operators.TimeSeriesOps.ewmaStitched(
                df.withColumn(in, c), keyNames, "__ts_0", in,
                Seq.empty, alpha, widthUs, out = s"__esc_$nm").drop(in)
            case Some(Escape(fn, alpha, beta, _, _, widthUs))
                if fn == "holt" || fn == "holt_forecast" =>
              graft.operators.TimeSeriesOps.holtStitchedMulti(
                df.withColumn(in, c), keyNames, "__ts_0", in,
                Seq.empty, alpha, beta, widthUs, faces("holt_forecast")).drop(in)
            case Some(Escape(_, alpha, beta, gamma, period, widthUs)) =>
              // holt_winters | holt_winters_forecast: the (2+p)-state
              // bucket-then-stitch (TimeSeriesOps.holtWintersStitched)
              graft.operators.TimeSeriesOps.holtWintersStitchedMulti(
                df.withColumn(in, c), keyNames, "__ts_0", in,
                Seq.empty, alpha, beta, gamma, period, widthUs,
                faces("holt_winters_forecast")).drop(in)
            case None =>
              // zscore: exact S/Q/n sums per key via groupBy (the
              // original column type keeps integral sums exact), then
              // one join back. The stats side is O(#distinct keys) and
              // carries NO broadcast() hint: the planner broadcasts it
              // when its runtime size clears autoBroadcastJoinThreshold
              // (the common case — it is an aggregate), and a
              // near-unique partition key falls back to a shuffle join
              // with AQE skew splitting instead of OOMing the driver on
              // a forced broadcast. The keyless form stays an explicit
              // broadcast — one row by construction.
              val stats = df.groupBy(keyNames.map(col): _*)
                .agg(count(c).cast("double").as(s"__zn_$nm"),
                  sum(c).cast("double").as(s"__zs_$nm"),
                  sum(c * c).cast("double").as(s"__zq_$nm"))
              val statsR = keyNames.foldLeft(stats)((d, k) =>
                d.withColumnRenamed(k, s"__zk_${nm}_$k"))
              val joined =
                if (keyNames.isEmpty) df.crossJoin(broadcast(statsR))
                else df.join(statsR,
                  keyNames.map(k => col(k) <=> col(s"__zk_${nm}_$k"))
                    .reduce(_ && _), "left")
              val n = col(s"__zn_$nm"); val s = col(s"__zs_$nm")
              val q = col(s"__zq_$nm")
              val sd = sqrt(when(n > lit(1.0),
                (q - s * s / n) / (n - lit(1.0))))
              joined.withColumn(s"__esc_$nm",
                  when(sd > lit(0.0), (c.cast("double") - s / n) / sd))
                .drop(keyNames.map(k => s"__zk_${nm}_$k") ++
                  Seq(s"__zn_$nm", s"__zs_$nm", s"__zq_$nm"): _*)
          }
      }
      // --- QUALIFY: filter AFTER windows compute ----------------------
      // Spark's analyzer rejects window expressions inside Filter, so
      // the predicate materializes as a projected boolean first
      // (Window → Project → Filter) and the helper column drops —
      // top-k-per-group without a derived table. Every WINDOWED select
      // item materializes in the same pre-filter projection: displayed
      // window values must come from the UNFILTERED partitions
      // (`… AS rk … QUALIFY rk = 2` shows rk = 2, not a post-filter
      // re-rank — the DuckDB/Snowflake contract), and outputCol/orderCol
      // read these columns back instead of recomputing. Grouped queries
      // are already window-free (the win+agg refusal above), so QUALIFY
      // there has nothing to filter on and refuses explicitly.
      qualify2.fold(stitched) { q =>
        // materialized under reserved __q_ names, NOT the select
        // aliases: an alias that collides with a source column (a
        // series named like the alias) would otherwise be clobbered
        // mid-fold and later window expressions would read the window
        // value instead of the series
        val win = new Q(aggOk = false, winOk = true)
        val withWins = spec.select.foldLeft(stitched) {
          case (df, ExprItem(e, nm)) if hasWinOp(e) =>
            df.withColumn(s"__q_$nm", win.operand(e))
          case (df, _) => df
        }
        withWins.withColumn("__qualify", win.predicate(q))
          .filter(col("__qualify")).drop("__qualify")
      }
    }

    // ==== phases 4 and 5: project, order/page ============================

    // SELECT items and ORDER BY keys: aggregates where the query
    // groups, and windows
    lazy val item = new Q(aggOk = hasAgg, winOk = true)
    def itemColName(i: SelectItem): String = i match {
      case FieldItem(n)    => ref(n).inName
      case AggItem(f, a)   => aggColName(f, a.map(ref))
      case ExprItem(_, nm) => nm
    }
    def itemOutName(i: SelectItem): String = i match {
      case FieldItem(n)    => ref(n).outName
      case AggItem(f, a)   => aggColName(f, a.map(ref))
      case ExprItem(_, nm) => nm
    }
    def outputCol(i: SelectItem): Column = i match {
      case FieldItem(n)    => val r = ref(n); col(r.inName).as(r.outName)
      case a: AggItem      => col(itemColName(a))
      // a grouped-by expression already exists as the grouping column —
      // read it back (its base columns are gone post-aggregation)
      case ExprItem(_, nm) if hasAgg && groupedExprNames.contains(nm) => col(nm)
      // under QUALIFY, windowed items were materialized PRE-filter —
      // recomputing here would re-rank the filtered partitions
      case ExprItem(e, nm) if qualify2.isDefined && hasWinOp(e) =>
        col(s"__q_$nm").as(nm)
      // escaped/auto-stitched smoothing items were materialized as
      // frame transforms — read the computed column back
      case ExprItem(_, nm) if escapedNames(nm) => col(s"__esc_$nm").as(nm)
      case ExprItem(e, nm) => item.operand(e).as(nm)
    }
    // a computed ORDER BY key sorts on its compiled expression (an
    // arbitrary-expression sort, beyond select-shaped keys)
    // (an ORDER BY window under QUALIFY never reaches here: it makes
    // hasWin true, and that path sorts on selected OUTPUT columns —
    // the already-materialized pre-filter values)
    def orderCol(i: SelectItem): Column = i match {
      case ExprItem(_, nm) if hasAgg && groupedExprNames.contains(nm) => col(nm)
      case ExprItem(_, nm) if escapedNames(nm) => col(s"__esc_$nm")
      case ExprItem(e, _) => item.operand(e)
      case other          => col(itemColName(other))
    }
    /** An ORDER BY key over the projected output, where every key must
      * name a selected output column (a computed key must match a
      * selected expression). */
    def outputOrderCol(i: SelectItem): Column = {
      val clause = if (spec.distinct) "under DISTINCT" else "with window functions"
      i match {
        case ExprItem(e, _) =>
          spec.select.collectFirst {
            case ExprItem(e2, nm) if e2 == e => col(nm)
          }.getOrElse(throw CompileException(
            s"ORDER BY $clause must be a selected item"))
        case other =>
          val nm = itemOutName(other)
          if (!spec.select.map(itemOutName).contains(nm))
            throw CompileException(
              s"ORDER BY $clause must be a selected item ($nm is not)")
          col(nm)
      }
    }

    /** Whether ORDER BY sorts the projected output, not the frame.
      * DISTINCT dedups the projected rows, THEN orders and pages. Window
      * functions compute BEFORE the final ORDER BY: left to the
      * post-sort projection, their own partition exchange would destroy
      * the requested row order. Either way ORDER BY may only name
      * selected output columns; any other query sorts its frame (an
      * arbitrary-expression sort) and projects last. */
    def sortsOutput: Boolean = spec.distinct || hasWin

    /** Phase 4: the final projection, deduplicated under DISTINCT. */
    def project(frame: DataFrame): DataFrame = {
      val out = frame.select(spec.select.map(outputCol): _*)
      if (!spec.distinct) out
      // DISTINCT ON (keys): one row per key combination — the FIRST per
      // the query ORDER BY (Postgres/DuckDB; the latest-per-series
      // workhorse). Compiles to a row_number window on the keys ordered
      // by the (resolved, selected-column) ORDER BY, filtered to 1 —
      // one exchange on the keys; the outer sort then reorders the
      // survivors. Plain DISTINCT stays dropDuplicates over all columns.
      else if (spec.distinctOn.isEmpty) out.distinct()
      else {
        if (orderItems.isEmpty) throw CompileException(
          "DISTINCT ON requires an ORDER BY to pick each key's row " +
            "deterministically")
        val selectedNames = spec.select.map(itemOutName).toSet
        val keyCols = spec.distinctOn.map { n =>
          val nm = n.parts match {
            case Seq(one) if selectedNames.contains(one) => one
            case _ =>
              val r = ref(n)
              if (!selectedNames.contains(r.outName))
                throw CompileException(
                  s"DISTINCT ON key ${n.text} must be a selected " +
                    "output column")
              r.outName
          }
          col(nm)
        }
        import org.apache.spark.sql.expressions.{Window => W}
        val w = W.partitionBy(keyCols: _*).orderBy(
          orderItems.map(o => sortKey(outputOrderCol(o.item), o)): _*)
        out.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    }

    /** Phase 5: ORDER BY, then OFFSET (it skips before LIMIT counts, the
      * ANSI paging order), then LIMIT. */
    def orderPage(frame: DataFrame): DataFrame = {
      val key: SelectItem => Column = if (sortsOutput) outputOrderCol else orderCol
      val ordered =
        if (orderItems.isEmpty) frame
        else frame.orderBy(orderItems.map(o => sortKey(key(o.item), o)): _*)
      val paged = spec.offset.fold(ordered)(ordered.offset)
      spec.limit.fold(paged)(paged.limit)
    }
  }

  /** Compile a statement: a single SELECT or a set-operation compound.
    * Set operations are positional (ANSI): branch outputs align by
    * position, the compound takes the left branch's column names, and
    * UNION/INTERSECT/EXCEPT dedup while UNION ALL keeps duplicates —
    * Spark's union/intersect/except carry exactly these semantics, and
    * partial aggregation makes the dedup a map-side combine.
    */
  def compile(st: QueryStmt, families: ((String, String)) => DataFrame): DataFrame =
    st match {
      case q: QuerySpec => compile(q, families)
      case SetOpSpec(op, l, r, ord, lim, off) =>
        val lf = compile(l, families)
        val rf = compile(r, families)
        if (lf.columns.length != rf.columns.length)
          throw CompileException(
            s"set operation branches have ${lf.columns.length} vs " +
              s"${rf.columns.length} columns")
        val combined = op match {
          case "union_all"     => lf.union(rf)
          case "union"         => lf.union(rf).distinct()
          case "intersect"     => lf.intersect(rf)
          case "except"        => lf.except(rf)
          // bag semantics (ANSI ALL): multiplicities min() / subtract —
          // Spark's native replicated-row joins, still one shuffle
          case "intersect_all" => lf.intersectAll(rf)
          case "except_all"    => lf.exceptAll(rf)
        }
        // compound ORDER BY keys resolve against the OUTPUT schema only
        // (branch-internal names are gone): an output column name — with
        // the `a.b` → `a_b` sugar — or a select ordinal
        val cols = combined.columns.toSeq
        def key(i: SelectItem): Column = i match {
          case ExprItem(OLit(BInt(p)), _) =>
            if (p < 1 || p > cols.length)
              throw CompileException(
                s"ORDER BY position $p is out of range 1..${cols.length}")
            col(cols(p.toInt - 1))
          case FieldItem(n) =>
            val nm = n.parts.mkString("_")
            if (!cols.contains(nm))
              throw CompileException(
                s"ORDER BY $nm is not an output column of the compound")
            col(nm)
          case _ => throw CompileException(
            "compound ORDER BY must name an output column or ordinal")
        }
        val ordered =
          if (ord.isEmpty) combined
          else combined.orderBy(ord.map { o =>
            sortKey(key(o.item), o)
          }: _*)
        val paged = off.fold(ordered)(ordered.offset)
        lim.fold(paged)(paged.limit)
    }

  /** Single-family convenience (the pre-JOIN surface). */
  def compile(spec: QuerySpec, family: DataFrame): DataFrame =
    compile(spec, (_: (String, String)) => family)

  /** Single-family convenience for statements (incl. compounds). */
  def compile(st: QueryStmt, family: DataFrame): DataFrame =
    compile(st, (_: (String, String)) => family)
}
