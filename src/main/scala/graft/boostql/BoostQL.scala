package graft.boostql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions.{coalesce, col, element_at, lit}

import scala.reflect.ClassTag

import graft.sources.TimeSeriesTable
import graft.tables.Tables

/** Public entry point for the BoostQL dialect: SQL string → DataFrame.
  *
  * The reference's full query lifecycle (SURVEY.md §3: parse → plan DAG →
  * pull-based executor) collapses to parse → compile → Catalyst here.
  * `families` plays the role of the m3 namespace lookup
  * (query/executor/executor.go:394-423): it maps `domain.family` to the
  * series-family DataFrame.
  */
object BoostQL {

  /** Parse `stmt` as the statement kind its entrypoint runs; any other
    * kind refuses with the form of the statement `verb` leads. */
  private def parseAs[S <: Ast.Statement: ClassTag](stmt: String,
      verb: String, checkMerge: Seq[Ast.MergeClause] => Unit = _ => ()): S =
    Parser.parseStatement(stmt, checkMerge) match {
      case s: S => s
      case _ => throw Compiler.CompileException(Parser.usage(verb))
    }

  def sqlShowPartitions(stmt: String, spark: SparkSession,
      root: String): DataFrame = {
    val t = parseAs[Ast.ShowPartitions](stmt, "show").target
    TimeSeriesTable.partitions(spark, root, t.domain, t.family)
  }

  /** Warehouse-aware `DESCRIBE domain.family` — the same six-column
    * series catalog as the frame-based route in [[sql]], but served
    * through [[TimeSeriesTable.describeCached]]'s signed per-partition
    * sidecar: a repeat DESCRIBE re-aggregates only partitions whose
    * file set moved (the SHOW PARTITIONS manifest discipline), so a
    * daily-ingest family answers from one partition's scan. Takes the
    * warehouse root like the mutate verbs; the frame route stays for
    * ad-hoc frames, and the two agree exactly (the merge is exact —
    * counts sum, extents min/max, key sets union).
    */
  def sqlDescribe(stmt: String, spark: SparkSession,
      root: String): DataFrame = {
    val t = parseAs[Ast.Describe](stmt, "describe").target
    TimeSeriesTable.describeCached(spark, root, t.domain, t.family)
  }

  /** User identity for FUNNEL/RETENTION: the named per-point attribute,
    * tag fallback — the same resolution as `series.k` field access. */
  private def userKey(attr: String): Column = {
    import org.apache.spark.sql.functions._
    coalesce(element_at(col("attributes"), attr),
      element_at(col("tags"), attr))
  }

  private def funnelStmt(f: Ast.Funnel, fam: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    if (f.steps.distinct.size != f.steps.size)
      throw Compiler.CompileException("FUNNEL steps must be distinct")
    val withinUs = f.within.map(iv =>
      Compiler.parseIntervalMicros(iv).getOrElse(
        throw Compiler.CompileException(
          s"malformed FUNNEL WITHIN interval '$iv' — expected '<n> " +
            "<microsecond|millisecond|second|minute|hour|day>[s]'")))
    val df = fam.select(col("series"), userKey(f.by).as("__u"), col("ts"))
      .filter(col("__u").isNotNull)
    graft.operators.TimeSeriesOps.funnel(
      df, "__u", "series", "ts", f.steps, withinUs)
  }

  private def retentionStmt(r: Ast.Retention, fam: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = fam.select(userKey(r.by).as("__u"), col("ts"))
      .filter(col("__u").isNotNull)
    graft.operators.TimeSeriesOps.retentionCohorts(
      df, "__u", "ts", r.maxDays.getOrElse(30))
  }

  private def outliersStmt(o: Ast.Outliers, fam: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val kk = o.k.getOrElse(3.0)
    if (kk <= 0.0) throw Compiler.CompileException(
      "OUTLIERS K must be positive")
    val rows = fam.filter(col("series") === o.series)
      .select(col("series"), unix_micros(col("ts")).as("ts_us"), col("value"))
    graft.operators.TimeSeriesOps
      .madOutliersAgg(rows, Seq("series"), "value", kk)
      .select(col("ts_us"), col("value"), col("dev"), col("mad"))
  }

  /** SQL over an ENUMERABLE family registry: everything the resolver
    * overload runs, plus `SHOW FAMILIES [IN domain]` over the map's
    * keys. */
  def sql(query: String,
      families: Map[(String, String), DataFrame]): DataFrame =
    parseRead(query) match {
      case Ast.ShowFamilies(dom) =>
        val spark = families.headOption.map(_._2.sparkSession).getOrElse(
          throw Compiler.CompileException(
            "SHOW FAMILIES: the registry is empty"))
        import spark.implicits._
        families.keys.toSeq
          .filter(k => dom.forall(_.equalsIgnoreCase(k._1)))
          .sorted.toDF("domain", "family")
      case st => run(st, families.apply _)
    }

  private def describe(fam: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // ONE aggregation pass over the scan: key inventories via
    // collect_set of each row's key ARRAY (state is bounded by the
    // distinct key-SHAPES per series — typically a handful — never by
    // rows; collect_list of per-row arrays would be O(rows) state),
    // then flatten → distinct → sort post-aggregation. A null map
    // yields a null key array, which collect_set skips — same "" as
    // the old explode + left-join form.
    def keysOf(mapCol: String, out: String) =
      array_join(array_sort(array_distinct(flatten(
        collect_set(map_keys(col(mapCol)))))), ",").as(out)
    fam.groupBy("series").agg(
        count(lit(1)).as("n_points"),
        unix_micros(min(col("ts"))).as("first_us"),
        unix_micros(max(col("ts"))).as("last_us"),
        keysOf("attributes", "attr_keys"),
        keysOf("tags", "tag_keys"))
      .orderBy("series")
  }

  /** `INSERT INTO domain.family <select>` — the write half of the
    * north star ("ingest/query via Spark"): the dialect's SQL ingest
    * face, compiling to [[TimeSeriesTable.append]] (date-partitioned
    * parquet, rows sorted by (series, ts) within partitions — the
    * 100 TB layout). The reference is read-only at its SQL layer
    * (boostsession.go:94-184 writes through the API only), so this is
    * extension surface.
    *
    * Shape contract — the select's OUTPUT maps onto the family's
    * long-format rows by UNPIVOT: it must carry the time axis as a
    * timestamp column named `ts`, every NUMERIC column becomes one
    * series (named by the column, so alias the items) with the
    * column's value as the datapoint value, and every STRING column is
    * a DIMENSION — it lands as a per-point attribute named by the
    * column on each series row (the grouped-rollup shape: `SELECT
    * bucket(ts, '1 day') AS ts, click.user AS u, count(*) AS n …
    * GROUP BY ts, u` materializes per-user rollups queryable as
    * `n.u`). NULL cells are the absence of a datapoint and are not
    * written. Columns that collide with the family layout (`series`,
    * `value`, `tags`, `attributes`, `dt`), non-numeric non-string
    * columns, duplicate names, a series-less select and a ts-less
    * select all refuse at compile time.
    */
  def sqlInsert(stmt: String, families: ((String, String)) => DataFrame,
      root: String): Unit = {
    val Ast.Insert(t, q) = parseAs[Ast.Insert](stmt, "insert")
    TimeSeriesTable.append(insertLong(Compiler.compile(q, families)), root,
      t.domain, t.family)
  }

  /** `UPSERT INTO domain.family <select>` — idempotent SQL ingest, the
    * merge sibling of [[sqlInsert]]: the select maps onto long rows by
    * the same UNPIVOT contract ([[insertLong]]), but rows REPLACE any
    * existing datapoint with the same (series, ts) key instead of
    * duplicating it, compiling to [[TimeSeriesTable.upsertRows]]
    * (copy-on-write rewrite of only the partitions holding colliding
    * keys; everything else is an additive append). This is the
    * re-delivery/correction verb: `INSERT` run twice doubles a day,
    * `UPSERT` run twice is the same day. Returns (existing rows
    * replaced, incoming rows written).
    */
  def sqlUpsert(stmt: String, families: ((String, String)) => DataFrame,
      root: String): (Long, Long) = {
    val Ast.Upsert(t, q) = parseAs[Ast.Upsert](stmt, "upsert")
    val df = Compiler.compile(q, families)
    val (replaced, written, _) = TimeSeriesTable.upsertRows(
      df.sparkSession, root, t.domain, t.family, insertLong(df))
    (replaced, written)
  }

  /** `CREATE [OR REPLACE] FAMILY domain.family AS <select>` — CTAS, the
    * DDL face of the derived-family workflow [[sqlInsert]] serves
    * imperatively: one statement materializes a query as a NEW family
    * in the warehouse (select output → long rows by the same UNPIVOT
    * contract, date-partitioned [[TimeSeriesTable.append]] layout).
    * Plain CREATE refuses when the family already exists (ANSI; an
    * accidental re-run must not double a corpus — that is INSERT's
    * contract, chosen explicitly); OR REPLACE stages the new rows
    * FIRST, then swaps through the whole-directory commit protocol
    * ([[TimeSeriesTable.replaceFamily]]) — a failed select never
    * destroys the previous family. Returns the number of datapoints
    * written.
    */
  def sqlCreateFamily(stmt: String,
      families: ((String, String)) => DataFrame, root: String): Long = {
    val Ast.CreateFamily(Ast.FamilyRef(dom, fam), orReplace, q) =
      parseAs[Ast.CreateFamily](stmt, "create")
    val df = Compiler.compile(q, families)
    val spark = df.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$root/$dom/$fam")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(dir)
    if (exists && !orReplace) throw Compiler.CompileException(
      s"family $dom.$fam already exists — CREATE OR REPLACE FAMILY " +
        "swaps it atomically, INSERT INTO appends to it")
    val rows = insertLong(df)
    if (exists) TimeSeriesTable.replaceFamily(rows, root, dom, fam)
    else TimeSeriesTable.append(rows, root, dom, fam)
    // count from the LIVE path: the dot-prefixed staging dir is
    // invisible to Spark's hidden-path filter
    TimeSeriesTable.open(spark, root, dom, fam).count()
  }

  /** `DROP FAMILY [IF EXISTS] domain.family` — the operational drop the
    * row-level verbs refuse by design (a whole-family DELETE is not a
    * query). Removes the family directory recursively. Plain DROP of a
    * missing family refuses (a typo should not silently succeed);
    * IF EXISTS makes it idempotent. Returns true when a family was
    * dropped.
    */
  def sqlDropFamily(stmt: String, spark: SparkSession,
      root: String): Boolean = {
    val Ast.DropFamily(Ast.FamilyRef(dom, fam), ifExists) =
      parseAs[Ast.DropFamily](stmt, "drop")
    val dir = new org.apache.hadoop.fs.Path(s"$root/$dom/$fam")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      if (!ifExists) throw Compiler.CompileException(
        s"family $dom.$fam does not exist — DROP FAMILY IF EXISTS " +
          "is the idempotent form")
      false
    } else {
      if (!fs.delete(dir, true)) throw new java.io.IOException(
        s"DROP FAMILY: could not delete $dir")
      true
    }
  }

  /** `MERGE INTO domain.family USING (<select>) WHEN …` — ANSI MERGE,
    * the general mutate verb the tier's other verbs are special cases
    * of (UPSERT ≡ unconditional matched-UPDATE + not-matched-INSERT).
    * The USING select maps onto long rows by the same UNPIVOT contract
    * as INSERT/UPSERT ([[insertLong]]) and matches existing rows on
    * the family key (series, ts); the WHEN clauses then decide each
    * row's fate:
    *
    *   - `WHEN MATCHED [AND <cond>] THEN UPDATE` — replace the
    *     existing row with the source row
    *   - `WHEN MATCHED [AND <cond>] THEN DELETE` — drop it
    *   - `WHEN NOT MATCHED THEN INSERT` — write unmatched source rows
    *   - `WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE` — the
    *     MIRROR-SYNC clause: drop target rows whose key is absent from
    *     the batch (conditions see target columns only; `src.` refuses
    *     — there is no source row by definition).
    *   - `WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET
    *     <target> = <expr>[, …]` — the ANSI "flag stale rows instead
    *     of purging them" half: absent-key rows take the SET
    *     assignments ([[sqlUpdate]]'s target grammar — a series' value
    *     or a `series.attribute`; a NULL rhs removes the key), with
    *     both conditions AND set expressions over TARGET columns only
    *     (`src.` refuses in either position). Scale note:
    *     the by-source clauses invert locality — absent keys can sit
    *     on ANY date, so the classification reads the WHOLE family
    *     (inherent to mirror-sync); keep-only dates still stay
    *     byte-identical, and a by-source UPDATE touching only series S
    *     rewrites only dates holding an absent-key S row. A USING
    *     select with NO rows leaves every target row not matched by
    *     source (ANSI), so these clauses then apply to the whole family
    *     as a DELETE or UPDATE with the same condition would; without
    *     them an empty source writes nothing.
    *
    * Matched clauses apply FIRST-TRUE-WINS in statement order (ANSI);
    * a row matching no clause is kept unchanged. Conditions ride the
    * mutate verbs' row-level grammar (series-scoped terms, ts/series,
    * scalar builtins, CASE) extended with the reserved `src` prefix
    * for the incoming side — `src.value` is the source datapoint,
    * `src.<k>` a source attribute — so `WHEN MATCHED AND p < src.value
    * THEN UPDATE` is the only-newer-wins shape and `WHEN MATCHED AND
    * src.status = 'tombstone' THEN DELETE` a fed takedown. Compiles to
    * [[TimeSeriesTable.mergeRows]]: copy-on-write rewrite of only the
    * dates holding a non-keep outcome, footer-verified, two-rename
    * swap; insert-only dates stay on the additive append. Returns
    * (rows updated, rows deleted, rows inserted).
    */
  def sqlMerge(stmt: String, families: ((String, String)) => DataFrame,
      root: String): (Long, Long, Long) = {
    var insertClauses = 0
    var sawUnconditional = false
    var sawUnconditionalBs = false
    val matchedB = Seq.newBuilder[(Option[Column], String)]
    val bySourceB = Seq.newBuilder[TimeSeriesTable.BySourceClause]
    // the clauses are checked before the USING query is parsed
    val Ast.Merge(t, using, _) = parseAs[Ast.Merge](stmt, "merge", _.foreach {
      case Ast.WhenMatched(cond, action) =>
        if (sawUnconditional) throw Compiler.CompileException(
          "a WHEN MATCHED clause after an unconditional one is " +
            "unreachable — first true clause wins; reorder or add AND")
        if (cond.isEmpty) sawUnconditional = true
        matchedB += ((cond.map(new LongRow("MERGE", SrcAllowed).predicate),
          action))
      case Ast.WhenNotMatched =>
        insertClauses += 1
        if (insertClauses > 1) throw Compiler.CompileException(
          "MERGE allows one WHEN NOT MATCHED THEN INSERT clause")
      case Ast.WhenNotMatchedBySource(cond, set) =>
        if (sawUnconditionalBs) throw Compiler.CompileException(
          "a WHEN NOT MATCHED BY SOURCE clause after an unconditional " +
            "one is unreachable — first true clause wins; reorder or " +
            "add AND")
        if (cond.isEmpty) sawUnconditionalBs = true
        bySourceB += TimeSeriesTable.BySourceClause(
          cond.map(new LongRow("MERGE", SrcForbidden).predicate),
          if (set.isEmpty) "delete" else "update",
          assignments(set, "MERGE by-source SET", SrcForbidden))
    })
    val df = Compiler.compile(using, families)
    val (upd, del, ins, _) = TimeSeriesTable.mergeRows(
      df.sparkSession, root, t.domain, t.family, insertLong(df),
      matchedB.result(), insertClauses > 0, bySourceB.result())
    (upd, del, ins)
  }

  /** Compile SET assignments onto the LONG layout — the target grammar
    * UPDATE and MERGE's by-source UPDATE share (`what` names the clause
    * in refusals): a 1-part name sets that series' value, `series.attr`
    * a per-point attribute, a NULL rhs removes the key; `ts`/`series`
    * are not assignable, a target appears once, and an RHS references
    * only its own series' row. */
  private def assignments(set: Seq[Ast.Assign], what: String,
      src: SrcMode = SrcPlain): Seq[(String, Option[String], Column)] = {
    val targets = set.map(a => (a.series, a.attr))
    targets.foreach { case (s, a) =>
      if (a.isEmpty && (s.equalsIgnoreCase("ts") ||
          s.equalsIgnoreCase("series")))
        throw Compiler.CompileException(
          s"$what cannot assign '$s' — moving rows along the time " +
            "axis or renaming a series changes which partition and " +
            "row group a row lives in; spell it as a DELETE plus an " +
            "INSERT")
    }
    val dup = targets.diff(targets.distinct)
    if (dup.nonEmpty) throw Compiler.CompileException(
      s"duplicate $what target ${dup.map { case (s, a) =>
        a.fold(s)(s + "." + _) }.distinct.mkString(", ")}")
    val scope = new LongRow(what, src)
    set.map { case Ast.Assign(s, a, rhs) =>
      val rhsCol = scope.operand(rhs)
      val foreign = scope.seriesOf(rhs) - s
      if (foreign.nonEmpty) throw Compiler.CompileException(
        s"the SET expression for '${a.fold(s)(s + "." + _)}' " +
          s"references series ${foreign.toSeq.sorted.mkString(", ")} — " +
          s"the assignment applies to rows of series '$s', and one " +
          "long row holds one series")
      (s, a, rhsCol)
    }
  }

  /** `DELETE FROM domain.family WHERE ts < DATE 'YYYY-MM-DD'` — the
    * SQL face of retention (TimescaleDB `drop_chunks`), compiling to
    * [[TimeSeriesTable.expire]]: METADATA-ONLY whole-date-partition
    * drops, never a rewrite — the only DELETE shape that works on a
    * petabyte family, and therefore the only shape this face accepts.
    * The bound is exclusive and PARTITION-GRANULAR: rows strictly
    * before the date go, the date itself and everything after stay.
    * Any other predicate (a mid-day timestamp bound, a value filter, a
    * series filter) refuses with the reason — a row-level DELETE would
    * silently become a full-family rewrite, which a user must opt into
    * by writing the rewrite themselves. Returns the dropped partition
    * names (empty when nothing is old enough).
    */
  def sqlDelete(stmt: String, spark: SparkSession, root: String): Seq[String] =
    parseAs[Ast.Delete](stmt, "delete") match {
      case Ast.Delete(t, RetentionCutoff(cutoff)) =>
        TimeSeriesTable.expire(spark, root, t.domain, t.family, cutoff)
      // ROW-LEVEL DELETE (the takedown path): any other WHERE compiles
      // to [[TimeSeriesTable.deleteRows]]'s copy-on-write rewrite of
      // only the affected date partitions, the predicate (the full
      // expression surface — IN, BETWEEN, LIKE, IS NULL, arithmetic,
      // intervals) against the family's LONG rows via [[LongRow]]
      case Ast.Delete(t, pred) =>
        TimeSeriesTable.deleteRows(spark, root, t.domain, t.family,
          new LongRow("DELETE").predicate(pred))._2
    }

  /** Matches the retention predicate `ts < DATE 'YYYY-MM-DD'`, which
    * [[sqlDelete]] runs as a metadata-only expire, giving its cutoff. */
  private[boostql] object RetentionCutoff {
    def unapply(e: Ast.BExpr): Option[java.sql.Date] = e match {
      case Ast.Cmp("<", Ast.ORef(Ast.RawName(Seq(ts))),
          Ast.OFn("to_date", Seq(Ast.OLit(Ast.BStr(cutoff)))))
          if ts.equalsIgnoreCase("ts") && cutoff.length == 10 =>
        Some(java.sql.Date.valueOf(cutoff))
      case _ => None
    }
  }

  /** `UPDATE domain.family SET <target> = <expr> [, …] WHERE <predicate>`
    * — row-level UPDATE, the redaction verb pairing [[sqlDelete]]'s
    * takedown path (PII masking, value corrections, attribute
    * backfills) and the reference write tier's other missing mutate
    * verb (boostsession.go:94-184 appends; it never rewrites).
    * Compiles to [[TimeSeriesTable.updateRows]]: a copy-on-write
    * rewrite of ONLY the date partitions holding touched rows.
    *
    * Targets address the long layout like DELETE predicates do: a
    * 1-part name sets that series' VALUE (rhs cast to double), a
    * 2-part `series.attr` sets that series' per-point attribute (rhs
    * cast to string; a NULL rhs REMOVES the key — redaction by
    * deletion). `ts` and `series` are not assignable — moving rows
    * along the partition axis or renaming a series is a DELETE plus an
    * INSERT. RHS expressions ride the ordinary grammar (arithmetic,
    * CAST, CASE, intervals, scalar builtins) over the SAME series'
    * row; all SET expressions evaluate against pre-update state (ANSI).
    * A row is touched when the WHERE is TRUE on it (row-level reading,
    * same as DELETE) and its series has an assignment. Returns the
    * affected partition names.
    */
  def sqlUpdate(stmt: String, spark: SparkSession, root: String): Seq[String] = {
    val Ast.Update(t, set, where) = parseAs[Ast.Update](stmt, "update")
    val assigns = assignments(set, "UPDATE")
    TimeSeriesTable.updateRows(spark, root, t.domain, t.family,
      new LongRow("UPDATE").predicate(where), assigns)._2
  }

  /** Whether a mutate clause may read the incoming row through the
    * reserved `src` prefix. */
  private[boostql] sealed trait SrcMode
  /** MERGE matched clauses: `src.value` is the incoming datapoint,
    * `src.<k>` an incoming attribute. */
  private[boostql] case object SrcAllowed extends SrcMode
  /** WHEN NOT MATCHED BY SOURCE clauses: there is no source row, and
    * `src.` refuses rather than resolving as a series named src. */
  private[boostql] case object SrcForbidden extends SrcMode
  /** DELETE and UPDATE: `src` is an ordinary series name. */
  private[boostql] case object SrcPlain extends SrcMode

  /** The mutate verbs' [[Compiler.Scope]] over the family's LONG rows
    * (series, ts, value, tags, attributes): DELETE and UPDATE
    * predicates, SET expressions and MERGE clause conditions. `ctx`
    * names the verb in refusals. Row-level over the PHYSICAL layout,
    * unlike SELECT's pivoted per-series view: a series-qualified leaf
    * (`purchase.user = '42'`, `error > 900.0`) is true only on that
    * series' rows — on every other row it is FALSE, so
    * `NOT (error > 900.0)` matches all non-error rows too. Reserved
    * 1-part names: `ts` (the time axis) and `series` (the series name)
    * address the physical columns; any other 1-part name is a series'
    * value and a 2-part name a series' attribute (per-point attributes
    * shadow series tags, same as SELECT's decode). One leaf cannot
    * reference two series — a single long row holds exactly one. Only
    * the scalar builtins compile: aggregates, windows and time-series
    * functions have no row-level meaning.
    */
  private[boostql] final class LongRow(ctx: String, src: SrcMode = SrcPlain)
      extends Compiler.Scope {
    import Ast._
    /** A name's column and the series whose rows it reads (None for
      * `ts`, `series` and the source row). */
    private def resolved(n: RawName): (Column, Option[String]) = n.parts match {
      case s +: _ if src == SrcForbidden && s.equalsIgnoreCase("src") =>
        throw Compiler.CompileException(
          "a WHEN NOT MATCHED BY SOURCE condition sees only the TARGET " +
            "row — there is no source row for an absent key by " +
            "definition; drop the src. prefix")
      // src.ts / src.series equal the target key on a matched row by
      // definition
      case Seq(s, f) if src == SrcAllowed && s.equalsIgnoreCase("src") =>
        (if (f.equalsIgnoreCase("value")) col("src_value")
          else if (f.equalsIgnoreCase("ts")) col("ts")
          else if (f.equalsIgnoreCase("series")) col("series")
          else coalesce(element_at(col("src_attributes"), f),
            element_at(col("src_tags"), f)), None)
      case Seq(t) if t.equalsIgnoreCase("ts") => (col("ts"), None)
      case Seq(t) if t.equalsIgnoreCase("series") => (col("series"), None)
      case _ => Compiler.resolve(n, None) match {
        case FieldRef(s, None) => (col("value"), Some(s))
        case FieldRef(s, Some(a)) =>
          (coalesce(element_at(col("attributes"), a),
            element_at(col("tags"), a)), Some(s))
      }
    }
    protected def reference(n: RawName): Column = resolved(n)._1

    /** The series whose rows an expression reads. A CASE condition is
      * a predicate scoped on its own, so its series do not count:
      * `CASE WHEN mem > 5 THEN 0 ELSE cpu END` reads cpu rows only. */
    def seriesOf(n: Node): Set[String] = Ast.collect(n) {
      case ORef(nm) => resolved(nm)._2.toSeq
      case OCase(bs, el) => (bs.map(_._2) ++ el).flatMap(seriesOf)
    }.toSet

    override protected def leaf(e: BExpr, c: Column): Column =
      seriesOf(e).toSeq match {
        case Seq() => c
        case Seq(s) => col("series") === lit(s) && c
        case many => throw Compiler.CompileException(
          s"a $ctx term references series ${many.sorted.mkString(", ")} — " +
            "one long row holds one series, so a single comparison cannot " +
            "span two; split it with AND/OR")
      }

    protected def refuse(n: Node): Nothing = throw Compiler.CompileException(n match {
      case OFn(fn, _) => s"$fn() is not available in $ctx terms — the " +
        "scalar builtins only (window/time-series functions have no " +
        "row-level meaning here)"
      case _: InSubE | _: ExistsE | _: QuantE =>
        s"$ctx predicates cannot contain subqueries — " +
        "compute the key set first and spell it as IN (…)"
      case other => s"$ctx terms support series/attribute/ts references, " +
        "literals, arithmetic, intervals, CAST, CASE and the scalar " +
        "builtins — not " + other.getClass.getSimpleName.stripSuffix("$")
    })
  }

  /** `INSERT INTO domain.family <select>` against STREAMING family
    * frames — continuous SQL ingest, the ETL-pipeline face of the
    * north star: the same INSERT text that runs in batch keeps a family
    * continuously fed from a live source. Two tiers by `watermark`:
    *
    *  - None: the STATELESS subset (projection + WHERE through
    *    [[sqlStream]]'s whitelist) — a filtering/renaming/derived-series
    *    pass-through pipe, no state store;
    *  - Some(delay): the watermarked aggregate subset — the CONTINUOUS
    *    DOWNSAMPLING idiom (InfluxQL continuous queries / TimescaleDB
    *    continuous aggregates): alias the time key `ts` (uncast, so it
    *    stays the new family's time axis) and each aggregate becomes a
    *    series of the target family. Every watermarked shape the SQL
    *    front compiles materializes: `bucket(ts, …)` tumbling windows,
    *    `session(ts, …)` session windows (the time axis is the session
    *    start), and the JOINED-STREAM windowed aggregate (stream-stream
    *    interval join + `bucket(x.ts, …)` rollup — the
    *    enrich-then-materialize pipeline). Dimension group keys (user)
    *    ride along as per-point attributes ([[insertLong]]'s string
    *    rule). The parquet sink appends FINALIZED windows only (state
    *    evicts behind the watermark), so the target trails the source
    *    by the watermark delay — the price of exactly-once
    *    downsampling over late data.
    *
    * Same shape contract as [[sqlInsert]] (timestamp `ts` + numeric
    * series columns, validated before stream start); same
    * date-partitioned checkpointed sink as a hand-built ingest job.
    * AvailableNow trigger: drains the current backlog, then returns —
    * swap the trigger for a production run-forever deployment.
    */
  def sqlStreamInsert(stmt: String, families: ((String, String)) => DataFrame,
      root: String, watermark: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val Ast.Insert(t, q) = parseAs[Ast.Insert](stmt, "insert")
    val long = insertLong(streamQuery(q, families, watermark))
      .withColumn("dt", to_date(col("ts")))
    long.writeStream
      .format("parquet")
      .option("path", s"$root/${t.domain}/${t.family}")
      .option("checkpointLocation",
        s"$root/.checkpoints/${t.domain}.${t.family}")
      .partitionBy("dt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** Shared INSERT shape contract + UNPIVOT onto the family long
    * layout; works identically on batch and streaming frames (the
    * unpivot is a map-side Expand). See [[sqlInsert]] for the rules.
    *
    * DIMENSION columns: a STRING column is a per-row dimension (the
    * grouped-rollup shape — `GROUP BY bucket(ts, …), user`) and lands
    * as a per-point ATTRIBUTE named by the column on every series row
    * unpivoted from its source row, so the reread family answers
    * `SELECT n.user, n FROM dom.rollup` exactly like a raw family.
    * (Attributes, not tags: tags are series-constant by the data
    * model, a dimension varies per row.) Numeric columns are the
    * series, as before; at least one is required — a dimensions-only
    * select has nothing to plot on the value axis.
    */
  private def insertLong(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    {
      val cols = df.columns.toSeq
      if (cols.count(_ == "ts") != 1 ||
          df.schema("ts").dataType != TimestampType)
        throw Compiler.CompileException(
          "INSERT needs the select to propagate the time axis as a " +
            "timestamp column named ts")
      val rest = cols.filterNot(_ == "ts")
      rest.groupBy(identity).collect { case (c, dup) if dup.length > 1 =>
        throw Compiler.CompileException(
          s"INSERT value columns must have distinct names ('$c' repeats " +
            "— alias the select items)")
      }
      val reserved = Set("series", "value", "tags", "attributes", "dt")
      rest.find(reserved).foreach(c => throw Compiler.CompileException(
        s"INSERT value column '$c' collides with the family layout — " +
          "alias it to the intended series name"))
      val (dimCols, valueCols) =
        rest.partition(c => df.schema(c).dataType == StringType)
      if (valueCols.isEmpty) throw Compiler.CompileException(
        "INSERT needs at least one numeric value column besides ts " +
          "(each becomes a series named by the column; string columns " +
          "are dimensions and become per-point attributes)")
      valueCols.find(c => !df.schema(c).dataType.isInstanceOf[NumericType])
        .foreach(c => throw Compiler.CompileException(
          s"INSERT value column '$c' is " +
            s"${df.schema(c).dataType.simpleString} — series values are " +
            "numeric (and dimensions are strings)"))
      val emptyMap = map().cast(MapType(StringType, StringType))
      val attrs =
        if (dimCols.isEmpty) emptyMap
        else map(dimCols.flatMap(c => Seq(lit(c), col(c))): _*)
      df.select((col("ts") +: dimCols.map(col)) ++
          valueCols.map(c => col(c).cast("double").as(c)): _*)
        .unpivot((col("ts") +: dimCols.map(col)).toArray,
          valueCols.map(col).toArray, "series", "value")
        .filter(col("value").isNotNull)
        .select(col("series"), col("ts"), col("value"),
          emptyMap.as("tags"), attrs.as("attributes"))
    }
  }

  /** SQL over a family resolver: a query or a read statement —
    * DESCRIBE, EXPLAIN, FUNNEL, RETENTION, OUTLIERS. The warehouse
    * statements refuse with a pointer at the entrypoint that runs them.
    */
  def sql(query: String, families: ((String, String)) => DataFrame): DataFrame =
    run(parseRead(query), families)

  /** Parses a statement for [[sql]]. A MERGE gets the pointer at
    * [[sqlMerge]] as soon as its clauses parse, before its USING query. */
  private def parseRead(query: String): Ast.Statement =
    Parser.parseStatement(query, _ => throw writeOnly("sqlMerge"))

  private def writeOnly(entry: String) = Compiler.CompileException(
    "sql() compiles read queries — this write statement runs through " +
      s"BoostQL.$entry(stmt, …) " +
      "(INSERT/UPSERT/MERGE/CREATE take the families resolver, " +
      "DELETE/UPDATE/DROP/REFRESH take the warehouse root)")

  private def run(st: Ast.Statement,
      families: ((String, String)) => DataFrame): DataFrame = {
    def frame(f: Ast.FamilyRef) = families((f.domain, f.family))
    st match {
      case q: Ast.QueryStmt => Compiler.compile(q, families)
      case Ast.Describe(t) => describe(frame(t))
      case f: Ast.Funnel => funnelStmt(f, frame(f.source))
      case r: Ast.Retention => retentionStmt(r, frame(r.source))
      case o: Ast.Outliers => outliersStmt(o, frame(o.source))
      case Ast.Explain(mode, q) =>
        val df = Compiler.compile(q, families)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(mode))
        val spark = df.sparkSession
        import spark.implicits._
        Seq(plan).toDF("plan")
      case _: Ast.ShowFamilies => throw Compiler.CompileException(
        "SHOW FAMILIES needs an enumerable registry — pass the families " +
          "as a Map (the sql(query, Map) overload); a resolver function " +
          "cannot be listed")
      case _: Ast.ShowPartitions => throw Compiler.CompileException(
        "SHOW PARTITIONS is a warehouse statement — it inventories a " +
          "family's physical date partitions, which a query frame cannot " +
          "see; use BoostQL.sqlShowPartitions(stmt, spark, root)")
      case w: Ast.WriteStatement => throw writeOnly(w match {
        case _: Ast.Insert => "sqlInsert"
        case _: Ast.Upsert => "sqlUpsert"
        case _: Ast.Merge => "sqlMerge"
        case _: Ast.Delete => "sqlDelete"
        case _: Ast.Update => "sqlUpdate"
        case _: Ast.CreateFamily => "sqlCreateFamily"
        case _: Ast.DropFamily => "sqlDropFamily"
        case _: Ast.RefreshRollup => "sqlRefreshRollup"
      })
    }
  }

  /** `REFRESH ROLLUP domain.family BUCKET '<interval>' AS <label>
    * [INTO domain.family2]` — the SQL face of
    * [[TimeSeriesTable.refreshDownsample]]: materialize or
    * incrementally maintain the family's fixed-width rollup, touching
    * only the source dates whose file set changed since the last
    * refresh. The bucket must be a fixed day-divisible width (derived
    * rows must stay on their source date for the per-date swap).
    * Returns (rebuilt partitions, dropped partitions).
    */
  def sqlRefreshRollup(stmt: String, spark: SparkSession,
      root: String): (Seq[String], Seq[String]) = {
    val Ast.RefreshRollup(src, width, label, into) =
      parseAs[Ast.RefreshRollup](stmt, "refresh")
    val us = Compiler.parseIntervalMicros(width).getOrElse(
      throw Compiler.CompileException(
        s"REFRESH ROLLUP bucket '$width' must be a fixed width " +
          "(microsecond…day) — calendar widths cannot stay on one " +
          "source date"))
    if (us <= 0 || 86400000000L % us != 0)
      throw Compiler.CompileException(
        "REFRESH ROLLUP bucket must be positive and divide one day " +
          "— a wider bucket straddles date partitions; use " +
          "downsample() for a one-shot wider rollup")
    if (into.exists(_.domain != src.domain))
      throw Compiler.CompileException(
        "REFRESH ROLLUP INTO must target the same domain — the " +
          "refresh manifest lives beside the derived family")
    TimeSeriesTable.refreshDownsample(spark, root, src.domain, src.family,
      us, label, into.map(_.family))
  }

  /** The SQL front over a STREAM: compile a dialect query against
    * streaming family frames ([[TimeSeriesTable.openStream]]) — the
    * continuous-query face of the reference's north star. Every shape
    * outside the ones below refuses at compile time, with its reason,
    * instead of failing at stream start.
    *
    * Without a watermark, the STATELESS tier: projection, scalar
    * expressions and WHERE over a single series — what runs
    * incrementally with no state store and no output-mode caveats.
    *
    * With `watermarkDelay` (the overload below), three stateful shapes:
    *  - the CONTINUOUS AGGREGATE: `SELECT [CAST(]bucket(ts, '<width>'[,
    *    '<slide>'])[ AS int)] AS b[, key…], agg(x) AS a… FROM dom.f
    *    [WHERE …] GROUP BY b[, key…] [HAVING …]`, or `session(ts,
    *    '<gap>')` as the time key beside at least one plain key (the
    *    engine cannot merge one global session). Widths, slides and
    *    gaps are fixed (calendar widths refuse; a slide divides the
    *    width). Aggregates are aliased count/sum/avg/min/max,
    *    approx_top_k and histogram — mergeable, bounded state — and
    *    arithmetic over them (the corr/regr desugar); count(DISTINCT),
    *    median, percentiles and sketches refuse. HAVING and aggregate
    *    expressions apply statelessly to the finalized rows;
    *  - the STREAM-STREAM JOIN: exactly one INNER or LEFT/RIGHT/FULL
    *    OUTER equi-join of two aliased family sources whose ON bounds
    *    each side's time axis against the other's (`b.ts BETWEEN a.ts
    *    AND a.ts + INTERVAL '1 hour'`, a `>=`/`<=` pair, or ts
    *    equality). Each side gets the watermark at its source and the
    *    ordinary compiler builds the batch plan, whose native interval
    *    terms are the shape the engine's state-eviction analysis
    *    recognizes. An unbounded or half-bounded ON would accrete state
    *    forever and refuses, as do ASOF (latest-at-or-before orders
    *    over the unbounded past), cross joins, derived-table sides and
    *    multi-series sides (the exact-ts align is itself an unbounded
    *    join). Outer rows emit null-extended once the other side's
    *    watermark passes their match window (see
    *    [[graft.streaming.StreamingOps.streamSqlLeftJoinReplay]]);
    *  - the AGGREGATE OVER AN INNER JOIN: the continuous aggregate keyed
    *    on `bucket(x.ts, '<width>')` for one side `x`, with dimensions
    *    named by select alias and count/sum/avg/min/max items only — no
    *    sliding or session key, no HAVING, no aggregate expression. Two
    *    chained stateful operators in append mode: the join's time
    *    column keeps its event-time watermark, so the window aggregate
    *    needs no second `withWatermark`. When the ON decomposes, the
    *    join takes the hot-key-proof bucketed plan
    *    ([[graft.streaming.StreamingOps.bucketedIntervalJoin]]).
    *
    * FILL, ORDER BY, LIMIT, OFFSET, DISTINCT, QUALIFY, ROLLUP/CUBE/
    * GROUPING SETS, hints and set operations refuse in every form: on
    * an unbounded stream they are sink-side concerns.
    *
    * One compiler builds every form: the ordinary dialect compiler (the
    * same pushed-filter scans as batch), whose aggregate phase runs in
    * stream mode under GROUP BY ([[Compiler.compileStream]]). There the
    * time key groups on the engine's event-time window over the
    * watermarked axis — `window(ts, w[, slide])` or `session_window(ts,
    * gap)`, not opaque timestamp arithmetic, which is what lets the
    * watermark evict finalized windows and append mode emit them — and
    * reads back the window's start. One analyzed-plan sweep
    * ([[statefulNodes]]) refuses a stateful operator in the frame the
    * aggregate reads, or anywhere in a stateless query.
    */
  def sqlStream(query: String,
      families: ((String, String)) => DataFrame): DataFrame =
    streamQuery(Parser.parseStmt(query), families, None)

  /** [[sqlStream]] with a watermark delay: the stateful shapes. */
  def sqlStream(query: String, families: ((String, String)) => DataFrame,
      watermarkDelay: String): DataFrame =
    streamQuery(Parser.parseStmt(query), families, Some(watermarkDelay))

  /** The analyzed-plan nodes outside the stateless whitelist
    * (Project/Filter/SubqueryAlias/leaf relations/EventTimeWatermark),
    * in pre-order. The ANALYZED plan, because window expressions only
    * become Window nodes at analysis; a whitelist, because a blacklist
    * would miss stateful shapes reached through derived tables (inner
    * DISTINCT → Deduplicate, inner LIMIT → GlobalLimit, …). A WITH CTE
    * whose substitution is a pure projection/filter passes: the CTE is
    * only naming.
    */
  private def statefulNodes(df: DataFrame): Seq[logical.LogicalPlan] =
    df.queryExecution.analyzed.collect {
      case _: logical.Project | _: logical.Filter | _: logical.SubqueryAlias |
           _: logical.LeafNode | _: logical.EventTimeWatermark => None
      case n => Some(n)
    }.flatten

  private def streamQuery(stmt: Ast.QueryStmt,
      families: ((String, String)) => DataFrame,
      watermark: Option[String]): DataFrame = {
    def fail(msg: String): Nothing = throw Compiler.CompileException(msg)
    // 1. clause refusals
    val spec = stmt match {
      case q: Ast.QuerySpec => q
      case _ => fail("streaming queries do not support set operations")
    }
    Seq(spec.fill.isDefined -> ("FILL (densify at the sink — an unbounded " +
        "stream has no final bucket extent to densify against)"),
      spec.orderBy.nonEmpty -> "ORDER BY (sort at the sink)",
      spec.limit.isDefined -> "LIMIT", spec.offset.isDefined -> "OFFSET",
      spec.distinct -> "DISTINCT", spec.qualify.isDefined -> "QUALIFY",
      (spec.groupMode != "plain") -> "ROLLUP/CUBE/GROUPING SETS",
      spec.hints.nonEmpty -> "an optimizer hint"
    ).collectFirst { case (true, what) => what }.foreach(what =>
      fail(s"streaming queries do not support $what"))
    val joined = spec.joins.nonEmpty
    val grouped = spec.groupBy.nonEmpty || spec.having.isDefined
    def stateless(what: String): Nothing = fail(
      s"streaming queries support stateless projection + WHERE only; " +
        s"$what is not supported (use sqlStream(query, families, " +
        "watermark) for the bucket()-keyed aggregate and join forms, or " +
        "the watermarked StreamingOps tier for other stateful streams)")
    def aggregation(what: String): Nothing = fail(
      "watermarked streaming aggregation supports a bucket(ts, …) " +
        s"group key + count/sum/avg/min/max only; $what is not " +
        "supported (use the watermarked StreamingOps tier)")
    def joining(what: String): Nothing = fail(
      "streaming joins support exactly one INNER or LEFT/RIGHT/FULL " +
        "OUTER equi-join between two family sources with a two-sided " +
        s"time bound in ON; $what is not supported")
    if (watermark.isEmpty) {
      if (joined) stateless("JOIN")
      if (grouped) stateless("GROUP BY/HAVING")
    }
    if (watermark.isDefined && !joined && spec.groupBy.isEmpty) fail(
      "no GROUP BY — use sqlStream(query, families) for the stateless tier")

    // 2. a join's checks and per-side watermark, and the one sweep of the
    // frame the aggregate reads, or of the whole stateless query
    if (joined) streamJoinChecks(spec, joining)
    val sources: ((String, String)) => DataFrame =
      if (joined) key => families(key).withWatermark("ts", watermark.get)
      else families
    val refuseNode: String => Nothing =
      if (joined) joining
      else if (grouped) what => aggregation(s"$what inside the streamed source")
      else stateless
    def sweep(df: DataFrame): Unit = {
      // a join source keeps its one join (and the hot-key plan's explode)
      var joins = if (joined) 1 else 0
      statefulNodes(df).foreach {
        case _: logical.Join if joins > 0 => joins -= 1
        case g: logical.Generate
          if joined && g.generatorOutput.exists(_.name == "__gbkt") => ()
        case j: logical.Join =>
          refuseNode(if (joined) "a multi-series side (the exact-ts align " +
            "is itself an unbounded stream-stream join) — reference one " +
            "series per side"
          else s"multi-series alignment (a stream-stream ${j.nodeName})")
        case other => refuseNode(s"the ${other.nodeName} operator")
      }
    }
    // 3. GROUP BY: the compiler's aggregate phase in stream mode
    if (grouped) Compiler.compileStream(spec, sources,
      Compiler.StreamMode(watermark.get, sweep))
    else {
      val df = Compiler.compile(spec, sources)
      sweep(df)
      df
    }
  }

  /** The stream-stream join's checks (see [[sqlStream]]). The ON must
    * bound each side's time axis against the other's — a row on a side
    * whose axis is not upper-bounded in terms of the other side's can
    * match forever, so that side's join state would never evict.
    */
  private def streamJoinChecks(spec: Ast.QuerySpec,
      refuse: String => Nothing): Unit = {
    import graft.boostql.Ast._
    if (spec.joins.length > 1) refuse("more than one JOIN")
    val j = spec.joins.head
    if (j.joinType == "asof") throw Compiler.CompileException(
      "streaming ASOF is not supported: latest-at-or-before orders over " +
        "the unbounded past — state no watermark can evict. Bound the " +
        "match window explicitly (ON a.k = b.k AND b.ts BETWEEN a.ts " +
        "AND a.ts + INTERVAL '…') or run ASOF in batch")
    // inner joins emit eagerly; LEFT/RIGHT/FULL OUTER joins emit
    // null-extended rows for the unmatched side(s) once the OTHER
    // side's watermark has passed the row's match window — which the
    // two-sided time bound below makes decidable, so all four are
    // state-bounded under the same analysis. (Semantic note for
    // replays: an outer row's emission WAITS on the watermark, so an
    // AvailableNow run withholds the last `delay + bound` of unmatched
    // rows unless the input ends with rows advancing each side's
    // watermark past the real data — see
    // StreamingOps.streamSqlLeftJoinReplay's flush rows.)
    if (!Seq("inner", "left", "right", "full").contains(j.joinType))
      refuse(s"${j.joinType.toUpperCase} JOIN")
    if (!spec.source.isInstanceOf[Source] || !j.source.isInstanceOf[Source])
      refuse("a derived-table side")
    val cond = j.on.getOrElse(throw Compiler.CompileException(
      "streaming joins need an ON clause — a cross join would hold both " +
        "streams' full history as state"))
    // the ON must bound the two time axes against each other from both
    // sides (a BETWEEN, a >=/<= pair, or exact ts equality)
    val aliases = (spec.source.alias.toSeq ++ j.source.alias.toSeq)
    if (aliases.size < 2) throw Compiler.CompileException(
      "streaming joins need BOTH sides aliased (FROM dom.f AS a JOIN " +
        "dom.g AS b) so the ON can bound each side's time axis")
    // DIRECTION-tracked bound analysis: a stored row on side Y evicts
    // only when the ON upper-bounds the OTHER side's time axis in
    // terms of Y's (x.ts <= y.ts + δ ⟹ a stored y row at s matches
    // only x.ts <= s + δ, so once X's watermark passes s + δ that y
    // row can never match again — Y's state evicts behind X's
    // watermark). So the check is per SIDE, not a count — two
    // same-direction inequalities (b.ts >= a.ts AND b.ts > a.ts −
    // INTERVAL '1 minute') make only B's state evictable and would
    // leave A's state accreting forever. `x < y` evicts y; `x > y`
    // evicts x; equality evicts both (a BETWEEN is its two comparisons).
    def tsAliasOf(o: Operand): Option[String] =
      Compiler.tsOff(o, aliases).map(_._1)
    val sidesBounded = Compiler.conjuncts(cond).flatMap {
      case Cmp(op, l, r) => (tsAliasOf(l), tsAliasOf(r)) match {
        case (Some(x), Some(y)) if x != y => op match {
          case "<" | "<=" => Seq(y)
          case ">" | ">=" => Seq(x)
          case "=" | "==" => Seq(x, y)
          case _          => Nil
        }
        case _ => Nil
      }
      case _ => Nil
    }.toSet
    if (!aliases.forall(sidesBounded.contains)) throw Compiler.CompileException(
      "streaming joins need the ON to bound the two time axes against " +
        "each other from BOTH sides (e.g. b.ts BETWEEN a.ts AND a.ts + " +
        "INTERVAL '1 hour') — an upper bound on EACH side's time axis " +
        "is what lets that side's join state evict behind the other " +
        "side's watermark; an unbounded or half-bounded join accretes " +
        "state forever" +
        (if (sidesBounded.nonEmpty)
          s" (only ${aliases.filter(sidesBounded.contains).mkString(", ")} " +
            "is bounded here)"
        else ""))
  }

  /** Time-scoped execution — the dialect face of the reference's
    * `[windowStart, windowEnd)` execution window (executor.go:239-252,
    * an Executor parameter there, not SQL). Every family frame is
    * range-filtered before series resolution, so the bound reaches the
    * parquet scan (row-group stats + dt partition pruning when present).
    */
  def sql(query: String, families: ((String, String)) => DataFrame,
      windowStart: java.sql.Timestamp, windowEnd: java.sql.Timestamp): DataFrame =
    Compiler.compile(Parser.parseStmt(query), key =>
      graft.sources.TimeSeriesTable.timeRange(families(key), windowStart, windowEnd))

  /** Convenience resolver for the driver testdata: any `domain.family`
    * resolves to the events table adapted to the series-family shape
    * (FIXTURES.md §3).
    *
    * The adapted frame is persisted once per (session, dir) and reused
    * across queries: `fromEvents` derives the attribute map by parsing
    * the `props` JSON, and without the cache that `from_json` lands in
    * BOTH the Filter and the Project of every compiled query (Catalyst
    * inlines it through the projection) — one JSON parse per row per
    * occurrence. With the cache the map is materialized once and every
    * boost query reads it back. This is a test-adapter concern only:
    * the production path ([[TimeSeriesTable.open]]) stores `attributes`
    * as a real parquet map column and never parses JSON. The cache is
    * LRU-bounded at [[TestdataCacheMax]] entries (evicted frames
    * unpersist), so a long-lived host iterating many dirs cannot
    * accumulate persisted frames; [[evictTestdataCache]] drops eagerly.
    */
  def onTestdata(spark: SparkSession, sfDir: String)(query: String): DataFrame = {
    val fam = testdataCache.synchronized {
      Option(testdataCache.get((spark, sfDir))).getOrElse {
        val f = TimeSeriesTable.fromEvents(Tables.events(spark, sfDir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        testdataCache.put((spark, sfDir), f)
        f
      }
    }
    sql(query, _ => fam)
  }

  /** How many (session, dir) family frames stay persisted at once; a
    * long-lived host iterating many dirs evicts (and unpersists) least-
    * recently-used entries past this instead of accumulating them. */
  private val TestdataCacheMax = 8

  private val testdataCache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        if (size > TestdataCacheMax) { e.getValue.unpersist(blocking = false); true }
        else false
    }

  /** Unpersist and drop cached testdata frames — for `spark` only, or
    * all sessions when omitted. The harness never needs this (one
    * session, two dirs); a long-lived host embedding the facade does.
    */
  def evictTestdataCache(spark: Option[SparkSession] = None): Unit =
    testdataCache.synchronized {
      import scala.jdk.CollectionConverters._
      val keys = testdataCache.keySet.asScala
        .filter(k => spark.forall(_ eq k._1)).toSeq
      keys.foreach { k =>
        Option(testdataCache.remove(k)).foreach(_.unpersist(blocking = false))
      }
    }
}
