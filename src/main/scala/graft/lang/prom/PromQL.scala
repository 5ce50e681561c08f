package graft.lang.prom

import graft.core.{QueryGrid, TsSchema}
import graft.stages._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ListBuffer

/** PromQL frontend: parser + compiler.
  *
  * Reference surface (lang/prom/, SURVEY.md §2.3): executable = selectors with
  * `= != =~ !~` matchers, `rate`/`increase` over range selectors, and
  * `sum/avg/min/max/count [by (…)]` (PromSourceBuilderVisitor.java:155-172,
  * 263-270). The reference merely *parses* the rest (FunctionType enum,
  * lang/prom/common/FunctionType.java:27-102); here most of that parsed-only
  * surface is executable too — each function is one window aggregate or one
  * column expression in Spark:
  *
  *  - full operator precedence (`or` < `and`/`unless` < comparisons < `+ -`
  *    < `* / %` < `^`), comparison filters with the `bool` modifier, and the
  *    set operators `and`/`or`/`unless` (label-set × timestamp joins)
  *  - vector matching `on`/`ignoring` with `group_left`/`group_right`;
  *    Prometheus label hygiene on vector-vector ops: `__name__` is excluded
  *    from every matching signature, arithmetic (and `bool` comparison)
  *    results drop the metric name, one-to-one `on(…)` keeps only the
  *    on-labels, one-to-one `ignoring(…)` deletes the ignored labels
  *  - the `offset` modifier on instant and range selectors; `@ t` on instant
  *    selectors (fixed-instant vector, 5m lookback delta), on range
  *    selectors, and on `m[d:s]` subqueries (the windowed value pinned at t,
  *    stamped across the grid)
  *  - subqueries `expr[range:step]` feeding every range-taking function
  *    (each step instant takes the newest inner sample at-or-before it)
  *  - aggregations `topk`/`bottomk` (per-instant rank), `quantile`, `stddev`/
  *    `stdvar` (population), `group`, `count_values`; experimental `limitk`
  *    (deterministic k smallest series keys per step — Prometheus picks an
  *    arbitrary subset) and `limit_ratio` (md5-fraction series sample —
  *    same complement law as Prometheus, different hash)
  *  - dynamic scalars: `scalar(v)` (one series → its per-step value, else
  *    NaN) and `time()` compose with literals and participate in arithmetic
  *    and `bool` comparisons against vectors via a per-step broadcast join;
  *    `vector(s)` accepts any scalar-typed argument
  *  - `sort_by_label`/`sort_by_label_desc` (presentation order)
  *  - `*_over_time`, `predict_linear`/`deriv` (least-squares over the window),
  *    `holt_winters`, `absent`/`absent_over_time`/`present_over_time`
  *  - `increase`/`delta` with Prometheus's window-edge extrapolation;
  *    `irate` emits the post-reset rate (value/elapsed) across counter resets
  *  - math/trig/time functions and `label_replace`/`label_join`
  *
  * `without` grouping EXECUTES here (a strict superset of the reference,
  * which raises — PromSourceBuilderVisitor.java:258-259): the group identity
  * is the full label set minus the listed labels and the metric name,
  * canonicalized into one synthetic grouping label so the static `by`
  * machinery (and its one-shuffle plan) is reused unchanged; rank-style
  * aggs (topk/bottomk/limitk) keep each survivor's original labels.
  *
  * Documented divergence from upstream Prometheus (mirrored by the
  * conformance oracles): `rate` keeps the reference engine's smoothed
  * reset-segment semantics (PerSecondRateStage) rather than Prometheus
  * extrapolation BY DEFAULT — `query(..., exactRate = true)` switches it to
  * the Prometheus-exact extrapolated rate (extrapolatedRate / window
  * seconds, oracle `promql_rate_extrapolated`). The former window-shape
  * divergences are now mode-switched: by default range-window functions
  * keep the metric name and range windows are closed `[t-d, t]` (reference
  * parity); `query(..., promParity = true)` switches to FULL upstream
  * semantics — left-open `(t-d, t]` windows, shouldDropMetricName for
  * the range-window family (all but `last_over_time`), and the
  * Prometheus-exact extrapolated `rate` (promParity implies exactRate) —
  * oracles `promql_parity_window` / `promql_parity_name_drop` /
  * `promql_parity_rate` pin both modes.
  * Subquery inners follow Prometheus's per-instant evaluation:
  * a PLAIN SELECTOR inner carries lookback-delta staleness (left-open
  * `(t - delta, t]`, delta = the `lookbackDeltaMs` argument mirroring
  * --query.lookback-delta, default 5m — oracle `promql_subquery_stale`);
  * COMPUTED inners are re-evaluated on the subquery's own epoch-aligned
  * instant grid with every instant-position selector below them replaced
  * by its carried frame — so arithmetic, filter comparisons
  * (`(m > 0)[30m:1m]` — oracle `promql_subquery_stale_computed`),
  * aggregations and vector matching all evaluate over carried values in
  * Prometheus's order (carry per selector, then combine), while
  * range-selector inputs keep raw samples and range-function outputs never
  * carry (`rate(m[5m])[30m:1m]` computes its window at every instant and
  * an empty window yields nothing). An inner MIXING a carried instant
  * selector with a range-function output (`(m1 + rate(m2[5m]))[30m:1m]`)
  * combines on the SAME step-instant set: each range-function call is
  * pre-evaluated and its sample-instant emissions re-gridded onto the
  * subquery instants (ceiling bucket, newest per bucket, no carry — the
  * same rule a pure range-function inner gets), so the combine never
  * depends on sample timestamps coinciding with step instants — oracle
  * `promql_subquery_mixed`, pinned in PromQLSpec.
  */
object PromQL {

  // ---- AST -----------------------------------------------------------------
  sealed trait Expr
  final case class Selector(metric: Option[String],
                            matchers: List[(String, String, String)],
                            offsetMs: Long = 0L,
                            atMs: Option[Long] = None) extends Expr
  final case class Range(sel: Selector, durMs: Long) extends Expr
  /** `expr[range:step]` — a subquery: the inner expression evaluated at
    * `step` instants over the trailing `range` (step 0 = the outer grid's
    * step). */
  final case class Subquery(e: Expr, rangeMs: Long, stepMs: Long) extends Expr
  final case class Call(fn: String, args: List[Expr]) extends Expr
  final case class Agg(op: String, by: List[String], param: Option[Expr], arg: Expr,
                       without: Boolean = false) extends Expr
  final case class BinOp(op: String, l: Expr, r: Expr, boolMod: Boolean = false,
                         matching: Option[SeriesSet.VectorMatching] = None) extends Expr
  final case class ScalarLit(v: Double) extends Expr
  final case class StrLit(s: String) extends Expr

  final case class PromParseError(msg: String) extends RuntimeException(msg)

  /** Parse-time sentinels for `@ start()` / `@ end()` — the parser has no
    * grid, so the compiler resolves them against the query range. */
  val AtStart: Long = Long.MinValue
  val AtEnd: Long = Long.MaxValue

  // ---- parser --------------------------------------------------------------
  private final class P(in: String) {
    private var i = 0
    private def ws(): Unit = while (i < in.length && in(i).isWhitespace) i += 1
    private def peek: Char = if (i < in.length) in(i) else '\u0000'
    private def eat(c: Char): Unit = { ws(); if (peek == c) i += 1
      else throw PromParseError(s"expected '$c' at $i in: $in") }
    private def tryEat(c: Char): Boolean = { ws(); if (peek == c) { i += 1; true } else false }
    private def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == ':'
    private def ident(): String = {
      ws(); val s = i
      while (i < in.length && identChar(in(i))) i += 1
      if (i == s) throw PromParseError(s"expected identifier at $s in: $in")
      in.substring(s, i)
    }
    /** Consume `w` only when it stands as a whole word. */
    private def tryWord(w: String): Boolean = {
      ws()
      if (in.startsWith(w, i) &&
          (i + w.length >= in.length || !identChar(in(i + w.length)))) { i += w.length; true }
      else false
    }
    private def number(): Double = {
      ws(); val s = i
      if (peek == '-' || peek == '+') i += 1
      while (i < in.length && (in(i).isDigit || in(i) == '.')) i += 1
      if (i < in.length && (in(i) == 'e' || in(i) == 'E')) {
        i += 1
        if (peek == '-' || peek == '+') i += 1
        while (i < in.length && in(i).isDigit) i += 1
      }
      val t = in.substring(s, i)
      try t.toDouble
      catch { case _: NumberFormatException =>
        throw PromParseError(s"bad number '$t' at $s in: $in") }
    }
    private def quoted(): String = {
      ws(); val q = peek
      if (q != '"' && q != '\'') throw PromParseError(s"expected string at $i")
      i += 1; val s = i
      while (i < in.length && in(i) != q) i += 1
      val out = in.substring(s, i); i += 1; out
    }
    /** A bare duration token (after `offset`): `5m`, `1h30m`, `90s`… */
    private def bareDuration(): Long = {
      ws(); val s = i
      while (i < in.length && (in(i).isLetterOrDigit)) i += 1
      graft.lang.m3.Duration.parse(in.substring(s, i))
        .getOrElse(throw PromParseError(s"bad duration '${in.substring(s, i)}' at $s"))
    }

    private val simpleAggs = Set("sum", "avg", "min", "max", "count",
      "stddev", "stdvar", "group")
    private val paramAggs = Set("topk", "bottomk", "quantile", "count_values",
      "limitk", "limit_ratio")
    private def isAgg(n: String) = simpleAggs(n) || paramAggs(n)

    private val cmpOps = Set("==", "!=", ">=", "<=", ">", "<")
    private def prec(op: String): Int = op match {
      case "or"                      => 1
      case "and" | "unless"          => 2
      case o if cmpOps(o)            => 3
      case "+" | "-"                 => 4
      case "*" | "/" | "%" | "atan2" => 5
      case "^"                       => 6
    }

    /** Peek the next binary operator without consuming it. */
    private def peekOp(): Option[String] = {
      ws()
      if (i >= in.length) return None
      val two = if (i + 1 < in.length) in.substring(i, i + 2) else ""
      if (Set("==", "!=", ">=", "<=")(two)) Some(two)
      else if ("+-*/%^><".contains(peek)) Some(peek.toString)
      else if (in.startsWith("atan2", i) && wordEndsAt(i + 5)) Some("atan2")
      else if (in.startsWith("and", i) && wordEndsAt(i + 3)) Some("and")
      else if (in.startsWith("unless", i) && wordEndsAt(i + 6)) Some("unless")
      else if (in.startsWith("or", i) && wordEndsAt(i + 2)) Some("or")
      else None
    }
    private def wordEndsAt(j: Int): Boolean =
      j >= in.length || !identChar(in(j))

    def expr(minPrec: Int = 1): Expr = {
      var left = primary()
      var done = false
      while (!done) {
        peekOp() match {
          case Some(op) if prec(op) >= minPrec =>
            i += op.length
            val boolMod = cmpOps(op) && tryWord("bool")
            val matching = parseMatching()
            // ^ is right-associative; everything else left-associative
            val right = expr(if (op == "^") prec(op) else prec(op) + 1)
            left = BinOp(op, left, right, boolMod, matching)
          case _ => done = true
        }
      }
      left
    }

    /** `on(a,b)` / `ignoring(a,b)` after a binary operator, optionally
      * followed by `group_left` / `group_right` with an optional include
      * list. A '(' after group_left/right is tried as the include list
      * first; if the parenthesized content is not a plain label list it is
      * re-read as the right operand (`group_left (sum by (u) (m))`). */
    private def parseMatching(): Option[SeriesSet.VectorMatching] = {
      val on = tryWord("on")
      val ignoring = !on && tryWord("ignoring")
      if (!on && !ignoring) return None
      val ls = labelList()
      val gl = tryWord("group_left")
      val gr = !gl && tryWord("group_right")
      val include =
        if ((gl || gr) && { ws(); peek == '(' }) {
          val save = i
          try labelList()
          catch { case _: PromParseError => i = save; Nil }
        } else Nil
      Some(SeriesSet.VectorMatching(on, ls, gl, gr, include))
    }

    /** `[range:step]` after a non-selector expression (call or parens) —
      * only the subquery form is legal there. */
    private def postfixSubquery(e: Expr): Expr = {
      ws()
      if (peek != '[') return e
      i += 1
      bracketRange() match {
        case (d, Some(step)) => Subquery(e, d, step)
        case (_, None) =>
          throw PromParseError(s"range selector requires a plain metric; use [d:s] at $i")
      }
    }

    def primary(): Expr = {
      ws()
      if (peek == '(') { i += 1; val e = expr(); eat(')'); return postfixSubquery(e) }
      if (peek == '"' || peek == '\'') return StrLit(quoted())
      if (peek.isDigit || ((peek == '-' || peek == '+') && i + 1 < in.length &&
          (in(i + 1).isDigit || in(i + 1) == '.')) || peek == '.')
        return ScalarLit(number())
      val name = ident()
      ws()
      if (isAgg(name) && (peek == '(' || followsWord("by") || followsWord("without"))) {
        // sum by (a,b) (expr)  |  sum(expr) by (a,b)  |  sum without (a) (expr)
        // `without` executes here even though the reference raises
        // (PromSourceBuilderVisitor.java:258-259) — a strict superset, with
        // Prometheus label hygiene (drops the listed labels AND the name)
        var by = List.empty[String]
        var wo = false
        if (tryWord("by")) by = labelList()
        else if (tryWord("without")) { wo = true; by = labelList() }
        eat('(')
        var param: Option[Expr] = None
        if (paramAggs(name)) { param = Some(expr()); eat(',') }
        val a = expr()
        eat(')')
        if (tryWord("by")) by = labelList()
        else if (tryWord("without")) { wo = true; by = labelList() }
        postfixSubquery(Agg(name, by, param, a, wo))
      } else if (peek == '(') {
        if (name == "pi") { eat('('); eat(')'); return ScalarLit(math.Pi) }
        i += 1
        val args = ListBuffer.empty[Expr]
        var first = true
        while (!tryEat(')')) {
          if (!first) eat(',')
          first = false
          args += expr()
        }
        postfixSubquery(Call(name, args.toList))
      } else {
        // selector, optionally [range] / [range:step], then any mix of
        // `offset <dur>` and `@ <unix-seconds>`
        val sel0 = selectorTail(Some(name))
        ws()
        val ranged: Option[(Long, Option[Long])] =
          if (tryEat('[')) Some(bracketRange()) else None
        var ofs = 0L
        var atMs: Option[Long] = None
        var more = true
        while (more) {
          if (tryWord("offset")) ofs = bareDuration()
          else if (tryEat('@')) {
            ws()
            // start()/end() resolve to the query range bounds at compile
            // time (sentinels here — the parser has no grid)
            if (tryWord("start")) { eat('('); eat(')'); atMs = Some(AtStart) }
            else if (tryWord("end")) { eat('('); eat(')'); atMs = Some(AtEnd) }
            else atMs = Some((number() * 1000).round)
          }
          else more = false
        }
        val sel = sel0.copy(offsetMs = ofs, atMs = atMs)
        ranged match {
          case Some((d, None))       => Range(sel, d)
          case Some((d, Some(step))) => Subquery(sel, d, step)
          case None                  => sel
        }
      }
    }

    /** `[dur]` or `[dur:step]` (subquery; empty step = outer grid step). */
    private def bracketRange(): (Long, Option[Long]) = {
      val d = bracketDurationUntil(Set(']', ':'))
      ws()
      if (tryEat(':')) {
        ws()
        val s = if (peek == ']') 0L else bracketDurationUntil(Set(']'))
        eat(']')
        (d, Some(s))
      } else { eat(']'); (d, None) }
    }
    private def bracketDurationUntil(stops: Set[Char]): Long = {
      ws(); val s = i
      while (i < in.length && !stops(in(i))) i += 1
      graft.lang.m3.Duration.parse(in.substring(s, i).trim)
        .getOrElse(throw PromParseError(s"bad duration '${in.substring(s, i)}'"))
    }

    private def followsWord(w: String): Boolean = {
      ws(); in.startsWith(w, i) && wordEndsAt(i + w.length)
    }

    private def labelList(): List[String] = {
      eat('(')
      val out = ListBuffer.empty[String]
      var first = true
      while (!tryEat(')')) {
        if (!first) eat(',')
        first = false
        out += ident()
      }
      out.toList
    }

    private def selectorTail(metric: Option[String]): Selector = {
      ws()
      val ms = ListBuffer.empty[(String, String, String)]
      if (tryEat('{')) {
        var first = true
        while (!tryEat('}')) {
          if (!first) eat(',')
          first = false
          val k = ident()
          ws()
          val op =
            if (in.startsWith("=~", i)) { i += 2; "=~" }
            else if (in.startsWith("!~", i)) { i += 2; "!~" }
            else if (in.startsWith("!=", i)) { i += 2; "!=" }
            else { eat('='); "=" }
          ms += ((k, op, quoted()))
        }
      }
      Selector(metric, ms.toList)
    }

    /** The whole input must be consumed — otherwise `sum without (mode) (m)`
      * would silently degrade to a selector for a metric named "sum" and
      * return wrong data instead of raising. */
    def parseAll(): Expr = {
      val e = expr()
      ws()
      if (i < in.length)
        throw PromParseError(s"unexpected trailing input at $i: '${in.substring(i)}' in: $in")
      e
    }
  }

  def parse(q: String): Expr = new P(q).parseAll()

  // ---- compiler ------------------------------------------------------------
  final class Compiler(spark: SparkSession, samples: DataFrame, grid: QueryGrid,
                       exactRate: Boolean = false,
                       lookbackDeltaMs: Long = 5 * 60 * 1000L,
                       promParity: Boolean = false) {
    private val S = TsSchema
    private val cmpOps = Set("==", "!=", ">=", "<=", ">", "<")

    /** Upstream-Prometheus parity mode (`promParity = true`): range windows
      * become LEFT-OPEN `(t-d, t]` (Prometheus 3.x range selectors — a
      * sample at exactly t-d is excluded) and range-window functions DROP
      * the metric name like shouldDropMetricName (all except
      * `last_over_time`, which does not rewrite the value). The default
      * keeps the reference engine's closed `[t-d, t]` windows and
      * name-keeping, which the conformance corpus and oracles mirror.
      * Selection is what opens: duration-based math (extrapolation range,
      * per-second divisors) stays on the full `d`, matching Prometheus's
      * own split between selection and extrapolation. Timestamps are
      * integer millis, so `(t-d, t]` is exactly the closed `[t-(d-1), t]`
      * — [[selD]] at every window-frame site. */
    private val selOff = if (promParity) 1L else 0L
    private def selD(d: Long): Long = math.max(d - selOff, 0L)
    /** shouldDropMetricName for the range-window family under parity mode. */
    private def parityDropsName(fn: String): Boolean = fn match {
      case "last_over_time" => false
      case "rate" | "increase" | "delta" | "irate" | "idelta" | "deriv" |
           "predict_linear" | "holt_winters" | "double_exponential_smoothing" |
           "quantile_over_time" | "mad_over_time" | "present_over_time" |
           "changes" | "resets" | "ts_of_last_over_time" |
           "ts_of_max_over_time" | "ts_of_min_over_time" => true
      case overTime(_) => true
      case _ => false
    }

    /** Strip the metric name and re-derive series identity — Prometheus's
      * shouldDropMetricName: an operation that rewrites the sample value
      * (scalar arithmetic, math/calendar functions, `bool` comparisons)
      * drops `__name__` from its result. */
    private def dropMetricName(df: DataFrame): DataFrame =
      df.withColumn(S.LabelsCol, map_filter(col(S.LabelsCol), (k, _) => k =!= "name"))
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))

    private def mapValue(df: DataFrame)(f: Column => Column): DataFrame =
      dropMetricName(df.withColumn(S.Value, f(col(S.Value))))

    /** Every selector in INSTANT position below `e` — i.e. not inside a
      * range selector `m[d]` (whose raw samples feed a window function: a
      * carry there would fabricate samples) and not inside a nested
      * subquery (which runs its own carry when evaluated). These are the
      * points where Prometheus's per-instant evaluation applies the
      * lookback-delta staleness carry before ANY surrounding computation —
      * arithmetic, filters, aggregations, vector matching. `@`-pinned
      * selectors are excluded: they evaluate to a constant on whatever grid
      * they're given, no carry needed. */
    private def instantSelectors(e: Expr): List[Selector] = e match {
      case s: Selector if s.atMs.isEmpty => List(s)
      case _: Selector                   => Nil
      case Range(_, _) | Subquery(_, _, _) => Nil
      case Call(_, args)      => args.flatMap(instantSelectors)
      case Agg(_, _, param, a, _) =>
        instantSelectors(a) ++ param.toList.flatMap(instantSelectors)
      case BinOp(_, l, r, _, _) => instantSelectors(l) ++ instantSelectors(r)
      case _ => Nil
    }

    /** When non-empty, [[eval]] reads THESE frames (by AST-node identity)
      * instead of building each selector's scan — how a subquery's computed
      * inner evaluates over pre-carried selector samples. Compiler instances
      * are per-query and single-threaded; rangeInput saves/restores around
      * nested evals. */
    private var selectorSubs: List[(Selector, DataFrame)] = Nil

    /** Like [[selectorSubs]] but for WHOLE range-function calls inside a
      * MIXED computed subquery inner: each call is pre-evaluated on the
      * subquery grid and its sample-instant emissions re-gridded onto the
      * step instants (ceiling bucket, newest per bucket, NO staleness
      * carry — range outputs never carry), so a carried selector and a
      * range-function output combine on the same instant set instead of
      * only where their emission sets coincide. */
    private var callSubs: List[(Call, DataFrame)] = Nil

    /** Topmost range-function calls below `e`: Call nodes consuming a
      * range selector or subquery argument. Does not descend INTO them
      * (substituting the whole call covers everything beneath) nor into
      * nested subqueries (their own rangeInput handles them when reached). */
    private def rangeCalls(e: Expr): List[Call] = e match {
      case c @ Call(_, args)
          if args.exists(a => a.isInstanceOf[Range] || a.isInstanceOf[Subquery]) =>
        List(c)
      case Call(_, args)        => args.flatMap(rangeCalls)
      case Agg(_, _, param, a, _) =>
        rangeCalls(a) ++ param.toList.flatMap(rangeCalls)
      case BinOp(_, l, r, _, _) => rangeCalls(l) ++ rangeCalls(r)
      case _                    => Nil
    }

    /** extra scan lookback needed below `e` (range selectors widen the scan).
      * A subquery with a staleness-carrying inner also widens by the
      * lookback delta: samples in `(start - d - delta, start - d]` carry
      * into the earliest subquery instants, so the scan must read them. */
    private def lookback(e: Expr): Long = e match {
      case Range(_, d)       => d
      case Subquery(inner, d, _) =>
        val carries = inner match {
          case _: Selector => true
          case e2          => instantSelectors(e2).nonEmpty
        }
        d + lookback(inner) + (if (carries) LookbackDeltaMs else 0L)
      case Call(_, args)     => if (args.isEmpty) 0L else args.map(lookback).max
      case Agg(_, _, _, a, _) => lookback(a)
      case BinOp(_, l, r, _, _) => math.max(lookback(l), lookback(r))
      case _                 => 0L
    }

    def compile(e: Expr): DataFrame = {
      // the scan-widening buffer is rounded UP to a step multiple so the
      // widened grid's instants stay congruent with the query grid — a
      // 90s range under a 60s step must not shift every gridDF-derived
      // frame (constVector, scalar frames, @-pinned stamps) off-grid
      val raw = lookback(e)
      val buf =
        if (raw == 0) 0L
        else ((raw + grid.stepMs - 1) / grid.stepMs) * grid.stepMs
      val out = eval(e, QueryGrid(grid.startMs - buf, grid.endMs, grid.stepMs))
      if (buf > 0) Temporal.truncate(out, grid) else out
    }

    /** Prometheus's instant-vector staleness window (--query.lookback-delta,
      * default 5m) — how far back `@ t` and subquery step instants look for
      * each series' latest sample. */
    private val LookbackDeltaMs = lookbackDeltaMs

    /** Resolve the `@` instant — `start()`/`end()` sentinels bind to the
      * ORIGINAL query range (not a lookback-widened scan grid). */
    private def resolveAt(at: Long): Long =
      if (at == AtStart) grid.startMs
      else if (at == AtEnd) grid.alignedEndMs
      else at

    private def selectorDF(s: Selector, g: QueryGrid): DataFrame = s.atMs match {
      case Some(at0) =>
        // `@ t`: the vector AS OF a fixed instant, constant across the grid —
        // latest sample per series in [t-lookback, t], stamped on every grid
        // point. The scan is a fixed absolute window: pruning still applies.
        val t = resolveAt(at0) - s.offsetMs
        val pinned = applyMatchers(s,
          samples.where(col(S.Ts) >= t - LookbackDeltaMs && col(S.Ts) <= t))
        pinned.groupBy(col(S.SeriesId))
          .agg(expr(s"max_by(${S.Value}, ${S.Ts})").as(S.Value),
            first(col(S.LabelsCol)).as(S.LabelsCol))
          .crossJoin(g.gridDF(spark))
          .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
      case None =>
        val filtered = applyMatchers(s, samples.where(
          col(S.Ts) >= g.startMs - s.offsetMs && col(S.Ts) <= g.endMs - s.offsetMs))
        if (s.offsetMs != 0) filtered.withColumn(S.Ts, col(S.Ts) + s.offsetMs)
        else filtered
    }

    /** Rollup-tier routing for aligned `*_over_time` windows: when a serving
      * rollup tier is registered ([[graft.streaming.Rollup.registerTier]])
      * and the window, step, origin and selector offset all align to its
      * bucket resolution, the trailing-window moments merge directly from
      * rollup rows — the scan reads the (at scale, far smaller) tier
      * instead of raw samples, and the decision is plan-time arithmetic.
      * Exact under the tier's serving-resolution precondition (≤ 1 sample
      * per bucket, stamped at the bucket start): the closed window
      * `[t-d, t]` then covers exactly the buckets `[t-d, t]`, emission
      * instants are the nonempty buckets — the raw path's sample rows —
      * and the decimal bucket sums re-merge bit-identically to the raw
      * path's decimal window sums (movingAgg uses the same DECIMAL(38,9)
      * accumulator). */
    private val RollupOverTime = Set("sum", "avg", "count", "min", "max", "last")

    /** The tier rows behind an aligned range selector `s[d]` over grid `g`:
      * the one plan-time alignment gate every rollup route shares (window,
      * step, origin and selector offset all multiples of the tier's bucket),
      * then the selector's matchers and its offset shift on `bucket_ts`.
      * None — fall back to raw — when no tier is registered for these
      * samples or anything misaligns. */
    private def rollupWindow(s: Selector, d: Long, g: QueryGrid): Option[DataFrame] =
      graft.streaming.Rollup.tierFor(spark, samples).collect {
        case (rolled, bucketMs) if d % bucketMs == 0 && g.stepMs % bucketMs == 0 &&
            Math.floorMod(g.startMs, bucketMs) == 0 && s.offsetMs % bucketMs == 0 =>
          val off = s.offsetMs
          val base = applyMatchers(s, rolled.where(
            col("bucket_ts") >= g.startMs - off - d &&
              col("bucket_ts") <= g.endMs - off))
          if (off != 0) base.withColumn("bucket_ts", col("bucket_ts") + off)
          else base
      }

    /** Rollup-tier routing for aligned COUNTER windows (`rate`/`increase`/
      * `delta`): under the tier's serving-resolution precondition (≤ 1
      * sample per bucket, stamped at the bucket start) every tier row IS
      * its bucket's sample — `rlast` the value, `bucket_ts` the timestamp —
      * so the counter math (reset segmentation, window-edge extrapolation)
      * runs UNCHANGED over the far smaller tier scan and is bit-identical
      * to the raw path. Gated by [[rollupWindow]]. */
    private def counterFromRollup(s: Selector, d: Long,
                                  g: QueryGrid): Option[DataFrame] =
      rollupWindow(s, d, g).map(_.select(col(S.SeriesId), col(S.LabelsCol),
        col("bucket_ts").as(S.Ts),
        col("rlast").cast(org.apache.spark.sql.types.DoubleType).as(S.Value)))

    /** The range input for a counter window function, preferring the rollup
      * tier when the argument is a plain aligned range selector. */
    private def counterInput(arg: Expr, g: QueryGrid): (DataFrame, Long) =
      (arg match {
        case Range(sel, d) if sel.atMs.isEmpty =>
          counterFromRollup(sel, d, g).map((_, d))
        case _ => None
      }).getOrElse(rangeInput(arg, g))
    private def overTimeFromRollup(s: Selector, d: Long, agg: String,
                                   g: QueryGrid): Option[DataFrame] =
      rollupWindow(s, d, g).map { shifted =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(S.SeriesId).orderBy(col("bucket_ts")).rangeBetween(-selD(d), 0)
        import org.apache.spark.sql.types.DoubleType
        val v = agg match {
          case "sum"   => sum(col("rsum")).over(w).cast(DoubleType)
          case "avg"   => sum(col("rsum")).over(w).cast(DoubleType) /
                            sum(col("rcount")).over(w)
          case "count" => sum(col("rcount")).over(w).cast(DoubleType)
          case "min"   => min(col("rmin")).over(w)
          case "max"   => max(col("rmax")).over(w)
          case "last"  => expr("max_by(rlast, rlast_ts)").over(w)
        }
        shifted.withColumn(S.Value, v)
          .select(col(S.SeriesId), col(S.LabelsCol),
            col("bucket_ts").as(S.Ts), col(S.Value))
      }

    private def applyMatchers(s: Selector, base: DataFrame): DataFrame = {
      val withMetric = s.metric match {
        case Some(m) => base.where(col(S.LabelsCol).getItem("name") === m)
        case None    => base
      }
      s.matchers.foldLeft(withMetric) { case (df, (k, op, v)) =>
        val tag = col(S.LabelsCol).getItem(k)
        val regex = op.endsWith("~")
        val hit = if (regex) tag.rlike(s"^(?:$v)$$") else tag === v
        // Prometheus reads a missing label as "": decided at plan time, so
        // a matcher that "" fails keeps its plain predicate
        val emptyMatches = if (regex) "".matches(s"^(?:$v)$$") else v.isEmpty
        df.where(if (op.startsWith("!")) {
          if (emptyMatches) tag.isNotNull && !hit else tag.isNull || !hit
        } else if (emptyMatches) tag.isNull || hit else hit)
      }
    }

    /** Fold scalar-only subtrees (literals and arithmetic over them) so
      * `2 ^ 3 * m` and `clamp(v, 0, 10 * 2)` work without a vector detour. */
    private def scalarOf(e: Expr): Option[Double] = e match {
      case ScalarLit(v) => Some(v)
      case BinOp(op, l, r, _, _) =>
        for (a <- scalarOf(l); b <- scalarOf(r)) yield op match {
          case "+" => a + b;  case "-" => a - b
          case "*" => a * b;  case "/" => a / b
          case "%" => a % b;  case "^" => math.pow(a, b)
          case "atan2" => math.atan2(a, b)
          case _   => throw PromParseError(s"scalar comparison not supported: $op")
        }
      case _ => None
    }
    /** Shared aggregation dispatch on a STATIC label-name grouping. */
    private def aggOn(op: String, in: DataFrame, by: Seq[String],
                      param: Option[Expr]): DataFrame = op match {
      case "sum"    => Grouping.sum(in, by)
      case "avg"    => Grouping.avg(in, by)
      case "min"    => Grouping.min(in, by)
      case "max"    => Grouping.max(in, by)
      case "count"  => Grouping.countAtTimestamp(in, by)
      case "stddev" => Grouping.stddevPop(in, by)
      case "stdvar" => Grouping.varPop(in, by)
      case "group"  => Grouping.groupConst(in, by)
      case "quantile" =>
        Grouping.percentileExact(in, requireScalar(param, "quantile φ"), by)
      case "topk" =>
        SeriesSet.topKAtTimestamp(in, requireScalar(param, "topk k").toInt, by)
      case "bottomk" =>
        SeriesSet.topKAtTimestamp(in, requireScalar(param, "bottomk k").toInt, by,
          bottom = true)
      case "count_values" =>
        Grouping.countValues(in, requireStr(param, "count_values label"), by)
      case "limitk" =>
        SeriesSet.limitKAtTimestamp(in, requireScalar(param, "limitk k").toInt, by)
      case "limit_ratio" =>
        SeriesSet.limitRatio(in, requireScalar(param, "limit_ratio r"))
    }

    /** `without (…)` grouping: the group identity is each series' FULL label
      * set minus the dropped labels and minus the metric name (Prometheus
      * aggregation hygiene). The key set is dynamic — it can't feed the
      * static `groupKeys` machinery — so the remaining map is canonicalized
      * (sorted-entry JSON) into ONE synthetic label that the static path
      * groups on, then unpacked back into real labels. Pure column
      * expressions end to end: the same one-shuffle aggregation plan as
      * `by`, just with a computed key. */
    private val WoKey = "__wo_group__"
    private def woCanonical(drop: Seq[String]): Column =
      to_json(map_from_entries(array_sort(map_entries(map_filter(
        col(S.LabelsCol), (k, _) => !k.isin(("name" +: drop).map(x => x: Any): _*))))))
    private def woPack(df: DataFrame, drop: Seq[String]): DataFrame =
      df.withColumn(S.LabelsCol, map(lit(WoKey), woCanonical(drop)))
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
    private def woUnpack(df: DataFrame): DataFrame =
      df.withColumn(S.LabelsCol,
          map_concat(
            from_json(col(S.LabelsCol).getItem(WoKey),
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.StringType)),
            map_filter(col(S.LabelsCol), (k, _) => k =!= WoKey)))
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
    private def woTag(df: DataFrame, drop: Seq[String]): DataFrame =
      df.withColumn(S.LabelsCol,
        map_concat(col(S.LabelsCol), map(lit(WoKey), woCanonical(drop))))
    private def woUntag(df: DataFrame): DataFrame =
      df.withColumn(S.LabelsCol, map_filter(col(S.LabelsCol), (k, _) => k =!= WoKey))
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))

    private def requireScalar(e: Option[Expr], what: String): Double =
      e.flatMap(scalarOf).getOrElse(throw PromParseError(s"expected scalar for $what"))

    /** A Prometheus SCALAR-typed subtree whose value varies per evaluation
      * step: either a closed-form column over the step timestamp (`time()`
      * and literal math over it) or a per-step frame `(timestamp, _sv)`
      * (`scalar(v)` and any arithmetic involving it). Binary ops broadcast
      * the frame onto the vector side with a timestamp equi-join — the
      * frame is one row per step, so the join never shuffles the vector. */
    private sealed trait DynScalar
    private final case class TsFn(f: Column => Column) extends DynScalar
    private final case class TsFrame(df: DataFrame) extends DynScalar

    /** Recognize dynamic-scalar subtrees. Pure-literal subtrees are NOT
      * matched (scalarOf folds those at plan time); comparison subtrees are
      * scalar-typed only with the `bool` modifier, as in Prometheus. */
    private def dynScalar(e: Expr, g: QueryGrid): Option[DynScalar] = e match {
      case Call("time", _) => Some(TsFn(ts => ts / 1000.0))
      case Call("scalar", args) =>
        val in = eval(args.headOption.getOrElse(
          throw PromParseError("expected scalar(v)")), g)
        // exactly one series at a step → its value, else NaN (Prometheus
        // scalar()); count(value) skips null rows (dense-frame "absent")
        val per = in.groupBy(col(S.Ts))
          .agg(count(col(S.Value)).as("_n"), max(col(S.Value)).as("_v"))
          .select(col(S.Ts),
            when(col("_n") === 1, col("_v")).otherwise(lit(Double.NaN)).as("_sv"))
        Some(TsFrame(per))
      case BinOp(op, l, r, boolMod, _)
          if (!cmpOps(op) || boolMod) && scalarOf(e).isEmpty &&
            op != "and" && op != "or" && op != "unless" =>
        val combine: (Column, Column) => Column =
          if (cmpOps(op)) (a, b) => when(ieeeCmp(op, a, b), 1.0).otherwise(0.0)
          else (a, b) => binCol(op, a, b)
        def side(x: Expr): Option[DynScalar] =
          scalarOf(x).map(v => TsFn(_ => lit(v)): DynScalar)
            .orElse(dynScalar(x, g))
        for (ls <- side(l); rs <- side(r)) yield combineDyn(ls, rs)(combine)
      case _ => None
    }

    /** Combine two scalar-typed sides — shared by [[dynScalar]]'s BinOp case
      * and [[eval]]'s scalar-to-scalar branches so each side's plan is built
      * exactly once per operator. */
    private def combineDyn(ls: DynScalar, rs: DynScalar)
                          (combine: (Column, Column) => Column): DynScalar =
      (ls, rs) match {
        case (TsFn(a), TsFn(b)) => TsFn(ts => combine(a(ts), b(ts)))
        case (TsFn(a), TsFrame(d)) =>
          TsFrame(d.select(col(S.Ts), combine(a(col(S.Ts)), col("_sv")).as("_sv")))
        case (TsFrame(d), TsFn(b)) =>
          TsFrame(d.select(col(S.Ts), combine(col("_sv"), b(col(S.Ts))).as("_sv")))
        case (TsFrame(a), TsFrame(b)) =>
          TsFrame(a.join(b.withColumnRenamed("_sv", "_sv2"), Seq(S.Ts))
            .select(col(S.Ts), combine(col("_sv"), col("_sv2")).as("_sv")))
      }

    /** A literal side folded to a constant, else its (already-built) dynamic
      * plan. */
    private def scalarSide(lit0: Option[Double],
                           dyn: Option[DynScalar]): Option[DynScalar] =
      lit0.map(v => TsFn((_: Column) => lit(v)): DynScalar).orElse(dyn)

    /** Attach a dynamic scalar to a vector frame; returns the augmented frame
      * and the per-row scalar column. A step with no scalar value (inner
      * vector empty there) reads NaN, like Prometheus. Callers must drop
      * `_sv` from the result when the source was a TsFrame. */
    private def withScalarCol(vec: DataFrame, s: DynScalar): (DataFrame, Column) =
      s match {
        case TsFn(f)     => (vec, f(col(S.Ts)))
        case TsFrame(df) => (vec.join(broadcast(df), Seq(S.Ts), "left"),
          coalesce(col("_sv"), lit(Double.NaN)))
      }

    private def applyDynArith(vec: DataFrame, s: DynScalar)
                             (f: (Column, Column) => Column): DataFrame = {
      val (aug, sv) = withScalarCol(vec, s)
      dropMetricName(aug.withColumn(S.Value, f(col(S.Value), sv)))
        .drop("_sv")
        .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    }

    /** Scalar-vector comparison: filters the VECTOR side (or rewrites to 0/1
      * with `bool`). `cond` is expected to carry [[ieeeCmp]] semantics. */
    private def applyDynCmp(vec: DataFrame, s: DynScalar,
                            cond: (Column, Column) => Column,
                            boolMod: Boolean): DataFrame = {
      val (aug, sv) = withScalarCol(vec, s)
      val ok = cond(col(S.Value), sv)
      val out =
        if (boolMod) dropMetricName(aug.withColumn(S.Value, when(ok, 1.0).otherwise(0.0)))
        else aug.where(ok)
      out.drop("_sv").select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    }

    /** A scalar-typed expression used in vector position (top level, or
      * `vector(s)`): a label-less series over the query grid. */
    private def scalarToVector(s: DynScalar, g: QueryGrid): DataFrame = s match {
      case TsFn(f) => constVector(g, f(col(S.Ts)))
      case TsFrame(df) =>
        constVector(g, lit(null).cast("double"))
          .drop(S.Value)
          .join(broadcast(df), Seq(S.Ts), "left")
          .withColumn(S.Value, coalesce(col("_sv"), lit(Double.NaN)))
          .drop("_sv")
          .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    }
    private def requireStr(e: Option[Expr], what: String): String = e match {
      case Some(StrLit(s)) => s
      case _ => throw PromParseError(s"expected string for $what")
    }

    private val overTime = "^(avg|min|max|sum|count|last|stddev|stdvar)_over_time$".r
    private val trigFns: Map[String, Column => Column] = Map(
      "sin" -> sin _, "cos" -> cos _, "tan" -> tan _,
      "asin" -> asin _, "acos" -> acos _, "atan" -> atan _,
      "sinh" -> sinh _, "cosh" -> cosh _, "tanh" -> tanh _,
      "asinh" -> asinh _, "acosh" -> acosh _, "atanh" -> atanh _,
      "deg" -> degrees _, "rad" -> radians _)
    /** Calendar functions interpret the VALUE as epoch seconds (UTC), matching
      * Prometheus (whose default argument is vector(time())). */
    private val timeFns: Map[String, Column => Column] = Map(
      "minute" -> (c => minute(timestamp_seconds(c)).cast("double")),
      "hour" -> (c => hour(timestamp_seconds(c)).cast("double")),
      // Prometheus: 0 = Sunday; Spark dayofweek: 1 = Sunday
      "day_of_week" -> (c => (dayofweek(timestamp_seconds(c)) - 1).cast("double")),
      "day_of_month" -> (c => dayofmonth(timestamp_seconds(c)).cast("double")),
      "day_of_year" -> (c => dayofyear(timestamp_seconds(c)).cast("double")),
      "days_in_month" -> (c => dayofmonth(last_day(timestamp_seconds(c))).cast("double")),
      "month" -> (c => month(timestamp_seconds(c)).cast("double")),
      "year" -> (c => year(timestamp_seconds(c)).cast("double")))

    private def eval(e: Expr, g: QueryGrid): DataFrame = e match {
      case s: Selector =>
        // a subquery's computed inner evaluates over PRE-CARRIED selector
        // frames (rangeInput) — reference identity pins the exact AST
        // nodes, so sibling selectors elsewhere in the query are untouched
        selectorSubs.collectFirst { case (s0, df) if s0 eq s => df }
          .getOrElse(selectorDF(s, g))
      case Range(s, _) => selectorDF(s, g)

      case Agg(op, by, param, a, wo) =>
        val in = eval(a, g)
        if (!wo) aggOn(op, in, by, param)
        else op match {
          // rank-style aggs keep the original series labels: the without-group
          // rides as ONE synthetic label the static grouping ranks on, then
          // is stripped (labels otherwise untouched — Prometheus topk keeps
          // the full label set of each surviving series)
          case "topk" | "bottomk" | "limitk" =>
            woUntag(aggOn(op, woTag(in, by), List(WoKey), param))
          case "limit_ratio" => aggOn(op, in, Nil, param)
          // reducing aggs: the group identity IS the remaining label set —
          // canonicalize it into the synthetic label, aggregate, unpack
          case _ => woUnpack(aggOn(op, woPack(in, by), List(WoKey), param))
        }

      // ---- comparisons: filter without `bool`, 0/1 vector with it ----------
      case BinOp(op, l, r, boolMod, m) if cmpOps(op) =>
        // each side's dynamic-scalar plan is built at most once — the guards
        // previously rebuilt (and discarded) the inner subplans per branch
        val (litL, litR) = (scalarOf(l), scalarOf(r))
        val dynL = if (litL.isEmpty) dynScalar(l, g) else None
        val dynR = if (litR.isEmpty) dynScalar(r, g) else None
        (litL, dynL, litR, dynR) match {
          case (Some(_), _, Some(_), _) =>
            throw PromParseError("scalar-to-scalar comparison needs bool and a vector context")
          case (Some(a), _, None, None) =>
            applyCmp(eval(r, g), c => ieeeCmp(op, lit(a), c), boolMod)
          case (None, None, Some(b), _) =>
            applyCmp(eval(l, g), c => ieeeCmp(op, c, lit(b)), boolMod)
          case (None, Some(ds), None, None) =>
            // scalar OP vector: the vector side is filtered/rewritten
            applyDynCmp(eval(r, g), ds, (vv, sv) => ieeeCmp(op, sv, vv), boolMod)
          case (None, None, None, Some(ds)) =>
            applyDynCmp(eval(l, g), ds, (vv, sv) => ieeeCmp(op, vv, sv), boolMod)
          case (None, None, None, None) =>
            val f: (Column, Column) => Column = (lv, rv) =>
              if (boolMod) when(ieeeCmp(op, lv, rv), 1.0).otherwise(0.0)
              else when(ieeeCmp(op, lv, rv), lv)
            // filter comparisons keep the metric name; `bool` rewrites the
            // value and therefore drops it (Prometheus shouldDropMetricName)
            val out = SeriesSet.promMatch(eval(l, g), eval(r, g),
              m.getOrElse(SeriesSet.DefaultMatching), dropName = boolMod)(f)
            if (boolMod) out else out.where(col(S.Value).isNotNull)
          case _ =>
            // both sides scalar-typed: literal-vs-dynamic or dynamic-vs-dynamic
            if (!boolMod)
              throw PromParseError("scalar-to-scalar comparison requires bool")
            scalarToVector(
              combineDyn(scalarSide(litL, dynL).get, scalarSide(litR, dynR).get)(
                (a, b) => when(ieeeCmp(op, a, b), 1.0).otherwise(0.0)), g)
        }

      // ---- set operators ---------------------------------------------------
      case BinOp("and", l, r, _, m)    => SeriesSet.vectorAnd(eval(l, g), eval(r, g), m)
      case BinOp("unless", l, r, _, m) => SeriesSet.vectorUnless(eval(l, g), eval(r, g), m)
      case BinOp("or", l, r, _, m)     => SeriesSet.vectorOr(eval(l, g), eval(r, g), m)

      // ---- arithmetic ------------------------------------------------------
      case BinOp(op, l, r, _, m) =>
        val (litL, litR) = (scalarOf(l), scalarOf(r))
        val dynL = if (litL.isEmpty) dynScalar(l, g) else None
        val dynR = if (litR.isEmpty) dynScalar(r, g) else None
        (litL, dynL, litR, dynR) match {
          case (Some(_), _, Some(_), _) =>
            throw PromParseError("bare scalar is not a vector expression")
          case (Some(a), _, None, None) =>
            mapValue(eval(r, g))(c => binCol(op, lit(a), c))
          case (None, None, Some(v), _) =>
            mapValue(eval(l, g))(c => binCol(op, c, lit(v)))
          case (None, Some(ds), None, None) =>
            // scalar OP vector — per-step scalar broadcast onto every
            // series; label treatment matches the literal-scalar path
            applyDynArith(eval(r, g), ds)((vv, sv) => binCol(op, sv, vv))
          case (None, None, None, Some(ds)) =>
            applyDynArith(eval(l, g), ds)((vv, sv) => binCol(op, vv, sv))
          case (None, None, None, None) =>
            // arithmetic always rewrites the value → metric name dropped;
            // `/` by 0 keeps the engine-wide NaN convention
            SeriesSet.promMatch(eval(l, g), eval(r, g),
              m.getOrElse(SeriesSet.DefaultMatching))((lv, rv) =>
              binCol(op, lv, rv))
          case _ =>
            // both sides scalar-typed: literal-vs-dynamic or dynamic-vs-dynamic
            scalarToVector(
              combineDyn(scalarSide(litL, dynL).get, scalarSide(litR, dynR).get)(
                (a, b) => binCol(op, a, b)), g)
        }

      case ScalarLit(_) | StrLit(_) =>
        throw PromParseError("bare scalar is not a vector expression")

      case sq: Subquery =>
        // a bare subquery result: the inner expression at step instants
        val (df, _) = rangeInput(sq, g)
        df

      // a range-function call inside a mixed computed subquery inner:
      // read its pre-evaluated, step-instant-re-gridded frame (node
      // identity — sibling calls elsewhere in the query are untouched)
      case c: Call if callSubs.exists(_._1 eq c) =>
        callSubs.collectFirst { case (c0, df) if c0 eq c => df }.get

      // `@` on a range argument — rate(m[5m] @ t), avg_over_time(m[1h:5m] @ t):
      // the whole call is evaluated once with the scan pinned to the fixed
      // window ending at t, then the value AT t (newest function output
      // within the instant-vector lookback, mirroring the instant-`@` path)
      // is stamped onto every grid point. The pinned scan is a fixed
      // absolute range, so partition pruning still applies.
      case Call(fn, args) if args.exists(a => rangeAt(a).isDefined) =>
        val t = resolveAt(
          args.collectFirst { case a if rangeAt(a).isDefined => rangeAt(a).get }.get)
        val stripped = Call(fn, args.map(stripRangeAt))
        val buf = lookback(stripped) + LookbackDeltaMs
        val pinned = eval(stripped, QueryGrid(t - buf, t + 1, g.stepMs))
        pinned
          .where(col(S.Ts) >= t - LookbackDeltaMs && col(S.Ts) <= t)
          .groupBy(col(S.SeriesId))
          .agg(expr(s"max_by(${S.Value}, ${S.Ts})").as(S.Value),
            first(col(S.LabelsCol)).as(S.LabelsCol))
          .crossJoin(g.gridDF(spark))
          .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)

      case Call(fn, args) =>
        // under promParity the range-window family drops the metric name
        // (shouldDropMetricName); the default keeps it — the documented
        // reference-parity divergence mirrored by the conformance oracles
        val callOut = fn match {
        case "rate" =>
          val (in, d) = counterInput(args.head, g)
          if (exactRate || promParity)
            // Prometheus-exact: the extrapolated counter increase per second
            // (promql extrapolatedRate) — opt-in via the exactRate flag, and
            // IMPLIED by promParity (one flag = full upstream semantics:
            // left-open windows + shouldDropMetricName + extrapolated rate,
            // oracle promql_parity_rate); the default keeps reference parity
            // (rate → PerSecondRateStage,
            // PromSourceBuilderVisitor.java:155-163)
            Temporal.extrapolatedRate(in, d, isCounter = true, selMs = selD(d))
              .withColumn(S.Value, col(S.Value) / lit(d / 1000.0))
          else
            Temporal.perSecondRate(in, selD(d))
        case "increase" =>
          // Prometheus-exact: counter delta with window-edge extrapolation
          // (the M3QL perSecondRate keeps the reference's smoothed semantics)
          val (in, d) = counterInput(args.head, g)
          Temporal.extrapolatedRate(in, d, isCounter = true, selMs = selD(d))
        case "irate" | "idelta" =>
          // last two samples, both inside the window (Prometheus needs two
          // points in [t-d, t]; a gap wider than d yields no output). irate
          // divides by elapsed seconds; a counter reset (v < prev) means the
          // counter restarted, so the increase since the reset is the raw
          // value (Prometheus instant rate, no extrapolation). idelta is
          // the raw difference.
          val (in, d) = rangeInput(args.head, g)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(S.SeriesId).orderBy(S.Ts)
          val base = in
            .withColumn("_pv", lag(S.Value, 1).over(w))
            .withColumn("_pt", lag(S.Ts, 1).over(w))
            .where(col("_pt").isNotNull && col(S.Ts) - col("_pt") <= selD(d))
          val out =
            if (fn == "irate")
              base.withColumn(S.Value,
                when(col(S.Value) >= col("_pv"), col(S.Value) - col("_pv"))
                  .otherwise(col(S.Value)) /
                  ((col(S.Ts) - col("_pt")) / lit(1000.0)))
            else base.withColumn(S.Value, col(S.Value) - col("_pv"))
          out.drop("_pv", "_pt")
        case "delta" =>
          // gauge difference over the window, Prometheus-extrapolated
          val (in, d) = counterInput(args.head, g)
          Temporal.extrapolatedRate(in, d, isCounter = false, selMs = selD(d))
        case "deriv" =>
          val (in, d) = rangeInput(args.head, g)
          Temporal.linearFit(in, selD(d), None)
        case "predict_linear" =>
          val (in, d) = rangeInput(args.head, g)
          Temporal.linearFit(in, selD(d),
            Some(requireScalar(args.lift(1), "predict_linear t")))
        // double_exponential_smoothing is the Prometheus 3.x name for the
        // (now experimental) holt_winters — same math, both accepted
        case "holt_winters" | "double_exponential_smoothing" =>
          val (in, d) = rangeInput(args.head, g)
          Temporal.holtWinters(in, selD(d),
            requireScalar(args.lift(1), s"$fn sf"),
            requireScalar(args.lift(2), s"$fn tf"))
        case "quantile_over_time" =>
          // φ comes FIRST: quantile_over_time(φ, m[d])
          val (in, d) = rangeInput(args.lift(1).getOrElse(
            throw PromParseError("expected quantile_over_time(φ, m[d])")), g)
          val phi = requireScalar(args.headOption, "quantile_over_time φ")
          val frame = org.apache.spark.sql.expressions.Window
            .partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-selD(d), 0)
          in.withColumn(S.Value,
            expr(s"percentile(${S.Value}, $phi)").over(frame))
        case overTime(sub) =>
          val routed = args.head match {
            case Range(sel, d) if sel.atMs.isEmpty && RollupOverTime(sub) =>
              overTimeFromRollup(sel, d, sub, g)
            case _ => None
          }
          routed.getOrElse {
            val (in, d) = rangeInput(args.head, g)
            // Prometheus stddev/stdvar_over_time are POPULATION moments
            val fn = sub match {
              case "stddev" => "stddev_pop"
              case "stdvar" => "var_pop"
              case f        => f
            }
            Temporal.movingInclusive(in, selD(d), fn)
          }
        case "ts_of_last_over_time" | "ts_of_max_over_time" | "ts_of_min_over_time" =>
          // Prometheus 3.5 experimental: the timestamp (epoch seconds) of the
          // last/largest/smallest sample in the trailing window. max_by/min_by
          // window aggregates; ties on value resolve to the latest timestamp
          // like Prometheus (scan order there, max ts here for determinism).
          val (in, d) = rangeInput(args.head, g)
          val frame = org.apache.spark.sql.expressions.Window
            .partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-selD(d), 0)
          // NaN samples must never win max/min (Prometheus comparison
          // semantics; Spark's struct ordering would rank NaN above every
          // number) — NULL-out their ordering key so max_by/min_by skip
          // them, and fall back to the latest sample's ts when the whole
          // window is NaN.
          val nanSafeKey = (tsExpr: String) =>
            s"if(isnan(${S.Value}), null, struct(${S.Value}, $tsExpr))"
          val tsOf = fn match {
            case "ts_of_last_over_time" => max(col(S.Ts)).over(frame)
            case "ts_of_max_over_time" =>
              coalesce(
                expr(s"max_by(${S.Ts}, ${nanSafeKey(S.Ts)})").over(frame),
                max(col(S.Ts)).over(frame))
            case _ =>
              // min_by on (value, -ts): smallest value, latest ts among ties
              coalesce(
                expr(s"min_by(${S.Ts}, ${nanSafeKey(s"-${S.Ts}")})").over(frame),
                max(col(S.Ts)).over(frame))
          }
          in.withColumn(S.Value, tsOf / lit(1000.0))
        case "mad_over_time" =>
          // median absolute deviation over the trailing window: the window's
          // samples are gathered once (collect_list, bounded by the window
          // sample count) and both medians fold over the array — no UDF.
          // Median of an even count is the midpoint, matching Prometheus's
          // linear-interpolated q=0.5.
          val (in, d) = rangeInput(args.head, g)
          val frame = org.apache.spark.sql.expressions.Window
            .partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-selD(d), 0)
          def medianOf(a: Column): Column = {
            val s = array_sort(a)
            val n = size(a)
            def at(i: Column) = element_at(s, i.cast(org.apache.spark.sql.types.IntegerType))
            // the n==0 guard must live INSIDE the expression: the row filter
            // below sits above the window projection, so an all-NaN window
            // would otherwise evaluate element_at(s, 0) and abort the query
            when(n === 0, lit(null).cast("double"))
              .when(n % 2 === 1, at((n + 1) / 2))
              .otherwise((at(n / 2) + at(n / 2 + 1)) / 2.0)
          }
          in.withColumn("_arr",
              filter(collect_list(col(S.Value)).over(frame), v => !isnan(v)))
            .withColumn("_med", medianOf(col("_arr")))
            .withColumn(S.Value,
              medianOf(transform(col("_arr"), v => abs(v - col("_med")))))
            .where(size(col("_arr")) > 0)
            .drop("_arr", "_med")
        case "present_over_time" =>
          val (in, d) = rangeInput(args.head, g)
          val dense = GridOps.densify(in, g)
          val frame = org.apache.spark.sql.expressions.Window
            .partitionBy(S.SeriesId).orderBy(S.Ts).rangeBetween(-selD(d), 0)
          dense.withColumn("_n", count(S.Value).over(frame))
            .where(col("_n") > 0)
            .withColumn(S.Value, lit(1.0))
            .drop("_n")
        case "absent" =>
          absentDF(one(args, g), args.head, g, None)
        case "absent_over_time" =>
          // accepts a subquery argument like Prometheus: the inner is
          // evaluated per instant (with selector carry) and absence is
          // judged over the produced instants; label synthesis falls back
          // to the inner's selector when it has one
          val (in, d) = rangeInput(args.head, g)
          absentDF(in, args.head match {
            case Range(s, _)           => s
            case Subquery(inner, _, _) => inner
            case other                 => other
          }, g, Some(selD(d)))
        case "vector" =>
          args.headOption.flatMap(scalarOf) match {
            case Some(v) => constVector(g, lit(v))
            case None => // vector(scalar(v)), vector(time()), math over them
              val ds = args.headOption.flatMap(dynScalar(_, g))
                .getOrElse(throw PromParseError("expected scalar for vector(s)"))
              scalarToVector(ds, g)
          }
        case "scalar" =>
          // scalar(v) in vector position: a label-less per-step series
          scalarToVector(dynScalar(e, g).get, g)
        case "time" =>
          constVector(g, col(S.Ts) / 1000.0)
        case "abs"   => mapValue(one(args, g))(abs)
        case "ceil"  => mapValue(one(args, g))(ceil(_).cast("double"))
        case "floor" => mapValue(one(args, g))(floor(_).cast("double"))
        case "exp"   => mapValue(one(args, g))(exp)
        case "ln"    => mapValue(one(args, g))(c => log(c))
        case "log2"  => mapValue(one(args, g))(c => log(2.0, c))
        case "log10" => mapValue(one(args, g))(log10)
        case "sqrt"  => mapValue(one(args, g))(sqrt)
        case "sgn"   => mapValue(one(args, g))(signum)
        case "round" =>
          val nearest = args.lift(1).flatMap(scalarOf).getOrElse(1.0)
          if (nearest == 1.0) mapValue(one(args, g))(round(_, 0).cast("double"))
          else mapValue(one(args, g))(c => round(c / nearest, 0) * nearest)
        case "clamp" =>
          val lo = requireScalar(args.lift(1), "clamp min")
          val hi = requireScalar(args.lift(2), "clamp max")
          mapValue(one(args, g))(c => least(greatest(c, lit(lo)), lit(hi)))
        case "clamp_min" =>
          mapValue(one(args, g))(c => greatest(c, lit(requireScalar(args.lift(1), "clamp_min"))))
        case "clamp_max" =>
          mapValue(one(args, g))(c => least(c, lit(requireScalar(args.lift(1), "clamp_max"))))
        case t if trigFns.contains(t) => mapValue(one(args, g))(trigFns(t))
        case t if timeFns.contains(t) => mapValue(one(args, g))(timeFns(t))
        case "sort"      => SeriesSet.sortSeries(one(args, g), "current", desc = false)
        case "sort_desc" => SeriesSet.sortSeries(one(args, g), "current", desc = true)
        case "sort_by_label" | "sort_by_label_desc" =>
          val lbls = args.tail.map {
            case StrLit(s2) => s2
            case _          => throw PromParseError(s"$fn expects label name strings")
          }
          if (lbls.isEmpty) throw PromParseError(s"$fn needs at least one label")
          SeriesSet.sortByLabel(one(args, g), lbls, desc = fn.endsWith("_desc"))
        case "timestamp" => mapValue(one(args, g))(_ => col(S.Ts) / 1000.0)
        case "histogram_quantile" =>
          Grouping.histogramQuantile(eval(args(1), g),
            requireScalar(args.headOption, "histogram_quantile φ"))
        case "changes" =>
          // sample-to-sample pairs INSIDE the window only (promql changes);
          // Spark NaN equality (NaN = NaN) matches Prometheus's both-NaN =
          // unchanged special case
          val (in, d) = rangeInput(args.head, g)
          Temporal.pairCount(in, selD(d))((v, p) => v =!= p)
        case "resets" =>
          // a reset whose pair straddles the window start does not count
          // (promql resets: both samples must be inside [t-d, t])
          val (in, d) = rangeInput(args.head, g)
          Temporal.pairCount(in, selD(d))((v, p) => v < p)
        case "label_replace" =>
          val in = one(args, g)
          val dst = requireStr(args.lift(1), "label_replace dst")
          val repl = requireStr(args.lift(2), "label_replace replacement")
          val src = requireStr(args.lift(3), "label_replace src")
          val re = requireStr(args.lift(4), "label_replace regex")
          val anchored = s"^(?:$re)$$"
          val sv = coalesce(col(S.LabelsCol).getItem(src), lit(""))
          val newV = regexp_replace(sv, anchored, repl)
          val newLabels = when(sv.rlike(anchored),
              when(newV === "", map_filter(col(S.LabelsCol), (k, _) => k =!= dst))
                .otherwise(map_concat(
                  map_filter(col(S.LabelsCol), (k, _) => k =!= dst),
                  map(lit(dst), newV))))
            .otherwise(col(S.LabelsCol))
          in.withColumn(S.LabelsCol, newLabels)
            .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
        case "label_join" =>
          val in = one(args, g)
          val dst = requireStr(args.lift(1), "label_join dst")
          val sep = requireStr(args.lift(2), "label_join sep")
          val srcs = args.drop(3).map(a => requireStr(Some(a), "label_join src"))
          val joinedV = concat_ws(sep,
            srcs.map(sName => coalesce(col(S.LabelsCol).getItem(sName), lit(""))): _*)
          in.withColumn(S.LabelsCol, map_concat(
              map_filter(col(S.LabelsCol), (k, _) => k =!= dst),
              map(lit(dst), joinedV)))
            .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
        case other =>
          throw new UnsupportedOperationException(s"PromQL function not implemented: $other")
      }
        if (promParity && parityDropsName(fn)) dropMetricName(callOut) else callOut
    }

    private def applyCmp(df: DataFrame, cond: Column => Column, boolMod: Boolean): DataFrame =
      if (boolMod)
        dropMetricName(df.withColumn(S.Value, when(cond(col(S.Value)), 1.0).otherwise(0.0)))
      else df.where(cond(col(S.Value)))

    private def cmpCol(op: String, l: Column, r: Column): Column = op match {
      case "==" => l === r
      case "!=" => l =!= r
      case ">=" => l >= r
      case "<=" => l <= r
      case ">"  => l > r
      case "<"  => l < r
    }

    /** Comparison with IEEE NaN semantics (Prometheus): every comparison
      * against NaN is false EXCEPT `!=`, which is true. Spark's own ordering
      * treats NaN as the largest double and NaN == NaN as true — wrong
      * here, so every PromQL comparison path routes through this. */
    private def ieeeCmp(op: String, l: Column, r: Column): Column = {
      val anyNaN = isnan(l) || isnan(r)
      if (op == "!=") anyNaN || (l =!= r)
      else !anyNaN && cmpCol(op, l, r)
    }

    private def binCol(op: String, l: Column, r: Column): Column = op match {
      case "+"     => l + r
      case "-"     => l - r
      case "*"     => l * r
      // engine-wide NaN-on-zero-divisor convention (SeriesSet.divide); Spark's
      // non-ANSI Divide/Remainder would return NULL and silently drop the point
      case "/"     => when(r === 0.0, lit(Double.NaN)).otherwise(l / r)
      case "%"     => when(r === 0.0, lit(Double.NaN)).otherwise(l % r)
      case "^"     => pow(l, r)
      case "atan2" => atan2(l, r)
    }

    /** A labels-from-equality-matchers constant-1 vector on the grid points
      * where the input vector is empty — Prometheus `absent` / the
      * `absent_over_time` variant with a trailing presence window. */
    private def absentDF(in: DataFrame, arg: Expr, g: QueryGrid,
                         windowMs: Option[Long]): DataFrame = {
      val eqLabels: Seq[(String, String)] = arg match {
        case Selector(m, ms, _, _) =>
          m.map("name" -> _).toSeq ++ ms.collect { case (k, "=", v) => (k, v) }
        case Range(Selector(m, ms, _, _), _) =>
          m.map("name" -> _).toSeq ++ ms.collect { case (k, "=", v) => (k, v) }
        case _ => Nil
      }
      val labelCol =
        if (eqLabels.isEmpty)
          map().cast(org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType, valueContainsNull = false))
        else map(eqLabels.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val gridTs = g.gridDF(spark)
      val present = in.select(col(S.Ts)).distinct()
      val marked = windowMs match {
        case None =>
          gridTs.join(present, Seq(S.Ts), "left_anti")
        case Some(w) =>
          // absent at t iff no presence ts anywhere in [t-w, t]. Bucketed
          // ANTI range-join: at bucket width w a presence ts can only cover
          // grid instants in its own floor-bucket or the next one, so each
          // presence row probes exactly 2 equi-buckets with the range check
          // as a residual predicate — a distributed hash join, not the old
          // single-partition Window.orderBy over grid ∪ presence (which put
          // a year-at-10s grid on one core).
          val bw = math.max(w, 1L)
          def b(c: Column) = floor(c / lit(bw.toDouble)).cast("long")
          val pb = present.select(col(S.Ts).as("_pts")).withColumn("_pb", b(col("_pts")))
          val pexp = pb.unionByName(pb.withColumn("_pb", col("_pb") + lit(1L)))
          gridTs.withColumn("_gb", b(col(S.Ts)))
            .join(pexp,
              col("_gb") === col("_pb") &&
                col("_pts") >= col(S.Ts) - w && col("_pts") <= col(S.Ts),
              "left_anti")
            .select(col(S.Ts))
      }
      marked
        .withColumn(S.Value, lit(1.0))
        .withColumn(S.LabelsCol, labelCol)
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
        .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)
    }

    /** Label-less constant vector over the query grid (`vector(s)`, `time()`). */
    private def constVector(g: QueryGrid, v: Column): DataFrame =
      g.gridDF(spark)
        .withColumn(S.Value, v)
        .withColumn(S.LabelsCol, map().cast(org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType, valueContainsNull = false)))
        .withColumn(S.SeriesId, TsSchema.seriesId(col(S.LabelsCol)))
        .select(S.SeriesId, S.LabelsCol, S.Ts, S.Value)

    /** The fixed instant of a range-vector argument carrying `@` (`m[d] @ t`,
      * `m[d:s] @ t`), if any. */
    private def rangeAt(e: Expr): Option[Long] = e match {
      case Range(s, _)                   => s.atMs
      case Subquery(s: Selector, _, _)   => s.atMs
      case _                             => None
    }
    private def stripRangeAt(e: Expr): Expr = e match {
      case Range(s, d)                   => Range(s.copy(atMs = None), d)
      case Subquery(s: Selector, d, st)  => Subquery(s.copy(atMs = None), d, st)
      case other                         => other
    }

    private def one(args: List[Expr], g: QueryGrid): DataFrame = eval(args.head, g)

    /** Range-vector input for window functions: a plain range selector, or a
      * subquery whose inner expression is re-gridded onto the subquery step
      * (last sample per step instant — Prometheus's step-instant evaluation
      * with lookback). */
    private def rangeInput(arg: Expr, g: QueryGrid): (DataFrame, Long) = arg match {
      case Range(s, d) => (selectorDF(s, g), d)
      case Subquery(inner, d, step) =>
        val stepMs = if (step <= 0) grid.stepMs else step
        // Prometheus evaluates the inner expression AT each step instant.
        // A plain selector reads its raw samples once and re-grids with the
        // lookback-delta staleness carry. A computed inner is re-evaluated
        // on the subquery's own epoch-aligned instant grid with every
        // INSTANT-position selector below it replaced by its carried frame
        // — carry-then-transform, exactly Prometheus's order: arithmetic,
        // filters (a fresh failing sample masks the older passing one),
        // aggregations and vector matching all see the carried values.
        // Range-selector inputs (rate windows) keep raw samples, and
        // range-function OUTPUTS never carry — an empty window yields
        // nothing, matching Prometheus. A MIXED inner (carried selector +
        // range-function output) pre-evaluates each range call and
        // re-grids its sample-instant emissions onto the step instants
        // (ceiling bucket, newest per bucket, no carry — the same rule a
        // pure range-function inner gets), so both sides combine on the
        // subquery instant set regardless of where the samples fall.
        def gSub = QueryGrid(
          Math.floorDiv(g.startMs, stepMs) * stepMs, g.endMs, stepMs)
        inner match {
          case _: Selector =>
            (resample(eval(inner, g), stepMs, g, carry = true), d)
          case _ =>
            val sels = instantSelectors(inner)
            if (sels.isEmpty)
              (resample(eval(inner, gSub), stepMs, g, carry = false), d)
            else {
              val subs = sels.map(s =>
                s -> resample(eval(s, g), stepMs, g, carry = true))
              val saved = selectorSubs
              selectorSubs = subs ++ saved
              try {
                // pre-evaluate each range-function call WITH the selector
                // carries active (a dynamic-scalar arg inside the call
                // still reads carried frames), then re-grid its output
                val csubs = rangeCalls(inner).map(c =>
                  c -> resample(eval(c, gSub), stepMs, g, carry = false))
                val savedC = callSubs
                callSubs = csubs ++ savedC
                try (eval(inner, gSub), d)
                finally callSubs = savedC
              } finally selectorSubs = saved
            }
        }
      case _ => throw PromParseError("expected range selector m[d] or subquery expr[d:s]")
    }

    /** Newest value at-or-before each (series, step instant), instants
      * aligned to absolute epoch multiples of the step like Prometheus
      * subquery evaluation: a sample at ts is visible from the FIRST step
      * instant >= ts (ceiling bucket), so no instant ever reads the future.
      *
      * With `carry` (plain-selector inners), each instant reads the newest
      * sample inside the left-open staleness window `(t - lookback, t]` —
      * Prometheus's lookback-delta semantics: the instant grid is densified
      * per series and the last sample carries forward while it stays inside
      * the window. Without it (computed inners), visibility stays
      * step-bounded: exactly the instants whose bucket produced a value. */
    private def resample(df: DataFrame, stepMs: Long, g: QueryGrid,
                         carry: Boolean): DataFrame = {
      val bucketed = df
        .withColumn("_b",
          floor((col(S.Ts) + lit(stepMs - 1)) / lit(stepMs.toDouble)).cast("long") * stepMs)
        .groupBy(col(S.SeriesId), col("_b"))
        .agg(expr(s"max_by(${S.Value}, ${S.Ts})").as(S.Value),
          max(col(S.Ts)).as("_sts"),
          first(col(S.LabelsCol)).as(S.LabelsCol))
      if (!carry)
        bucketed.select(col(S.SeriesId), col(S.LabelsCol), col("_b").as(S.Ts), col(S.Value))
      else {
        // per-series instant span: first sample bucket → last bucket still
        // inside the carry horizon, capped at the scan grid's end instant.
        // Bucket order equals sample order (bucketing is monotone), so a
        // bounded per-series window + the exact sample-ts guard implement
        // the staleness window; everything is per-series — no global sort.
        val capInstant = ((g.alignedEndMs + stepMs - 1) / stepMs) * stepMs
        val span = bucketed.groupBy(col(S.SeriesId))
          .agg(first(col(S.LabelsCol)).as(S.LabelsCol),
            min(col("_b")).as("_lo"), max(col("_b")).as("_hi"))
          .select(col(S.SeriesId), col(S.LabelsCol),
            explode(sequence(col("_lo"),
              least(col("_hi") + lit(LookbackDeltaMs), lit(capInstant)),
              lit(stepMs))).as("_b"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(S.SeriesId).orderBy(col("_b"))
          .rangeBetween(-LookbackDeltaMs, 0)
        span
          .join(bucketed.select(col(S.SeriesId), col("_b"), col(S.Value), col("_sts")),
            Seq(S.SeriesId, "_b"), "left")
          .withColumn("_cv", last(col(S.Value), ignoreNulls = true).over(w))
          .withColumn("_cts", last(col("_sts"), ignoreNulls = true).over(w))
          .where(col("_cts").isNotNull &&
            (col("_b") - col("_cts")) < lit(LookbackDeltaMs))
          .select(col(S.SeriesId), col(S.LabelsCol), col("_b").as(S.Ts),
            col("_cv").as(S.Value))
      }
    }
  }

  def query(spark: SparkSession, samples: DataFrame, grid: QueryGrid, q: String,
            exactRate: Boolean = false,
            lookbackDeltaMs: Long = 5 * 60 * 1000L,
            promParity: Boolean = false): DataFrame =
    new Compiler(spark, samples, grid, exactRate, lookbackDeltaMs, promParity)
      .compile(parse(q))

  /** `query_range` entry point mirroring the reference REST surface: date-math
    * start/end and step resolve to the evaluation grid
    * (ref: query/rest/RestPromQLAction.java:150-158 via serve.QueryParams). */
  def query(spark: SparkSession, samples: DataFrame, params: graft.serve.QueryParams,
            nowMs: Long): DataFrame =
    query(spark, samples, params.grid(nowMs), params.query)

  /** Instant query: a single-point grid at the evaluation time
    * (ref: RestPromQLAction.java:103-104 — instant = range with one step). */
  def instant(spark: SparkSession, samples: DataFrame, q: String, time: String = "now",
              nowMs: Long = System.currentTimeMillis()): DataFrame =
    query(spark, samples, graft.serve.QueryParams.instant(q, time, nowMs), q)
}
