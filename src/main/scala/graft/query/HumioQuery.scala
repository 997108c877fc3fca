package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => SqlWindow}
import org.apache.spark.sql.functions._
import graft.expressions.{CharEntropy, JsonStrField}
import graft.functions.Det.detRound4

/** A compact Humio/LogScale-style pipe-query compiler — the query surface
  * the reference connector feeds (cses2humio README.md:5-8 delegates all
  * search to Humio's language). Queries compile to DataFrame plans, so
  * Catalyst owns optimization (filters compiled here push down to the
  * scan like hand-written ones).
  *
  * Grammar (pragmatic subset):
  * {{{
  *   query     := stage ('|' stage)*
  *   stage     := filter | regex | search | extract | parseJson | assign |
  *                eval | caseBlk | regexEx | groupBy | top | sort | head |
  *                select | timechart
  *   filter    := field op value (op ∈ =, !=, >, >=, <, <=; '*' wildcard in =/!= values)
  *   regex     := field = /pattern/          — RLIKE partial match
  *                (field != /pattern/ negates; NULL passes neither)
  *   regexEx   := regex(/pat/, field=f)      — named-capture groups become
  *                columns; non-matching events are DROPPED (LogScale regex)
  *   search    := search(text)               — substring over every string column
  *   extract   := extract(jsonField, key)    — promote $.key to a column named key
  *   parseJson := parseJson(jsonField, k1, k2, …) — promote several keys
  *                (absent keys become NULL columns)
  *   assign    := field := expr              — computed field (LogScale `:=`);
  *                expr is + - * / % arithmetic over fields/literals with
  *                parens and scalar fns: length lower upper abs floor
  *                ceil sqrt exp ln pow concat coalesce, plus
  *                if(cond, then=a, else=b) — cond supports == != < <= >
  *                >= comparisons, and/or, parenthesized groups, and bare
  *                truthiness (value = "true"); string predicates
  *                startsWith/endsWith/contains/wildcard return
  *                "true"/"false"
  *   eval      := eval(field = expr)         — function form of assign
  *   caseBlk   := case { cond | f := v [| g := w …] ; … [; * | …] }
  *                — first matching arm runs its assignments (sequential
  *                within the arm); events matching NO arm are DROPPED
  *                unless a `*` catch-all arm exists (LogScale case).
  *                Fields an arm doesn't assign surface NULL
  *   groupBy   := groupBy(field[, function=agg | function=[agg, agg, …]])
  *                agg ∈ count()|sum(f)|avg(f)|min(f)|max(f)|range(f)|
  *                stdDev(f)|percentile(f, p); list form names results
  *                _count / _sum_f / _avg_f / _min_f / _max_f / _range_f /
  *                _stddev_f / _p<p>_f
  *   top       := top(field[, limit=n][, sum=f][, percent=true]
  *                [, rest=label]) — most frequent values (or largest
  *                sum(f) with sum=), desc with value tie-break (default
  *                limit 10); percent=true adds the pre-limit count
  *                share as _percent; rest=label appends one remainder
  *                row folding everything beyond the top n
  *   sort      := sort(field[, order=asc|desc][, limit=n])
  *   head      := head(n)
  *   tail      := tail(n)                     — n most recent by ts
  *   select    := select(f1, f2, …)           (fields(…) is an alias)
  *   drop      := drop(f1, f2, …)
  *   rename    := rename(field=old, as=new)
  *   in        := in(field, values=[v1, v2*, …]) — OR'd equality/wildcard
  *   cidr      := cidr(field, subnet="a.b.c.d/n") — IPv4 prefix filter
  *   replace   := replace(/regex/, with=repl, field=f[, as=g])
  *   format    := format("%s:%d", field=[a, b], as=out)
  *   default   := default(field=f, value=v)  — fill NULL / create missing
  *   agg       := count([f][, distinct=true][, as=n]) | sum(f[, as=n]) |
  *                avg | min | max — standalone one-row aggregate
  *   collect   := collect(field[, limit=n][, as=out]) — distinct values
  *                gathered into one space-joined field (sorted for
  *                determinism; limit caps after the sort)
  *   pctile    := percentile(field, percentiles=[50, 90, 99]) → _50 _90 _99
  *   join      := join({subquery}, field=f[, key=k][, include=[c1, …]])
  *                — inner join vs the subquery over the same input;
  *                subquery side broadcast
  *   session   := session(field=k[, maxpause=30m]) — per-key `_session`
  *                index (gap > maxpause starts a new session)
  *   match     := match(table, field=f[, column=c][, include=[…]]
  *                [, strict=false]) — enrich against a dimension table
  *                (broadcast); strict drops non-matching events, else
  *                left join. `lookup` is an alias.
  *   dedup     := dedup(f1, …[, limit=n]) — keep the n most recent
  *                events (by ts, event_id tie-break) per key combination
  *   selfJoin  := selfJoinFilter(field=k, where=f, having=[v1, …]) —
  *                keep keys having every listed value (agg + semi join)
  *   sample    := sample(percent[, by=f]) — deterministic md5-bucket
  *                sampling (replayable, unlike LogScale's random)
  *   fmtTime   := formatTime("%Y-%m-%d", field=f[, as=out]) — strftime
  *                subset (%Y %m %d %H %M %S %j), plan-time translation
  *   parseTime := parseTimestamp("%Y-%m-%d", field=f[, as=out]) — the
  *                strptime inverse; non-matching strings → NULL
  *   rate      := counterAsRate(field[, by=k][, as=out]) — Δcounter/Δsec
  *                per series; NULL on first event, resets, zero Δt
  *   transpose := transpose(header=f[, columns=[v1, …]]) — pivot the
  *                bounded result table, one column per header value
  *   window    := window(field=f[, function=avg|sum|min|max]
  *                [, buckets=n][, by=k][, as=out]) — moving aggregate
  *                over the last n buckets, per series with by=
  *   timechart := timechart(span=<n><s|m|h|d>[, function=…])   — buckets _bucket_ms
  *   bucket    := bucket(span=…[, function=…])                 — buckets _bucket
  *   splitStr  := splitString(field=f, by=/regex/[, as=out]) — tokenize a
  *                string field into an array column
  *   split     := split(field) — fan one event out per array element;
  *                the element replaces the field, origin index in _index
  *   parseCsv  := parseCsv(field, columns=[c1, c2, …]) — promote
  *                comma-separated values to named string columns
  *   accum     := accumulate(field=f[, function=sum|count|min|max|avg]
  *                [, by=k][, as=out]) — running aggregate over the event
  *                sequence in (ts, event_id) order (LogScale sequence
  *                function family); streams with by= + LONG values
  *                (keyed O(1) state, live emission)
  *   slidingWin:= slidingWindow(field=f, events=n[, function=…][, by=k]
  *                [, as=out]) — moving aggregate over the last n EVENTS
  *                (window() smooths the last n BUCKETS; this one rides
  *                the raw sequence); streams with by= (ring state)
  *   neighbor  := neighbor(field[, distance=n][, by=k][, as=out]) — copy
  *                the field's value from the event `distance` back in
  *                sequence order (NULL when absent); streams with by=
  *                (lag-ring state)
  *   slidingTW := slidingTimeWindow(field=f, span=<n><s|m|h|d>
  *                [, function=…][, by=k][, as=out]) — moving aggregate
  *                over the trailing time SPAN ending at each event
  *                (slidingWindow counts EVENTS; this one counts time);
  *                batch stage
  *   partition := partition(field=f[, by=k][, as=out]) — 1-based
  *                sub-sequence index, incremented whenever f's value
  *                CHANGES from the previous event in sequence order
  *                (LogScale partition(split=change(f))); streams with
  *                by= (last-value state)
  *   bitfield  := bitfield(field=f, flags=[a, b, …]) — promote the low
  *                bits of an integer field to named "true"/"false" flag
  *                columns, bit i → flags[i]
  *   fieldstats:= fieldstats() — one (field, n, n_distinct) row per
  *                column of the current relation
  *   series    := series(field=f, by=k[, limit=n][, sep=s][, as=out]) —
  *                one row per key: f's values joined in (ts, event_id)
  *                order (first n with limit=) — the per-entity timeline
  *                (collect() gathers DISTINCT values; this keeps order
  *                and repeats)
  * }}}
  *
  * Example:
  * `event_type = click | groupBy(user_id, function=count()) | sort(_count, order=desc) | head(5)`
  */
object HumioQuery {

  /** Compile and apply `query` to `df`. `tables` names the dimension
    * tables a `match()`/`lookup()` stage may enrich against (LogScale
    * resolves these from uploaded lookup files; here the caller passes
    * DataFrames).
    *
    * Under the session memo ([[graft.operators.Scale.MemoConf]]) the
    * COMPILED Dataset is reused per (query text, table names, input and
    * table plans): parse and per-stage analysis happen once, and every
    * execution still computes from the sources.
    *
    * A limit-free `sort` (and `top(rest=)`'s re-sort) over a small batch
    * input plans in one partition, without Spark's range-bound sampling
    * job and range exchange: small is no row bound and an analyzed size
    * estimate within `spark.sql.autoBroadcastJoinThreshold`; anything
    * else, a threshold of -1 included, keeps the range sort. The choice
    * is made here, while lowering, because a planner strategy would need
    * a session extension that not every caller's session has
    * ([[globalSort]]).
    */
  def run(df: DataFrame, query: String,
          tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    def compile(): DataFrame = {
      val out = splitPipes(query).map(_.trim).filter(_.nonEmpty)
        .foldLeft(df)((acc, stage) => applyStage(acc, stage, tables))
      // timechart()/bucket() on a stream carry their window struct hidden
      // for chained streaming aggregation (window()); it is plumbing, not
      // output — dropped here so the documented withWatermark-then-run()
      // path sheds it too, not just runStream()
      out.drop(out.columns.filter(_.startsWith("__twindow_")): _*)
    }
    // table names hold no newline, so the tag splits back into the
    // names and the query text
    val named = tables.toSeq.sortBy(_._1)
    graft.operators.Scale.memoized(("hq" +: named.map(_._1) :+ query).mkString("\n"),
      df +: named.map(_._2))(compile())
  }

  /** Streaming twin of [[run]]: compile the watermark-safe verb subset
    * onto a STREAMING DataFrame (`readStream`/MemoryStream source with a
    * `ts` event-time column).
    *
    * The watermark is stamped on `ts` BEFORE any stage, so:
    *  - stateless verbs (filter/eval/case/assign/regex/extract/
    *    parseJson/select/in/cidr/…) compile unchanged;
    *  - `timechart()`/`bucket()` group on a tumbling `window(ts, span)`
    *    (the floor-arithmetic bucket of the batch plan is opaque to the
    *    watermark tracker; the epoch-aligned window is the SAME bucket
    *    function) and project `window.start` back to the batch twin's
    *    epoch-millis bucket column — in append mode a bucket emits
    *    exactly once, when the watermark passes its end;
    *  - `session(field=k)` compiles to a `session_window` AGGREGATE per
    *    key — (key, _session_start, _session_end, _count) — because the
    *    batch verb's per-event session INDEX needs a total order per
    *    key that an unbounded stream cannot give. Same session
    *    boundaries (a gap > maxpause closes the session);
    *  - `dedup(f1, …)` compiles to `dropDuplicatesWithinWatermark` —
    *    per-key state bounded by the watermark, append-safe. The batch
    *    verb keeps the LATEST event per key over the finished table; the
    *    streaming twin keeps the FIRST arrival within the watermark (the
    *    at-least-once duplicate collapse, where redeliveries are
    *    identical rows and both pick the same event). limit=n > 1
    *    compiles to `flatMapGroupsWithState`
    *    ([[graft.operators.StatefulDedup]]): the first n distinct
    *    (ts, event_id) identities per key emit, redeliveries collapse,
    *    state (≤ n identities per key) expires with the watermark;
    *  - `match()`/`lookup()` against a STATIC dimension table compiles
    *    unchanged — a stream-static broadcast equi-join is watermark-
    *    safe (the dimension is bounded; no stream-side state);
    *  - `counterAsRate(field, by=k)` compiles to per-series
    *    `flatMapGroupsWithState` ([[graft.operators.StatefulRate]]) —
    *    the lag window's state made explicit: (last ts, last value) per
    *    series. Identical rates to the batch verb when each series
    *    arrives in event-time order across micro-batches; an
    *    out-of-order row gets a NULL rate and leaves state untouched.
    *    `by=` is required on a stream (no global order exists);
    *  - `join({sub}, within=w)` — the banded self-correlate — compiles
    *    to a stream-stream join: both sides inherit the stamped
    *    watermark and the ±w band in the condition bounds the join
    *    state (a row expires when the watermark passes its band).
    *    `mode=left` compiles to the watermarked LEFT-OUTER form — an
    *    unmatched event is held in state and emitted with NULL subquery
    *    columns once the watermark passes its band (only then is "no
    *    match" a fact). The subquery must be stateless
    *    (filter/eval/select) and keep `ts`; unbanded join({sub}) and
    *    aggregated subqueries stay batch-only with reasoned errors;
    *  - `window(field, buckets=n)` after `timechart()`/`bucket()`
    *    compiles to a CHAINED sliding-window aggregation over the
    *    bucket stream (width n·span, slide span) — the moving average
    *    emitted per bucket, per series with `by=`. Frame caveat: the
    *    batch verb's frame is the last n PRESENT rows, the streaming
    *    twin's the last n bucket SLOTS — identical on dense buckets;
    *  - batch-only verbs with no streaming plan — tail/transpose —
    *    reject streaming input with a
    *    per-verb message; sort/head/top compile and are governed by
    *    Spark's own output-mode rules (legal in complete mode after an
    *    aggregation).
    *
    * Events later than `watermark` behind the max seen `ts` are dropped
    * by the state store — the standard bounded-state trade; the batch
    * twin on the same (non-late) data produces identical rows, EXCEPT
    * dedup(): the streaming twin keeps the first arrival per key where
    * the batch verb keeps the latest, so the two agree only when a
    * key's rows are identical redeliveries (the at-least-once case it
    * exists for).
    */
  def runStream(stream: DataFrame, query: String,
                watermark: String = "10 minutes",
                tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    require(stream.isStreaming, "runStream() needs a streaming DataFrame — use run() for batch")
    require(stream.columns.contains("ts"),
      "runStream() needs a ts event-time column to watermark")
    run(stream.withWatermark("ts", watermark), query, tables)
  }

  /** A limit-free global sort of `df` by `order`. Spark plans one as a
    * range-partitioned exchange whose bounds come from an extra job that
    * samples the sort's input, so a sort over a few grouped rows costs
    * two jobs and a shuffle. A small input is sorted in one partition
    * instead: `coalesce(1)` under the same global sort, which Spark then
    * plans with no sampling job and no exchange. A sort over one
    * partition is still a total order, so rows and their order are the
    * same either way.
    *
    * Small means: a batch input with no row bound (a bounded one, such
    * as a limit, keeps Spark's own plan) whose analyzed size estimate is
    * at most `spark.sql.autoBroadcastJoinThreshold`, the size below
    * which Spark already ships a whole relation to every task. A
    * threshold of -1 (broadcast off) closes the gate. The analyzed
    * estimate needs no optimizer pass and, without column pruning, only
    * over-estimates, so a wrong guess falls back to the range sort.
    *
    * The rewrite sits here, in the lowering, not in a planner
    * `Strategy`: a strategy needs a session extension, and a session
    * built without one would never run it.
    */
  private def globalSort(df: DataFrame, order: Seq[Column]): DataFrame = {
    val small = !df.isStreaming && {
      val qe = df.queryExecution
      val threshold = qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      qe.analyzed.maxRows.isEmpty && threshold >= 0 &&
        qe.analyzed.stats.sizeInBytes <= threshold
    }
    (if (small) df.coalesce(1) else df).orderBy(order: _*)
  }

  /** split on '|' not inside parentheses, braces (a `case { … | … }`
    * block owns its pipes), or a /regex/ literal (alternation in a regex
    * must survive: `f = /click|view/`). A '/' only opens a regex when it
    * directly follows '=' or '(', so plain slashes in values don't start
    * one.
    */
  private def splitPipes(q: String): Seq[String] = splitAware(q, '|')

  /** The one separator scanner both splitters use. Tracks paren/bracket/
    * brace depth, `"quoted"` strings (a quoted `"a|b"` owns its pipe and
    * comma), and `/regex/` literals — a '/' opens one only directly after
    * `=`, `(`, `[`, `,`, `;`, or at a segment start, so plain slashes in
    * values don't; inside a regex, `\` escapes the next char (write a
    * literal slash as `\/`) and quotes/parens are plain characters.
    */
  private def splitAware(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var inQuote = false; var inRegex = false; var esc = false
    def regexOpens: Boolean = {
      val t = cur.toString.trim
      t.isEmpty || t.endsWith("=") || t.endsWith("(") || t.endsWith("[") ||
        t.endsWith(",") || t.endsWith(";")
    }
    s.foreach { c =>
      if (esc) { cur += c; esc = false }
      else if (inRegex) {
        if (c == '\\') esc = true
        else if (c == '/') inRegex = false
        cur += c
      }
      else if (inQuote) { if (c == '"') inQuote = false; cur += c }
      else c match {
        case '"' => inQuote = true; cur += c
        case '/' if regexOpens => inRegex = true; cur += c
        case '(' | '[' | '{' => depth += 1; cur += c
        case ')' | ']' | '}' => depth -= 1; cur += c
        case x if x == sep && depth == 0 => out += cur.result(); cur.clear()
        case x => cur += x
      }
    }
    out += cur.result()
    out.result()
  }

  private val FnCall   = """(\w+)\s*\((.*)\)\s*""".r
  private val Compare  = """([\w.]+)\s*(!=|>=|<=|=|>|<)\s*(.+)""".r
  private val Assign   = """([\w.]+)\s*:=\s*(.+)""".r
  private val CaseBlk  = """case\s*\{(.*)\}\s*""".r
  // regex-carrying stages are matched whole (their pattern may hold
  // commas or unbalanced escaped parens that would confuse the generic
  // arg split)
  // the pattern group ends at the first UNESCAPED '/' — write a literal
  // slash as \/ — so a later argument containing '/' can't steal pattern
  // territory (a greedy (.*)/ would match through `with=b/`)
  private val RegexEx  = """regex\(\s*/((?:[^/\\]|\\.)*)/\s*,\s*field\s*=\s*([\w.]+)\s*\)\s*""".r
  private val ReplaceRe = """replace\(\s*/((?:[^/\\]|\\.)*)/\s*,\s*(.*)\)\s*""".r

  private def applyStage(df: DataFrame, stage: String,
                         tables: Map[String, DataFrame]): DataFrame = stage match {
    case CaseBlk(body) => applyCase(df, body)
    case RegexEx(pattern, field) => applyRegexExtract(df, pattern, field)
    case ReplaceRe(pattern, rest) => applyReplace(df, pattern, parseArgs(rest)._2)
    case Assign(field, expr) => df.withColumn(field, parseExpr(expr))
    case FnCall(name, args) => applyFn(df, name, parseArgs(args), tables)
    case Compare(field, op, raw) => df.where(predicate(field, op, raw.trim))
    case other => throw new IllegalArgumentException(s"cannot parse stage: '$other'")
  }

  /** split "a, b, function=count()" into positional + named args */
  private def parseArgs(s: String): (Seq[String], Map[String, String]) = {
    val parts = splitTop(s, ',')
    val (named, positional) = parts.partition(_.matches("""\w+\s*=[^=].*"""))
    (positional,
      named.map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }.toMap)
  }

  /** split on `sep` at depth 0 outside strings and regexes ([[splitAware]]),
    * trimmed, empties dropped — braces protect a join's `{subquery}` and
    * regex quantifiers like `a{1,2}`; quotes protect a format string's
    * `"%s, %s"`; a `/re"gex/` owns its quote.
    */
  private def splitTop(s: String, sep: Char): Seq[String] =
    splitAware(s, sep).map(_.trim).filter(_.nonEmpty)

  /** `[a, b, c]` → Seq(a, b, c); a bare value is a one-element list. */
  private def listArg(v: String): Seq[String] =
    if (v.startsWith("[") && v.endsWith("]"))
      splitTop(v.substring(1, v.length - 1), ',')
    else Seq(v.trim)

  private def unquote(s: String): String =
    if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\""))
      s.substring(1, s.length - 1) else s

  private def literal(raw: String): Column = {
    val unq = raw.stripPrefix("\"").stripSuffix("\"")
    if (raw.startsWith("\"")) lit(unq)
    else if (raw.matches("""-?\d+""")) lit(raw.toLong)
    else if (raw.matches("""-?\d*\.\d+""")) lit(raw.toDouble)
    else lit(unq)
  }

  private def predicate(field: String, op: String, raw: String): Column = {
    val c = col(field)
    if ((op == "=" || op == "!=") && raw.length > 1 &&
        raw.startsWith("/") && raw.endsWith("/")) {
      val m = c.rlike(raw.substring(1, raw.length - 1))
      // NULL never passes either polarity — the same convention as the
      // literal ops below (c =!= lit is NULL on NULL too)
      return if (op == "=") m else !m
    }
    val wildcard = (op == "=" || op == "!=") && raw.contains("*") && !raw.startsWith("\"")
    (op, wildcard) match {
      case ("=", true)  => c.like(raw.replace("*", "%"))
      case ("!=", true) => !c.like(raw.replace("*", "%"))
      case ("=", _)  => c === literal(raw)
      case ("!=", _) => c =!= literal(raw)
      case (">", _)  => c > literal(raw)
      case (">=", _) => c >= literal(raw)
      case ("<", _)  => c < literal(raw)
      case ("<=", _) => c <= literal(raw)
      case _ => throw new IllegalArgumentException(s"bad operator $op")
    }
  }

  /** function=count() etc. → (aggregate column, its output name).
    * `qualified` (the function=[…] list form) names results _sum_f /
    * _avg_f / … so several aggregates of different fields can't collide;
    * the single form keeps the legacy _sum/_avg names.
    */
  private def aggregate(spec: String, qualified: Boolean = false): (Column, String) = {
    def nm(fn: String, f: String) = if (qualified) s"_${fn}_${f.trim}" else s"_$fn"
    spec match {
      case FnCall("count", "") => (count(lit(1)), "_count")
      case FnCall("sum", f)    => (sum(col(f.trim)), nm("sum", f))
      case FnCall("avg", f)    => (avg(col(f.trim)), nm("avg", f))
      case FnCall("min", f)    => (min(col(f.trim)), nm("min", f))
      case FnCall("max", f)    => (max(col(f.trim)), nm("max", f))
      case FnCall("range", f)  =>
        // range(f) = max − min (LogScale range()) — two partial-agg
        // buffers, one result column; exact on integers, and max−min of
        // the same doubles is reproducible (no accumulation order)
        (max(col(f.trim)) - min(col(f.trim)), nm("range", f))
      case FnCall("percentile", a) =>
        // percentile(f, p) inside groupBy: exact interpolated percentile,
        // 4-decimal stabilized like the standalone verb; named _p<p>_f
        // (qualified) / _p<p> so several percentiles can coexist
        val parts = a.split(",").map(_.trim)
        require(parts.length == 2,
          s"percentile(field, p) takes 2 arguments inside groupBy, got '$a'")
        val p = parts(1).toDouble
        require(p > 0 && p < 100, s"percentile(): p must be in (0,100), got $p")
        val pn = if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')
        // detRound4, not round(): the repo's cross-engine rounding
        // convention — engine round() semantics differ on edge doubles
        (detRound4(percentile(col(parts.head), lit(p / 100.0))),
          if (qualified) s"_p${pn}_${parts.head}" else s"_p$pn")
      case FnCall("stdDev", f) =>
        // sample standard deviation via EXACT integer second moments:
        // values quantize to round(x·2^20), Σq and Σq² accumulate as
        // DECIMAL(38,0) (a float Σx² is partition-order-dependent; the
        // decimal sums are exact in any order in both engines), and the
        // variance assembles in one deterministic double division at
        // the end — the kmeansRefine discipline applied to a second
        // moment. Deterministic-regime contract: |x| ≲ 4e8 so n·Σq²
        // stays well under 38 digits. n = 1 → NULL (stddev_samp
        // convention; the guard also keeps ANSI division happy).
        val fc = col(f.trim)
        val q = round(fc * (1L << 20)).cast("decimal(38,0)")
        // n counts the SAME rows the sums accumulate (count(q), not
        // count(fc)): a NaN/Infinity value quantizes to NULL and must
        // leave n too, or it would silently deflate the variance while
        // the sums exclude it
        val n = count(q)
        val s1 = sum(q)
        val s2 = sum(q * q)
        val varQ = (n.cast("decimal(38,0)") * s2 - s1 * s1).cast("double")
        val sd = sqrt(varQ / (n * (n - lit(1L))).cast("double")) / lit(1048576.0)
        (when(n > 1, detRound4(sd)).otherwise(lit(null).cast("double")),
          nm("stddev", f))
      case other => throw new IllegalArgumentException(s"unknown function: $other")
    }
  }

  /** function=count() | function=[count(), sum(f), …] → aggregate list */
  private def aggregates(spec: String): Seq[(Column, String)] =
    if (spec.startsWith("[") && spec.endsWith("]"))
      splitTop(spec.substring(1, spec.length - 1), ',')
        .map(aggregate(_, qualified = true))
    else Seq(aggregate(spec))

  /** `case { cond | f := v [| g := w …] ; … }` — first matching arm
    * runs its assignments; events matching no arm are dropped unless a
    * `*` arm exists (LogScale case semantics). Assignments within an
    * arm are SEQUENTIAL (a later one sees an earlier one's value, like
    * any pipeline).
    *
    * Two plan shapes: when every arm is a single assignment to one
    * shared field (the common severity-classification form), the whole
    * block compiles to ONE when-chain over one scan. The general
    * multi-assignment form compiles to first-match branch selection —
    * arm i filters on `condᵢ ∧ ¬cond₍<ᵢ₎` — with each branch its own
    * assignment pipeline, unioned by name (fields an arm doesn't
    * assign surface NULL, LogScale's absent-field behavior).
    */
  private def applyCase(df: DataFrame, body: String): DataFrame = {
    val arms = splitTop(body, ';').map { arm =>
      val sides = splitTop(arm, '|').map(_.trim)
      require(sides.length >= 2, s"bad case arm: '$arm'")
      val cond = if (sides.head == "*") lit(true) else sides.head match {
        case Compare(field, op, raw) => predicate(field, op, raw.trim)
        case other => throw new IllegalArgumentException(s"bad case condition: '$other'")
      }
      val assigns = sides.tail.map {
        case Assign(f, v) => (f, v)
        case other => throw new IllegalArgumentException(
          s"bad case arm statement (only `field := expr` allowed): '$other'")
      }
      (cond, assigns)
    }
    require(arms.nonEmpty, "empty case block")
    val singleShared = arms.forall(_._2.size == 1) &&
      arms.map(_._2.head._1).distinct.size == 1
    if (singleShared) {
      val target = arms.head._2.head._1
      val assigned = arms.tail.foldLeft(
        when(arms.head._1, parseExpr(arms.head._2.head._2))) {
        case (w, (c, as)) => w.when(c, parseExpr(as.head._2))
      }
      df.where(arms.map(_._1).reduce(_ || _)).withColumn(target, assigned)
    } else {
      val branches = arms.zipWithIndex.map { case ((cond, assigns), i) =>
        // first-match: this arm minus every earlier arm's match set
        // (NULL conditions coalesce to false on both sides, so a row
        // with a null comparison neither matches nor blocks)
        val firstMatch = arms.take(i).map(_._1)
          .foldLeft(coalesce(cond, lit(false)))(
            (c, p) => c && !coalesce(p, lit(false)))
        assigns.foldLeft(df.where(firstMatch)) {
          case (d, (f, v)) => d.withColumn(f, parseExpr(v))
        }
      }
      branches.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** `replace(/regex/, with=repl, field=f[, as=g])` — $1-style group
    * references in `with` work as in LogScale.
    */
  private def applyReplace(df: DataFrame, pattern: String,
                           named: Map[String, String]): DataFrame = {
    val f = named.getOrElse("field",
      throw new IllegalArgumentException("replace() needs field=..."))
    df.withColumn(named.getOrElse("as", f),
      regexp_replace(col(f), pattern, unquote(named.getOrElse("with", ""))))
  }

  /** `regex(/pat/, field=f)`: named-capture groups become columns; the
    * stage FILTERS to matching events first (LogScale regex drops
    * non-matching events), so every extracted group is real.
    */
  private def applyRegexExtract(df: DataFrame, pattern: String, field: String): DataFrame = {
    val groups = namedGroups(pattern)
    require(groups.nonEmpty, s"regex() pattern has no (?<name>…) groups: /$pattern/")
    groups.foldLeft(df.where(col(field).rlike(pattern))) {
      case (d, (nm, idx)) => d.withColumn(nm, regexp_extract(col(field), pattern, idx))
    }
  }

  /** (name, capture-group index) for each (?<name>…) group: capturing
    * groups are numbered left-to-right by their '(' — plain and named
    * count, (?:…)/(?=…)/(?<=…)/(?<!…) don't.
    */
  private[graft] def namedGroups(pattern: String): Seq[(String, Int)] = {
    val out = Seq.newBuilder[(String, Int)]
    var idx = 0
    var i = 0
    var inClass = false
    while (i < pattern.length) {
      val c = pattern(i)
      if (c == '\\') i += 2
      else if (inClass) {
        // a '(' inside [...] is a literal, not a group
        if (c == ']') inClass = false
        i += 1
      } else if (c == '[') { inClass = true; i += 1 }
      else {
        if (c == '(') {
          if (i + 1 < pattern.length && pattern(i + 1) == '?') {
            // named group is "(?<name>"; lookbehinds are "(?<=" / "(?<!"
            if (i + 2 < pattern.length && pattern(i + 2) == '<' &&
                i + 3 < pattern.length && pattern(i + 3) != '=' && pattern(i + 3) != '!') {
              val end = pattern.indexOf('>', i + 3)
              require(end > 0, s"unterminated group name in /$pattern/")
              idx += 1
              out += ((pattern.substring(i + 3, end), idx))
            }
            // every other (?… construct is non-capturing
          } else idx += 1
        }
        i += 1
      }
    }
    out.result()
  }

  /** Arithmetic over fields and literals: + - * / % with parens, standard
    * precedence — the expression language of `:=` / eval() / case values.
    */
  private[graft] def parseExpr(s: String): Column = new ExprParser(s).parseAll()

  private final class ExprParser(input: String) {
    private var pos = 0
    private def ws(): Unit =
      while (pos < input.length && input(pos).isWhitespace) pos += 1
    private def peek: Char = if (pos < input.length) input(pos) else '\u0000'

    def parseAll(): Column = {
      val c = addSub(); ws()
      require(pos == input.length, s"trailing input in expression: '$input'")
      c
    }
    private def addSub(): Column = {
      var left = mulDiv(); ws()
      while (peek == '+' || peek == '-') {
        val op = peek; pos += 1
        val right = mulDiv()
        left = if (op == '+') left + right else left - right
        ws()
      }
      left
    }
    private def mulDiv(): Column = {
      var left = atom(); ws()
      while (peek == '*' || peek == '/' || peek == '%') {
        val op = peek; pos += 1
        val right = atom()
        left = op match {
          case '*' => left * right
          case '/' => left / right
          case '%' => left % right
        }
        ws()
      }
      left
    }
    private def atom(): Column = {
      ws()
      peek match {
        case '-' =>            // unary minus: -1, -(a + b), -field
          pos += 1
          -atom()
        case '(' =>
          pos += 1
          val c = addSub(); ws()
          require(peek == ')', s"missing ')' in expression: '$input'")
          pos += 1; c
        case '"' =>
          val end = input.indexOf('"', pos + 1)
          require(end > 0, s"unterminated string in expression: '$input'")
          val v = lit(input.substring(pos + 1, end)); pos = end + 1; v
        case c if c.isDigit =>
          val start = pos
          while (pos < input.length && (input(pos).isDigit || input(pos) == '.')) pos += 1
          val tok = input.substring(start, pos)
          if (tok.contains('.')) lit(tok.toDouble) else lit(tok.toLong)
        case c if c.isLetter || c == '_' || c == '@' =>
          val start = pos
          // ':' continues an identifier only when a letter follows — the
          // LogScale namespaced function names (crypto:md5, array:length);
          // `:=` never reaches here (Assign splits at stage level), and a
          // trailing ':' stays an error
          while (pos < input.length &&
            (input(pos).isLetterOrDigit || input(pos) == '_' ||
             input(pos) == '.' || input(pos) == '@' ||
             (input(pos) == ':' && pos + 1 < input.length &&
              input(pos + 1).isLetter))) pos += 1
          val name = input.substring(start, pos)
          ws()
          if (peek == '(') {
            pos += 1
            if (name == "if") parseIf() else fnCall(name)
          } else col(name)
        case other =>
          throw new IllegalArgumentException(
            s"unexpected '$other' at $pos in expression: '$input'")
      }
    }

    // ---- condition grammar (the first argument of if()) -------------
    //
    //   cond := and ('or' and)*
    //   and  := cmp ('and' cmp)*
    //   cmp  := '(' cond ')'                 — when followed by a boolean
    //                                          continuation (, ) and or)
    //         | addSub (cmpOp addSub)?       — cmpOp ∈ == != <= >= < > =
    //
    // A bare operand with no comparison operator is LogScale TRUTHINESS:
    // the value compared against the STRING "true" — the convention the
    // string-predicate functions (startsWith, contains, array:contains)
    // follow when assigned to a field, so `if(contains(f, "x"), …)` and
    // `hit := contains(f, "x") | hit = true` agree. NULL conditions take
    // the else branch in both engines (CASE WHEN semantics).

    /** True and consumes when the keyword `w` sits at `pos` with a word
      * boundary after it; never consumes on false. */
    private def word(w: String): Boolean = {
      ws()
      val end = pos + w.length
      val at = input.startsWith(w, pos) &&
        (end >= input.length ||
          !(input(end).isLetterOrDigit || input(end) == '_'))
      if (at) pos = end
      at
    }
    private def wordAhead(w: String): Boolean = {
      val save = pos
      val at = word(w)
      pos = save
      at
    }

    private def condExpr(): Column = {
      var left = andExpr(); ws()
      while (word("or")) { left = left || andExpr(); ws() }
      left
    }
    private def andExpr(): Column = {
      var left = cmpExpr(); ws()
      while (word("and")) { left = left && cmpExpr(); ws() }
      left
    }
    private def cmpExpr(): Column = {
      ws()
      if (peek == '(') {
        // a parenthesized CONDITION, accepted only when the group is a
        // complete boolean operand — '(a + b) * 2 > c' falls through to
        // the arithmetic parse below because '*' is not a continuation
        val save = pos
        try {
          pos += 1
          val c = condExpr(); ws()
          require(peek == ')', "unclosed '(' in condition")
          pos += 1; ws()
          if (pos >= input.length || peek == ',' || peek == ')' ||
              wordAhead("and") || wordAhead("or")) return c
          pos = save
        } catch { case _: IllegalArgumentException => pos = save }
      }
      val left = addSub(); ws()
      val two = if (pos + 1 < input.length) input.substring(pos, pos + 2) else ""
      two match {
        case "==" => pos += 2; left === addSub()
        case "!=" => pos += 2; left =!= addSub()
        case "<=" => pos += 2; left <= addSub()
        case ">=" => pos += 2; left >= addSub()
        case _ => peek match {
          case '<' => pos += 1; left < addSub()
          case '>' => pos += 1; left > addSub()
          case '=' => pos += 1; left === addSub()
          case _   => left.cast("string") === lit("true")   // truthiness
        }
      }
    }

    /** if(cond, then=a, else=b) — LogScale's conditional eval function.
      * then=/else= accepted labeled (either order) or positional; the
      * open paren is already consumed by the caller.
      */
    private def parseIf(): Column = {
      val cond = condExpr(); ws()
      require(peek == ',', s"if() expects ', then=…' after the condition in '$input'")
      pos += 1
      val (l1, v1) = branchArg(); ws()
      require(peek == ',', s"if() expects a third argument in '$input'")
      pos += 1
      val (l2, v2) = branchArg(); ws()
      require(peek == ')', s"missing ')' closing if() in '$input'")
      pos += 1
      val thenC =
        if (l1.contains("then")) v1
        else if (l2.contains("then")) v2
        else if (l1.isEmpty) v1
        else throw new IllegalArgumentException(s"if() missing then= branch in '$input'")
      val elseC =
        if (l2.contains("else")) v2
        else if (l1.contains("else")) v1
        else if (l2.isEmpty) v2
        else throw new IllegalArgumentException(s"if() missing else= branch in '$input'")
      when(cond, thenC).otherwise(elseC)
    }
    /** One if() branch: an optional then=/else= label, then a value
      * expression (which may itself be a nested if()). */
    private def branchArg(): (Option[String], Column) = {
      ws()
      for (lbl <- Seq("then", "else")) {
        val save = pos
        if (word(lbl)) {
          ws()
          if (peek == '=' && (pos + 1 >= input.length || input(pos + 1) != '=')) {
            pos += 1
            return (Some(lbl), addSub())
          }
          pos = save
        }
      }
      (None, addSub())
    }
    /** scalar function call inside an expression: length(f), lower(f), … */
    private def fnCall(name: String): Column = {
      val fnArgs = Seq.newBuilder[Column]
      // raw source text per argument — for the functions whose argument
      // must be a PLAN-TIME constant (parseInt's radix): Spark 4's
      // Column no longer exposes its expression, so the literal is
      // recovered from the query text itself
      val rawArgs = Seq.newBuilder[String]
      ws()
      if (peek == ')') pos += 1
      else {
        var done = false
        while (!done) {
          val argStart = pos
          fnArgs += addSub()
          rawArgs += input.substring(argStart, pos).trim
          ws()
          peek match {
            case ',' => pos += 1
            case ')' => pos += 1; done = true
            case other => throw new IllegalArgumentException(
              s"expected ',' or ')' after argument of $name, got '$other' in '$input'")
          }
        }
      }
      val a = fnArgs.result()
      val raw = rawArgs.result()
      def one: Column = { require(a.size == 1, s"$name takes 1 argument"); a.head }
      name match {
        case "length"   => length(one)
        case "lower"    => lower(one)
        case "upper"    => upper(one)
        case "abs"      => abs(one)
        case "floor"    => floor(one).cast("long")
        case "ceil"     => ceil(one).cast("long")
        case "sqrt"     => sqrt(one)
        case "exp"      => exp(one)
        case "ln"       => log(one)   // natural log, as in LogScale math:log
        case "pow"      => pow(a.head, a(1))
        case "concat"   => concat(a: _*)
        case "coalesce" => coalesce(a: _*)
        // LogScale round(): nearest integer (half away from zero — the
        // same convention in Spark and DuckDB for positive values)
        case "round"    => round(one).cast("long")
        case "md5" | "crypto:md5"       => md5(one.cast("string"))
        case "sha256" | "crypto:sha256" => sha2(one.cast("string"), 256)
        case "base64Encode" => base64(one.cast("string").cast("binary"))
        case "base64Decode" => unbase64(one).cast("string")
        case "substr" =>
          require(a.size == 3, "substr(field, start, len) takes 3 arguments")
          a.head.substr(a(1), a(2))   // 1-based, the SQL convention
        case "parseInt" =>
          // parseInt(field, radix): radix must be a plan-time integer
          // literal (it selects the conv() base — LogScale's radix=)
          require(a.size == 2, "parseInt(field, radix) takes 2 arguments")
          val radix = raw(1).toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"parseInt radix must be an integer literal, got '${raw(1)}'"))
          require(radix >= 2 && radix <= 36, s"parseInt radix out of range: $radix")
          conv(a.head, radix, 10).cast("long")
        // LogScale time:* extraction functions: session-zone wall-clock
        // components (the session zone is pinned UTC engine-wide).
        // dayOfWeek is ISO (Monday=1..Sunday=7), computed arithmetically
        // from dayofweek's Sun=1 convention so both engines agree
        case "time:hour"  => hour(one).cast("long")
        case "time:month" => month(one).cast("long")
        case "time:year"  => year(one).cast("long")
        case "time:dayOfMonth" => dayofmonth(one).cast("long")
        case "time:dayOfWeek"  => ((dayofweek(one) + 5) % 7 + 1).cast("long")
        case "array:length" => size(one).cast("long")
        // LogScale truthiness: booleans surface as the STRINGS
        // "true"/"false", so the result filters with `hit = true` and
        // round-trips through a VARCHAR oracle column
        case "array:contains" =>
          require(a.size == 2, "array:contains(array, value) takes 2 arguments")
          when(exists(a.head, x => x === a(1)), lit("true")).otherwise(lit("false"))
        // string predicates — LogScale truthiness convention: the result
        // is the STRING "true"/"false" (so it round-trips a VARCHAR
        // oracle column and filters with `= true`); a NULL input takes
        // the "false" branch in both engines. In if()-condition position
        // the truthiness wrap in cmpExpr compares back against "true".
        case "startsWith" | "text:startsWith" =>
          require(a.size == 2, s"$name(string, prefix) takes 2 arguments")
          when(a.head.cast("string").startsWith(a(1)), lit("true"))
            .otherwise(lit("false"))
        case "endsWith" | "text:endsWith" =>
          require(a.size == 2, s"$name(string, suffix) takes 2 arguments")
          when(a.head.cast("string").endsWith(a(1)), lit("true"))
            .otherwise(lit("false"))
        case "contains" | "text:contains" =>
          require(a.size == 2, s"$name(string, substring) takes 2 arguments")
          when(a.head.cast("string").contains(a(1)), lit("true"))
            .otherwise(lit("false"))
        case "math:log10" => log10(one)
        case "math:log2"  => log2(one)
        case "wildcard" =>
          // wildcard(field, pattern) — glob match ('*' multi, '?' single),
          // the filter grammar's wildcard semantics as a function;
          // truthiness-string result like the other predicates. The
          // pattern must be a literal (it compiles to a LIKE pattern at
          // plan time; LIKE metachars in it are escaped first).
          require(a.size == 2, "wildcard(field, pattern) takes 2 arguments")
          val pat = raw(1).stripPrefix("\"").stripSuffix("\"")
          val likePat = pat.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace('*', '%').replace('?', '_')
          when(a.head.cast("string").like(likePat), lit("true"))
            .otherwise(lit("false"))
        case "shannonEntropy" =>
          // per-value character entropy in bits (-Σ p·log2 p), the DGA/
          // randomness signal — [[graft.expressions.CharEntropy]]: one
          // codegen'd counting pass; per-character terms quantized to
          // round(term·2^40) and summed as exact integers (the
          // kmeansRefine discipline), so the result is independent of
          // character-visit order and a SQL oracle that groups the chars
          // in any order replays it bit-for-bit
          CharEntropy.call(one.cast("string"))
        case other => throw new IllegalArgumentException(
          s"unknown function in expression: $other")
      }
    }
  }

  private val Span = """(\d+)([smhd])""".r

  private def applyFn(df: DataFrame, name: String,
                      args: (Seq[String], Map[String, String]),
                      tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    val (pos, named) = args
    name match {
      case "groupBy" =>
        val aggs = aggregates(named.getOrElse("function", "count()"))
        df.groupBy(pos.map(col): _*)
          .agg(aggs.head._1.as(aggs.head._2),
            aggs.tail.map { case (c, n) => c.as(n) }: _*)
      case "top" =>
        // top(field[, limit=n][, sum=f][, percent=true]) — most frequent
        // values (or, with sum=f, the values with the largest total f —
        // LogScale's weighted form); ties broken by the group values for
        // determinism (LogScale defaults to 10). percent=true adds each
        // group's share of the PRE-limit total as _percent — count form
        // only (integer counts divide exactly once; a float-weighted
        // total would be accumulation-order-dependent), 4-decimal
        // stabilized, denominator from a broadcast 1-row aggregate.
        val limit = named.get("limit").map(_.toInt).getOrElse(10)
        val (measure, mName) = named.get("sum")
          .map(f => (sum(col(f)), "_sum")).getOrElse((count(lit(1)), "_count"))
        val grouped = df.groupBy(pos.map(col): _*).agg(measure.as(mName))
        val wantPct = named.get("percent").contains("true")
        val restLabel = named.get("rest")
        // ONE 1-row totals aggregate feeds both the percent denominator
        // and the rest row's weight/guard (grand total + group count)
        lazy val totals = broadcast(grouped.agg(
          sum(col(mName)).as("__t"), count(lit(1)).as("__ng")))
        val withPct =
          if (!wantPct) grouped
          else {
            require(named.get("sum").isEmpty,
              "top(percent=true) supports the count form only — a " +
                "float-weighted share would be accumulation-order-dependent")
            grouped.crossJoin(totals)
              .withColumn("_percent",
                detRound4(col(mName).cast("double") * 100.0 /
                  col("__t").cast("double")))
              .drop("__t", "__ng")
          }
        val limited = withPct
          .orderBy(col(mName).desc +: pos.map(col(_).asc): _*)
          .limit(limit)
        restLabel match {
          case None => limited
          case Some(label) =>
            // rest=label folds everything BEYOND the top n into one
            // labeled remainder row (LogScale top(rest=)) — weight =
            // total − top-n sum from two 1-row aggregates; the guard is
            // the GROUP COUNT (groups beyond the top n exist), not the
            // weight difference — a sum= form with negative weights can
            // have a remainder whose total is ≤ 0 and it must still
            // surface. Output re-sorted so the rest row lands by its
            // own weight.
            require(pos.size == 1, "top(rest=) supports a single field")
            val f = pos.head
            require(df.schema(f).dataType ==
              org.apache.spark.sql.types.StringType,
              "top(rest=) needs a string field — the label replaces the value")
            val topSum = limited.agg(
              sum(col(mName)).as("__s"), count(lit(1)).as("__ns"))
            val restRow = totals.crossJoin(topSum)
              .where(col("__ng") > col("__ns"))
              .select(lit(unquote(label)).as(f),
                (col("__t") - coalesce(col("__s"), lit(0L))).as(mName),
                col("__t"))
            val restAligned =
              if (!wantPct) restRow.drop("__t")
              else restRow
                .withColumn("_percent",
                  detRound4(col(mName).cast("double") * 100.0 /
                    col("__t").cast("double")))
                .drop("__t")
            globalSort(limited.unionByName(restAligned),
              Seq(col(mName).desc, col(f).asc))
        }
      case "eval" =>
        require(named.size == 1 && pos.isEmpty,
          s"eval expects exactly one field=expression, got '$args'")
        val (field, expr) = named.head
        df.withColumn(field, parseExpr(expr))
      case "parseJson" =>
        // native extraction ([[graft.expressions.JsonStrField]]):
        // get_json_object is CodegenFallback — one appearance drops the
        // whole projection out of whole-stage codegen and pays Jackson
        // per field per row (hq_parsejson measured 47 s warm at the 10×
        // probe on that path; 2.1 s native). from_json string-form
        // semantics per field, top-level keys.
        val jsonField = pos.head
        pos.tail.foldLeft(df) { (d, k) =>
          // the native extractor addresses TOP-LEVEL keys; a dotted
          // token would silently look up the literal key "a.b" — fail
          // at plan time instead (the applyRegistry validation rule)
          require(!k.contains("."),
            s"parseJson(): only top-level keys are supported, got '$k' " +
              "(nested paths need an explicit parseJson of the inner object)")
          d.withColumn(k,
            JsonStrField.call(col(jsonField), lit(k)))
        }
      case "sort" =>
        // sort(f1, …[, order=desc][, limit=n]) — with limit, Spark plans
        // TakeOrderedAndProject: per-partition top-n + a tiny driver
        // merge, never a full global sort. Without one, a small input
        // sorts in one partition ([[globalSort]]): no range-bound
        // sampling job, no range exchange
        val desc = named.get("order").contains("desc")
        val order = pos.map(f => if (desc) col(f).desc else col(f).asc)
        named.get("limit") match {
          case Some(n) => df.orderBy(order: _*).limit(n.toInt)
          case None => globalSort(df, order)
        }
      case "head" => df.limit(pos.headOption.map(_.toInt).getOrElse(10))
      case "tail" =>
        // tail(n): the n most recent events by ts (event_id tie-break
        // when present) — planned as TakeOrderedAndProject, no full sort
        require(!df.isStreaming, "tail() is a batch stage — streams have no global order")
        val n = pos.headOption.map(_.toInt).getOrElse(10)
        val order = col("ts").desc +:
          (if (df.columns.contains("event_id")) Seq(col("event_id").desc) else Nil)
        df.orderBy(order: _*).limit(n)
      case "select" => df.select(pos.map(col): _*)
      case "search" =>
        // free-text: substring match over every string-typed column
        val needle = pos.head.stripPrefix("\"").stripSuffix("\"")
        val stringCols = df.schema.fields
          .filter(_.dataType == org.apache.spark.sql.types.StringType)
          .map(f => col(f.name).contains(needle))
        if (stringCols.isEmpty) df.where(lit(false))
        else df.where(stringCols.reduce(_ || _))
      case "extract" =>
        // promote $.key of a JSON string field to a real column named key
        val Seq(jsonField, key) = pos.take(2)
        df.withColumn(key, get_json_object(col(jsonField), s"$$.$key"))
      case "parseUrl" =>
        // parseUrl(field): promote scheme/host/path/query components of a
        // URL field (LogScale parseUrl), one regex-backed extraction per
        // component — no explode, no shuffle
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("parseUrl() needs a field"))
        val u = col(f)
        df.withColumn("scheme", parse_url(u, lit("PROTOCOL")))
          .withColumn("host", parse_url(u, lit("HOST")))
          .withColumn("path", parse_url(u, lit("PATH")))
          .withColumn("query", parse_url(u, lit("QUERY")))
      case "kvParse" =>
        // kvParse(field, keys=[k1, k2, …]): promote space-separated k=v
        // pairs to named string columns (LogScale kvParse over an explicit
        // key list — the DataFrame schema is static, the parseJson
        // convention). One str_to_map per row, codegen'd lookups.
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("kvParse() needs a field"))
        val kvmap = str_to_map(col(f), lit(" "), lit("="))
        listArg(named.getOrElse("keys",
            throw new IllegalArgumentException("kvParse() needs keys=")))
          .foldLeft(df) { case (d, k) =>
            d.withColumn(k.trim, try_element_at(kvmap, lit(k.trim))) }
      case "splitString" =>
        // splitString(field=f, by=regex, as=out): tokenize a string field
        // into an array column; by= is a regex, as in LogScale
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("splitString() needs a field"))
        df.withColumn(named.getOrElse("as", "_splitstring"),
          split(col(f), unquote(named.getOrElse("by", " "))))
      case "split" =>
        // split(field): one event per array element (LogScale split);
        // the element replaces the array field, origin index in _index
        val f = pos.headOption.getOrElse(
          throw new IllegalArgumentException("split() needs a field"))
        df.select(col("*"), posexplode(col(f)).as(Seq("_index", s"__${f}_elem")))
          .drop(f)
          .withColumnRenamed(s"__${f}_elem", f)
          .withColumn("_index", col("_index").cast("bigint"))
      case "parseCsv" =>
        // parseCsv(field, columns=[a, b, …]): promote comma-separated
        // values to named string columns; short rows yield NULL tails
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("parseCsv() needs a field"))
        val cells = split(col(f), ",")
        listArg(named.getOrElse("columns",
            throw new IllegalArgumentException("parseCsv() needs columns=")))
          .zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
            d.withColumn(c.trim, try_element_at(cells, lit(i + 1))) }
      case "window" =>
        // window(field=f, function=avg|sum|min|max, buckets=n[, by=k]
        // [, as=out]): moving aggregate over the last n buckets in
        // bucket order, per series with by= — LogScale's window()
        // smoother. Runs over an ALREADY-AGGREGATED timechart()/bucket()
        // relation (bounded rows by construction), so the ordered window
        // never sees corpus-sized data.
        //
        // STREAMING twin: a chained sliding-window aggregation on the
        // window struct timechart()/bucket() carries hidden — each
        // sliding window of width n·span (slide span) ending at bucket b
        // covers b's last n bucket SLOTS; the bucket's own row identity
        // is recovered as the max_by-latest input row and windows whose
        // final slot holds no bucket are filtered (an empty bucket emits
        // nothing in the batch twin either). ROWS-vs-RANGE caveat: the
        // batch frame spans the last n PRESENT rows, the streaming one
        // the last n bucket slots — identical whenever buckets are dense
        // (HumioStreamSpec proves agreement); with by= the moving
        // aggregate is per series, without it a multi-series stream
        // collapses each slot to one row (prefer by= on streams).
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("window() needs a field"))
        val n = named.get("buckets").map(_.toInt).getOrElse(3)
        require(n >= 1, s"window(): buckets must be >= 1, got $n")
        val outCol = named.getOrElse("as", "_window")
        val m: Column = named.getOrElse("function", "avg") match {
          case "avg" => avg(col(f));  case "sum" => sum(col(f))
          case "min" => min(col(f));  case "max" => max(col(f))
          case other => throw new IllegalArgumentException(
            s"window(): unsupported function '$other'")
        }
        if (df.isStreaming) {
          val twCol = df.columns.find(_.startsWith("__twindow_")).getOrElse(
            throw new IllegalArgumentException(
              "window() on a stream needs a timechart() or bucket() stage " +
                "directly upstream (its bucket windows are what the moving " +
                "aggregate slides over)"))
          val span = twCol.stripPrefix("__twindow_").toLong
          val keep = df.columns.filterNot(_.startsWith("__twindow_"))
          val slide = window(col(twCol), s"${n * span} milliseconds",
            s"$span milliseconds")
          val groups = slide +: named.get("by").map(col).toSeq
          // as= naming an existing column REPLACES it in place, like the
          // batch twin's withColumn
          val outFields = keep.map(c =>
            if (c == outCol) col(outCol) else col(s"__row.`$c`").as(c)) ++
            (if (keep.contains(outCol)) Nil else Seq(col(outCol)))
          df.groupBy(groups: _*)
            .agg(m.as(outCol),
              max_by(struct(keep.map(col): _*),
                unix_millis(col(s"$twCol.start"))).as("__row"),
              max(unix_millis(col(s"$twCol.start"))).as("__last"))
            // keep only windows whose LAST slot holds a real bucket —
            // that bucket is the row this moving value belongs to
            .where(col("__last") === unix_millis(col("window.end")) - span)
            .select(outFields: _*)
        } else {
          val orderCol = Seq("_bucket_ms", "_bucket").find(df.columns.contains)
            .getOrElse(throw new IllegalArgumentException(
              "window() needs a timechart() or bucket() stage before it"))
          val base = named.get("by").map(k => SqlWindow.partitionBy(col(k)))
            .getOrElse(SqlWindow.partitionBy())
          val w = base.orderBy(col(orderCol)).rowsBetween(-(n - 1), 0)
          df.withColumn(outCol, m.over(w))
        }
      case "accumulate" | "slidingWindow" =>
        // accumulate(field=f[, function=…][, by=k][, as=out]) — running
        // aggregate over the event sequence; slidingWindow(…, events=n)
        // bounds the frame to the last n events. LogScale's sequence
        // functions. Sequence order is (ts, event_id) — the engine's
        // total event order — so results are replayable and the SQL
        // oracle agrees row-for-row. Batch sequence stages (the tail()
        // reasoning: a stream has no total order inside the watermark);
        // run them over a drained stream.
        //
        // SCALE: with by= the window shuffles ONCE on the key — the
        // session()/l_funnel shape, safe at any corpus size. Without by=
        // a running aggregate is inherently one ordered partition; keep
        // the keyless form for post-aggregate or filtered relations
        // (LogScale's own sequence functions run inside the bounded
        // result pipeline for the same reason).
        //
        // STREAMING twin ([[graft.operators.StatefulSequence]]): per-key
        // live emission — O(1) state for accumulate, O(events) for the
        // sliding ring; requires by= (keyed state — a keyless stream has
        // no total order), a LONG value column (the exact-integer
        // discipline), and fn ∈ sum|count|min|max. In-order arrival =
        // batch-twin equal (HumioStreamSpec); late events fold in at
        // arrival position, bounded by the watermark.
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException(s"$name() needs a field"))
        val outCol = named.getOrElse("as", s"_${name.toLowerCase}")
        if (df.isStreaming) {
          requireWatermarked(df, name)
          require(named.contains("by"),
            s"$name() on a stream needs by= — sequence state is per key; " +
              "a keyless stream has no total order to run over")
          val fn = named.getOrElse("function", "sum")
          if (name == "accumulate")
            graft.operators.StatefulSequence.running(df, named("by"), f, fn, outCol)
          else
            graft.operators.StatefulSequence.ring(df, named("by"), f,
              named.get("events").map(_.toInt).getOrElse(
                throw new IllegalArgumentException("slidingWindow() needs events=n")),
              "sliding", fn, outCol)
        } else {
          val m: Column = named.getOrElse("function", "sum") match {
            case "sum" => sum(col(f));  case "avg" => avg(col(f))
            case "min" => min(col(f));  case "max" => max(col(f))
            case "count" => count(col(f))
            case other => throw new IllegalArgumentException(
              s"$name(): unsupported function '$other'")
          }
          val base = named.get("by").map(k => SqlWindow.partitionBy(col(k)))
            .getOrElse(SqlWindow.partitionBy())
          val order = col("ts").asc +:
            (if (df.columns.contains("event_id")) Seq(col("event_id").asc) else Nil)
          val frame =
            if (name == "accumulate")
              base.orderBy(order: _*).rowsBetween(SqlWindow.unboundedPreceding, 0)
            else {
              val n = named.get("events").map(_.toInt).getOrElse(
                throw new IllegalArgumentException("slidingWindow() needs events=n"))
              require(n >= 1, s"slidingWindow(): events must be >= 1, got $n")
              base.orderBy(order: _*).rowsBetween(-(n - 1), 0)
            }
          df.withColumn(outCol, m.over(frame))
        }
      case "neighbor" =>
        // neighbor(field[, distance=n][, by=k][, as=out]) — copy the
        // field from the event `distance` back in (ts, event_id)
        // sequence order (LogScale neighbor()); NULL when no such event
        // exists. Same by= scale discipline and streaming twin
        // (lag-mode ring, O(distance) state per key) as accumulate().
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("neighbor() needs a field"))
        val n = named.get("distance").map(_.toInt).getOrElse(1)
        require(n >= 1, s"neighbor(): distance must be >= 1, got $n")
        val outCol = named.getOrElse("as", s"_prev_$f")
        if (df.isStreaming) {
          requireWatermarked(df, "neighbor")
          require(named.contains("by"),
            "neighbor() on a stream needs by= — sequence state is per " +
              "key; a keyless stream has no total order to run over")
          graft.operators.StatefulSequence.ring(
            df, named("by"), f, n, "lag", "sum", outCol)
        } else {
          val base = named.get("by").map(k => SqlWindow.partitionBy(col(k)))
            .getOrElse(SqlWindow.partitionBy())
          val order = col("ts").asc +:
            (if (df.columns.contains("event_id")) Seq(col("event_id").asc) else Nil)
          df.withColumn(outCol, lag(col(f), n).over(base.orderBy(order: _*)))
        }
      case "slidingTimeWindow" =>
        // slidingTimeWindow(field=f, span=…[, function=…][, by=k]
        // [, as=out]) — moving aggregate over the trailing time span
        // (ts-millis RANGE frame [t−span+1, t], so equal-timestamp
        // peers always share one frame — value-based framing is what
        // keeps ties deterministic in both engines). Batch stage with a
        // reasoned streaming error: trailing-span state is bounded by
        // TRAFFIC inside the span, not by a cap — on a stream, bucket
        // with timechart() and smooth with window() instead (bounded
        // state, same trailing-time shape at bucket granularity).
        require(!df.isStreaming,
          "slidingTimeWindow() is a batch stage — its per-key state is " +
            "traffic-bound (every event inside the trailing span); on a " +
            "stream, bucket with timechart() and smooth with window()")
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("slidingTimeWindow() needs a field"))
        val span = spanMs(named.getOrElse("span",
          throw new IllegalArgumentException("slidingTimeWindow() needs span=")))
        val outCol = named.getOrElse("as", "_slidingtimewindow")
        val m: Column = named.getOrElse("function", "sum") match {
          case "sum" => sum(col(f));  case "avg" => avg(col(f))
          case "min" => min(col(f));  case "max" => max(col(f))
          case "count" => count(col(f))
          case other => throw new IllegalArgumentException(
            s"slidingTimeWindow(): unsupported function '$other'")
        }
        val base = named.get("by").map(k => SqlWindow.partitionBy(col(k)))
          .getOrElse(SqlWindow.partitionBy())
        val w = base.orderBy(unix_millis(col("ts")))
          .rangeBetween(-(span - 1), 0)
        df.withColumn(outCol, m.over(w))
      case "partition" =>
        // partition(field=f[, by=k][, as=out]) — 1-based sub-sequence
        // index that increments whenever f's value changes from the
        // previous event in (ts, event_id) order (LogScale's
        // partition(split=change(f)); gaps-and-islands as a live verb —
        // session() splits on TIME gaps, this splits on VALUE changes).
        // Null-safe comparison: NULL→value and value→NULL are changes,
        // NULL→NULL is not. Same by= scale discipline and streaming
        // twin (last-value state) as the other sequence stages.
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("partition() needs a field"))
        val outCol = named.getOrElse("as", "_partition")
        if (df.isStreaming) {
          requireWatermarked(df, "partition")
          require(named.contains("by"),
            "partition() on a stream needs by= — sequence state is per " +
              "key; a keyless stream has no total order to run over")
          graft.operators.StatefulSequence.partitionIdx(df, named("by"), f, outCol)
        } else {
          val base = named.get("by").map(k => SqlWindow.partitionBy(col(k)))
            .getOrElse(SqlWindow.partitionBy())
          val order = col("ts").asc +:
            (if (df.columns.contains("event_id")) Seq(col("event_id").asc) else Nil)
          val w = base.orderBy(order: _*)
          val chg = when(row_number().over(w) === 1, 1L)
            .when(!(lag(col(f), 1).over(w) <=> col(f)), 1L)
            .otherwise(0L)
          // the change flag must materialize before the running sum (a
          // window can't nest a window); both ride ONE key exchange
          df.withColumn("__graft_chg", chg)
            .withColumn(outCol, sum("__graft_chg")
              .over(w.rowsBetween(SqlWindow.unboundedPreceding, 0)))
            .drop("__graft_chg")
        }
      case "series" =>
        // series(field=f, by=k[, span=5m][, limit=n][, sep=s][, as=out])
        // — the ordered value sequence per key (LogScale series();
        // collect() gathers distinct UNORDERED values, this is the
        // per-entity TIMELINE — the path-mining / funnel-input
        // artifact). One sorted-struct aggregate on one key exchange
        // (the linededup rebuild shape — no window, no collect_list
        // order hazard). With span= the series is PER TIME BUCKET
        // (_bucket_ms rides first) — and that windowed form STREAMS:
        // each bucket's series emits when the watermark closes it
        // (state = the bucket's values per key, watermark-bounded); the
        // unwindowed form stays batch-only (an unwindowed streaming
        // aggregation never emits in append mode).
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("series() needs a field"))
        val k = named.getOrElse("by",
          throw new IllegalArgumentException("series() needs by="))
        val sep = unquote(named.getOrElse("sep", " "))
        val ordered = array_sort(collect_list(struct(
          unix_micros(col("ts")).as("t"),
          (if (df.columns.contains("event_id")) col("event_id")
           else lit(0L)).as("i"),
          col(f).cast("string").as("v"))))
        val limited = named.get("limit").map(_.toInt) match {
          case Some(n) => slice(ordered, 1, n)
          case None    => ordered
        }
        val seriesCol = concat_ws(sep, transform(limited, x => x("v")))
          .as(named.getOrElse("as", "_series"))
        named.get("span") match {
          case None =>
            require(!df.isStreaming,
              "series() without span= is a batch aggregate — an " +
                "unwindowed streaming aggregation never emits in append " +
                "mode; add span= for per-bucket series, or aggregate a " +
                "drained stream")
            df.groupBy(col(k)).agg(seriesCol)
          case Some(sp) =>
            val span = spanMs(sp)
            if (df.isStreaming) {
              requireWatermarked(df, "series")
              df.groupBy(window(col("ts"), s"$span milliseconds"), col(k))
                .agg(seriesCol)
                .select(unix_millis(col("window.start")).as("_bucket_ms"),
                  col(k), col(named.getOrElse("as", "_series")))
            } else {
              // floor, not cast-truncation — the timeBucketed discipline
              val bucket = floor(unix_millis(col("ts")) / span)
                .cast("long") * span
              df.withColumn("_bucket_ms", bucket)
                .groupBy(col("_bucket_ms"), col(k))
                .agg(seriesCol)
            }
        }
      case "fieldstats" =>
        // fieldstats([span=5m]) — per-field presence and cardinality of
        // the current relation (LogScale fieldstats()): ONE aggregate
        // pass computing count + exact distinct per column, unpivoted
        // with stack() to a (field, n, n_distinct) row per column. The
        // multi-distinct aggregate expands the input #columns-fold —
        // the inspection cost is explicit; project first (select) to
        // bound it. With span= the stats are PER TIME BUCKET
        // (_bucket_ms rides first) — and that windowed form STREAMS:
        // streaming forbids DISTINCT aggregates, so cardinality is the
        // exact size(collect_set(…)) per window (state = the window's
        // distinct values per column, watermark-bounded); each bucket
        // emits when the watermark closes it.
        val cols = df.columns.toSeq
        require(cols.nonEmpty, "fieldstats(): relation has no columns")
        // names are spliced into generated SQL — escape string-literal
        // quotes and double embedded backticks so a column like o'brien,
        // a.b, or one containing a backtick can't break the parse (the
        // aggregation side quotes too: bare col() would read a dotted
        // name as nested-field access)
        def strLit(c: String) =
          "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"
        def ident(c: String) = "`" + c.replace("`", "``") + "`"
        def aggsWith(distinct: String => Column) = cols.flatMap(c => Seq(
          count(col(ident(c))).as(s"__n_$c"),
          distinct(c).as(s"__d_$c")))
        val stackArgs = cols.map(c =>
          s"${strLit(c)}, ${ident(s"__n_$c")}, ${ident(s"__d_$c")}").mkString(", ")
        val stackExpr =
          s"stack(${cols.length}, $stackArgs) AS (field, n, n_distinct)"
        named.get("span") match {
          case None =>
            require(!df.isStreaming,
              "fieldstats() without span= is a batch aggregate — an " +
                "unwindowed streaming aggregation never emits in append " +
                "mode; add span= for per-bucket stats, or inspect a " +
                "drained stream")
            val aggs = aggsWith(c => countDistinct(col(ident(c))))
            df.agg(aggs.head, aggs.tail: _*).selectExpr(stackExpr)
          case Some(sp) =>
            val span = spanMs(sp)
            if (df.isStreaming) {
              requireWatermarked(df, "fieldstats")
              val aggs = aggsWith(c =>
                size(collect_set(col(ident(c)))).cast("long"))
              df.groupBy(window(col("ts"), s"$span milliseconds"))
                .agg(aggs.head, aggs.tail: _*)
                .withColumn("_bucket_ms", unix_millis(col("window.start")))
                .selectExpr("_bucket_ms", stackExpr)
            } else {
              val bucket = floor(unix_millis(col("ts")) / span)
                .cast("long") * span
              val aggs = aggsWith(c => countDistinct(col(ident(c))))
              df.withColumn("_bucket_ms", bucket)
                .groupBy(col("_bucket_ms"))
                .agg(aggs.head, aggs.tail: _*)
                .selectExpr("_bucket_ms", stackExpr)
            }
        }
      case "bitfield" =>
        // bitfield(field=f, flags=[a, b, …]) — promote the low bits of an
        // integer field to named "true"/"false" flag columns, bit i →
        // flags[i] (LogScale bitfield:extractFlags, with the engine's
        // string truthiness so the flags compose with if()/filters).
        // Pure per-row shifts — codegen'd, streams unchanged.
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("bitfield() needs a field"))
        val flags = listArg(named.getOrElse("flags",
          throw new IllegalArgumentException("bitfield() needs flags=")))
        require(flags.nonEmpty && flags.size <= 64,
          s"bitfield(): flags= must name 1..64 bits, got ${flags.size}")
        flags.zipWithIndex.foldLeft(df) { case (d, (fl, i)) =>
          d.withColumn(fl.trim,
            when(shiftright(col(f).cast("long"), i).bitwiseAND(1L) === 1L,
              "true").otherwise("false")) }
      case "selfJoinFilter" =>
        // selfJoinFilter(field=k, where=f, having=[v1, v2, …]): keep
        // every event of the keys that have AT LEAST one event with
        // EACH of the listed values — "users who both clicked and
        // purchased", the classic correlated-behavior filter. One
        // aggregate of (key → per-value presence flags) + one semi
        // join; never a self cross join.
        val key = named.getOrElse("field",
          throw new IllegalArgumentException("selfJoinFilter() needs field="))
        val f = named.getOrElse("where",
          throw new IllegalArgumentException("selfJoinFilter() needs where="))
        val vals = listArg(named.getOrElse("having",
          throw new IllegalArgumentException("selfJoinFilter() needs having=")))
          .map(unquote)
        require(vals.nonEmpty, "selfJoinFilter(): having= must be non-empty")
        val flags = vals.zipWithIndex.map { case (v, i) =>
          max(when(col(f) === v, 1L).otherwise(0L)).as(s"_h$i")
        }
        val keys = df.groupBy(col(key))
          .agg(flags.head, flags.tail: _*)
          .where(vals.indices.map(i => col(s"_h$i") === 1L).reduce(_ && _))
          .select(col(key))
        df.join(keys, Seq(key), "left_semi")
      case "sample" =>
        // sample(percent[, by=f]): DETERMINISTIC percentage sampling —
        // membership is a pure function of the by-field's md5 bucket
        // (the engine's reproducible-sampling discipline; LogScale's
        // sample() is random, which can never hash-verify or replay).
        val p = named.get("percent").orElse(pos.headOption).map(_.toInt).getOrElse(
          throw new IllegalArgumentException("sample() needs a percent"))
        require(p >= 1 && p <= 100, s"sample(): percent must be 1..100, got $p")
        val key = named.getOrElse("by", "event_id")
        df.where(graft.operators.Sampling.pct(col(key)) < p)
      case "formatTime" =>
        // formatTime("%Y-%m-%d", field=f, as=out): strftime-style
        // timestamp formatting. The %-codes translate at PLAN time to
        // Spark's pattern letters ([[strftimeToJava]]); UTC session, so
        // the DuckDB strftime twin renders identically.
        val fmt = unquote(named.get("format").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("formatTime() needs a format string")))
        df.withColumn(named.getOrElse("as", "_formattime"),
          date_format(col(named.getOrElse("field", "ts")),
            strftimeToJava(fmt, "formatTime")))
      case "parseTimestamp" =>
        // parseTimestamp("%Y-%m-%d %H", field=f, as=out): the strptime
        // INVERSE of formatTime — same plan-time %-translation, UTC
        // session so the DuckDB strptime twin parses identically.
        // try_to_timestamp: a non-matching string yields NULL instead of
        // an ANSI parse error (LogScale's parseTimestamp leniency).
        val fmt = unquote(named.get("format").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("parseTimestamp() needs a format string")))
        val f = named.getOrElse("field",
          throw new IllegalArgumentException("parseTimestamp() needs field="))
        df.withColumn(named.getOrElse("as", "_parsetime"),
          try_to_timestamp(col(f), lit(strftimeToJava(fmt, "parseTimestamp"))))
      case "counterAsRate" =>
        // counterAsRate(field[, by=k][, as=out]): per-series rate of a
        // monotonic counter — Δfield / Δseconds between consecutive
        // events in (ts, event_id) order; NULL for a series' first
        // event, for counter resets (negative delta, as in LogScale),
        // and for zero time deltas. One lag window per series key.
        // WITHOUT by= this is a single-partition global window, so the
        // planner only allows it over an ALREADY-AGGREGATED bucket
        // relation (bounded rows by construction, same rule window()
        // enforces); on the raw event stream by= is required — one task
        // dragging the whole corpus through a global sort is never the
        // plan you want at scale.
        val f = named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("counterAsRate() needs a field"))
        if (df.isStreaming) {
          // streaming twin: the lag window becomes per-series
          // flatMapGroupsWithState — see [[graft.operators.StatefulRate]]
          // for the order/lateness semantics. by= is REQUIRED: an
          // unbounded stream has no global order to lag over.
          val by = named.getOrElse("by", throw new IllegalArgumentException(
            "counterAsRate() on a stream needs by=<series field> — " +
              "a global lag has no streaming plan"))
          require(df.columns.contains("ts"),
            "counterAsRate() on a stream runs over raw events with a ts column")
          graft.operators.StatefulRate.counterRate(
            df, f, by, named.getOrElse("as", "_rate"))
        } else {
          if (named.get("by").isEmpty)
            require(Seq("_bucket_ms", "_bucket").exists(df.columns.contains),
              "counterAsRate() without by= needs a timechart() or bucket() " +
                "stage before it (a global window over raw events is " +
                "single-partition); pass by=<series field> instead")
          val base = named.get("by").map(k => SqlWindow.partitionBy(col(k)))
            .getOrElse(SqlWindow.partitionBy())
          // time axis: raw events carry ts; a post-timechart()/bucket()
          // relation carries the epoch-millis bucket instead
          val (tMillis, ord): (Column, Seq[Column]) =
            if (df.columns.contains("ts"))
              (unix_millis(col("ts")),
                if (df.columns.contains("event_id")) Seq(col("ts"), col("event_id"))
                else Seq(col("ts")))
            else {
              val b = Seq("_bucket_ms", "_bucket").find(df.columns.contains)
                .getOrElse(throw new IllegalArgumentException(
                  "counterAsRate() needs a ts column or a prior timechart()/bucket() stage"))
              (col(b).cast("long"), Seq(col(b)))
            }
          val w = base.orderBy(ord: _*)
          val d = col(f) - lag(col(f), 1).over(w)
          val dt = (tMillis - lag(tMillis, 1).over(w)).cast("double") / 1000.0
          val rate = when(d.isNull || d < 0 || dt === 0.0, lit(null))
            .otherwise(d.cast("double") / dt)
          // multi-series guard: without by=, several rows per time value
          // (a timechart that ALSO grouped on a series field) would make
          // lag() pick an arbitrary same-bucket predecessor and silently
          // mix series — uniqueness is a data property, so fail in-plan
          val guarded = if (named.contains("by")) rate else {
            val perT = count(lit(1)).over(SqlWindow.partitionBy(ord: _*))
            when(perT > 1, raise_error(lit("counterAsRate() without by=: " +
              "multiple rows per time value — pass by=<series field>")))
              .otherwise(rate)
          }
          df.withColumn(named.getOrElse("as", "_rate"), guarded)
        }
      case "transpose" =>
        // transpose(header=f[, columns=[v1, …]]): pivot the (bounded,
        // already-aggregated) result table — each header value becomes a
        // column holding the row's single remaining field. columns= makes
        // the output schema STATIC (the scale-safe form — no inference
        // pass); without it Spark first collects the distinct header
        // values, acceptable on a verb-bounded result but two jobs.
        require(!df.isStreaming,
          "transpose() is a batch stage — pivoting needs the finished result table")
        val h = named.get("header").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("transpose() needs header="))
        val others = df.columns.filterNot(_ == h)
        require(others.size == 1,
          s"transpose() expects a (header, value) relation, got ${df.columns.mkString(", ")}")
        val grouped = df.groupBy()
        // a duplicated header value would make the cell value depend on
        // row order (nondeterministic pick); fail loudly instead — the
        // guard rides inside the same pivot aggregate, no extra job
        val cell = when(count(lit(1)) > 1, raise_error(lit(
            s"transpose(): duplicate value in header column '$h'")))
          .otherwise(min(col(others.head)))
        named.get("columns").map(c => grouped.pivot(h, listArg(c).map(unquote)))
          .getOrElse(grouped.pivot(h))
          .agg(cell)
      case "timechart" => timeBucketed(df, pos, named, "_bucket_ms")
      // bucket() is timechart's generic sibling (LogScale bucket): same
      // span grouping, bucket lands in `_bucket`
      case "bucket" => timeBucketed(df, pos, named, "_bucket")
      case "fields" => df.select(pos.map(col): _*)   // LogScale alias of select
      case "drop" => df.drop(pos: _*)
      case "rename" =>
        df.withColumnRenamed(named("field"), named("as"))
      case "in" =>
        // in(field, values=[v1, v2*, …]): equality per value, wildcard
        // values compile to LIKE — all OR'd, so the filter still pushes
        // down to the scan as one disjunction
        val f = col(pos.head)
        val conds = listArg(named("values")).map { v =>
          if (v.contains("*") && !v.startsWith("\"")) f.like(v.replace("*", "%"))
          else f === literal(v)
        }
        df.where(conds.reduce(_ || _))
      case "cidr" =>
        // cidr(field, subnet="a.b.c.d/n"): IPv4 prefix filter (LogScale
        // cidr()). The subnet parses at PLAN time to (base, prefix); the
        // row test is dotted-quad integer arithmetic plus one shiftright
        // against a literal — codegen'd, no UDF, no per-row subnet parse.
        val f = col(named.get("field").orElse(pos.headOption).getOrElse(
          throw new IllegalArgumentException("cidr() needs a field")))
        val subnet = unquote(named.getOrElse("subnet",
          throw new IllegalArgumentException("cidr() needs subnet=")))
        val (baseIp, prefix) = subnet.split("/") match {
          case Array(ip, n) => (ip, n.toInt)
          case _ => throw new IllegalArgumentException(
            s"cidr(): subnet must be a.b.c.d/n, got '$subnet'")
        }
        require(prefix >= 0 && prefix <= 32, s"cidr(): bad prefix /$prefix")
        val octets = baseIp.split("\\.")
        require(octets.length == 4 && octets.forall(o =>
          o.nonEmpty && o.forall(_.isDigit) && o.toInt <= 255),
          s"cidr(): subnet base must be four octets 0-255, got '$baseIp'")
        val baseNum = octets.map(_.toLong).reduce(_ * 256 + _)
        // malformed VALUES must not-match, never crash: the rlike gate
        // guards the ANSI casts (CaseWhen branches evaluate lazily), and
        // the octet bound kills numeric aliasing ("0.300.0.0" must not
        // alias to 1.44.0.0's value)
        val q = split(f, "\\.")
        val shaped = f.rlike("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$")
        val inRange = (0 to 3).map(i => q(i).cast("long") <= 255L).reduce(_ && _)
        val ipNum = q(0).cast("long") * 16777216L + q(1).cast("long") * 65536L +
          q(2).cast("long") * 256L + q(3).cast("long")
        df.where(when(shaped,
          when(inRange, shiftright(ipNum, 32 - prefix) === lit(baseNum >> (32 - prefix)))
            .otherwise(lit(false)))
          .otherwise(lit(false)))
      case "replace" =>   // bare-string pattern form; /regex/ form is
        applyReplace(df, unquote(pos.head), named)   // matched whole above
      case "format" =>
        // format("%s:%d", field=[a, b], as=out) — printf-style formatting;
        // the format string may also be named (format=…) as in LogScale
        val fmt = unquote(named.get("format").orElse(pos.headOption)
          .getOrElse(throw new IllegalArgumentException("format() needs a format string")))
        df.withColumn(named.getOrElse("as", "_format"),
          format_string(fmt, listArg(named("field")).map(col): _*))
      case "default" =>
        // default(field=f, value=v): fill NULLs; a missing column is
        // created outright (LogScale default on an unset field)
        val f = named("field")
        val v = literal(named("value"))
        if (!df.columns.contains(f)) df.withColumn(f, v)
        else df.withColumn(f, coalesce(col(f), v))
      case "count" =>   // standalone event count (no grouping): one row;
        // count(field) counts rows where the field is present (non-NULL),
        // count(field, distinct=true) counts distinct values — both as in
        // LogScale; bare count() counts every event
        val distinct = named.get("distinct").contains("true")
        require(!distinct || pos.nonEmpty, "count(distinct=true) needs a field")
        val counted = pos.headOption
          .map(f => if (distinct) count_distinct(col(f)) else count(col(f)))
          .getOrElse(count(lit(1)))
        df.agg(counted.as(named.getOrElse("as", "_count")))
      case "sum" | "avg" | "min" | "max" =>
        val f = col(pos.head)
        val agg = name match {
          case "sum" => sum(f); case "avg" => avg(f)
          case "min" => min(f); case "max" => max(f)
        }
        df.agg(agg.as(named.getOrElse("as", s"_$name")))
      case "collect" =>
        // collect(field[, limit=n][, as=out]) — LogScale collect():
        // gather the field's DISTINCT values into one field. Values
        // sort before joining (collect_set order is partition-dependent;
        // LogScale's own order is unspecified, so the engine picks the
        // deterministic one) and a limit= caps the kept values AFTER
        // the sort — bounded output, replayable, and the oracle's
        // list_sort/list_slice replays it exactly.
        val f = pos.headOption.getOrElse(
          throw new IllegalArgumentException("collect() needs a field"))
        val limit = named.get("limit").map(_.toInt)
        val sorted = array_sort(collect_set(col(f).cast("string")))
        val capped = limit.map(n => slice(sorted, 1, n)).getOrElse(sorted)
        df.agg(concat_ws(" ", capped).as(named.getOrElse("as", f)))
      case "percentile" =>
        // percentile(field, percentiles=[50, 90, 99][, approx=true]) →
        // one row of _50 / _90 / _99 columns. Exact interpolated
        // percentile by default, 4-decimal stabilized for cross-engine
        // determinism; approx=true swaps in percentile_approx — the
        // fixed-size mergeable-sketch aggregate (Greenwald–Khanna) that
        // replaces the every-distinct-value exact merge buffer at scale
        // (approximate by design, so callers verify rows-only).
        val f = col(pos.head)
        val ps = listArg(named.getOrElse("percentiles", "[50, 90, 99]"))
          .map(_.toDouble)
        // dots would read as nested-field access downstream (col("_99.9")
        // resolves `_99`.`9`), so fractional percentiles name with '_'
        def nm(p: Double) =
          "_" + (if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_'))
        val approx = named.get("approx").contains("true")
        val aggs = ps.map(p => detRound4(
          if (approx) percentile_approx(f, lit(p / 100.0),
            lit(graft.operators.LogAnalytics.ApproxPercentileAccuracy))
          else percentile(f, lit(p / 100.0))).as(nm(p)))
        df.agg(aggs.head, aggs.tail: _*)
      case "session" =>
        // session(field=k[, maxpause=30m]): gaps-and-islands session
        // index per key (LogScale session()) — a new `_session` starts
        // when the gap to the key's previous event exceeds maxpause.
        // One window shuffle on the key; same shape as the l_session
        // operator it delegates to. Ordered by ts, with event_id as the
        // tie-break only when the frame has one (sessionize's default
        // ordering would fail on frames without it).
        val key = named("field")
        val pause = spanMs(named.getOrElse("maxpause", "30m"))
        if (df.isStreaming) {
          requireWatermarked(df, "session")
          // streaming twin: the per-event session INDEX needs a total
          // per-key order, so streams get the session AGGREGATE instead
          // — session_window merges events closer than maxpause, the
          // same boundary rule as the batch gaps-and-islands pass
          df.groupBy(session_window(col("ts"), s"$pause milliseconds"), col(key))
            .agg(count(lit(1)).as("_count"))
            .select(col(key),
              unix_millis(col("session_window.start")).as("_session_start"),
              unix_millis(col("session_window.end")).as("_session_end"),
              col("_count"))
        } else {
          val order = if (df.columns.contains("event_id"))
            Seq(col("ts"), col("event_id")) else Seq(col("ts"))
          graft.operators.LogAnalytics
            .sessionize(df, col(key), pause, order)
            .withColumnRenamed("session_id", "_session")
        }
      case "join" =>
        // join({subquery}, field=f[, key=k][, include=[c1, …]][, within=w]):
        // inner join against the subquery run over the SAME input. The
        // subquery side is typically a small aggregate → broadcast, no
        // shuffle of the event side. Fresh aliases on the right break the
        // self-join attribute ambiguity (both sides share one lineage);
        // subquery columns win on name collision. With within=<span> the
        // join carries a ±span event-time band — the temporal-correlate
        // form, and the ONLY form with a streaming twin: the band in the
        // condition is what lets Spark's stream-stream join expire state
        // once the watermark passes a row's band.
        val sub = pos.head
        require(sub.startsWith("{") && sub.endsWith("}"),
          s"join expects a {subquery} first argument, got '$sub'")
        val field = named("field")
        val key = named.getOrElse("key", field)
        // mode=left keeps unmatched events with NULL subquery columns
        // (LogScale join mode=left); default inner drops them
        val mode = named.getOrElse("mode", "inner")
        require(mode == "inner" || mode == "left",
          s"join(): mode must be inner or left, got '$mode'")
        val within = named.get("within").map(spanMs)
        if (df.isStreaming) {
          requireWatermarked(df, "join")
          require(within.isDefined,
            "join({subquery}) on a stream needs within=<span> — the time " +
              "band is what lets the stream-stream join expire state; " +
              "without it every row is kept forever. Run an unbanded " +
              "join as a batch pass over the drained stream")
          // mode=left streams too: Spark's watermarked left-outer
          // stream-stream join holds an unmatched left row in state and
          // emits it with NULL right columns once the watermark passes
          // its ±within band (no earlier — only then is "no match" a
          // fact, the same reasoning that bounds the inner join's
          // state). Both sides here carry the same ts watermark, which
          // is what left-outer additionally requires.
          val subDf = run(df, sub.substring(1, sub.length - 1), tables)
          require(!subDf.queryExecution.analyzed.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
            "join({subquery}) on a stream needs a STATELESS subquery " +
              "(filter/eval/select shapes): an aggregated subquery would " +
              "place a join after a streaming aggregation, which append " +
              "mode cannot run — aggregate over the join's output instead")
          require(subDf.columns.contains("ts"),
            "join() on a stream needs ts on the subquery side — don't " +
              "project it away; the band condition needs both event times")
          val include = named.get("include").map(listArg)
            .getOrElse(subDf.columns.toSeq.filterNot(c => c == key || c == "ts"))
          bandedSubJoin(df, subDf, field, key, include, within.get,
            mode, stream = true)
        } else {
          val subDf = run(df, sub.substring(1, sub.length - 1), tables)
          within match {
            case Some(w) =>
              // batch twin of the banded form: same condition, same
              // default include (ts stays the left event's)
              val include = named.get("include").map(listArg)
                .getOrElse(subDf.columns.toSeq.filterNot(c => c == key || c == "ts"))
              bandedSubJoin(df, subDf, field, key, include, w, mode, stream = false)
            case None =>
              val include = named.get("include").map(listArg)
                .getOrElse(subDf.columns.toSeq.filterNot(_ == key))
              enrichJoin(df, subDf, field, key, include, mode)
          }
        }
      case "dedup" =>
        // dedup(f1, …[, limit=n]): the n most RECENT events per key
        // (LogScale dedup keeps latest by @timestamp; event_id breaks
        // sub-timestamp ties when present). One window shuffle on the
        // key — the same shape as session()/l_dedup.
        require(pos.nonEmpty, "dedup() needs at least one field")
        val n = named.get("limit").map(_.toInt).getOrElse(1)
        require(n >= 1, s"dedup() limit must be >= 1, got $n")
        if (df.isStreaming) {
          // streaming twin: dropDuplicatesWithinWatermark — state per
          // key is bounded by the watermark, emission is append-safe.
          // Semantics difference (documented honestly): the batch verb keeps the
          // LATEST event per key over the finished table; an unbounded
          // stream can't know "latest", so the streaming twin keeps the
          // FIRST arrival per key within the watermark — the
          // at-least-once duplicate collapse, where redeliveries are
          // identical rows and first-vs-latest picks the same event.
          requireWatermarked(df, "dedup")
          // limit=n > 1 generalizes the same discipline with explicit
          // state: the first n distinct (ts, event_id) identities per
          // key, redeliveries collapsing, state expired by the
          // watermark ([[graft.operators.StatefulDedup]])
          if (n == 1) df.dropDuplicatesWithinWatermark(pos)
          else graft.operators.StatefulDedup.keepFirstN(df, pos, n)
        } else {
          val order = col("ts").desc +:
            (if (df.columns.contains("event_id")) Seq(col("event_id").desc) else Nil)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(pos.map(col): _*).orderBy(order: _*)
          df.withColumn("__graft_dedup_rn", row_number().over(w))
            .where(col("__graft_dedup_rn") <= n)
            .drop("__graft_dedup_rn")
        }
      case "match" | "lookup" =>
        // match(table, field=f[, column=c][, include=[c1, …]][, strict=false]):
        // enrich events against a DIMENSION table (LogScale's lookup-file
        // match; `lookup` is the legacy alias). strict (the default)
        // drops non-matching events — inner join; strict=false keeps
        // them with NULL enrichment — left join. The dimension side is
        // broadcast: at scale the event side never shuffles for an
        // enrichment. Dimension columns win on name collision, like
        // join().
        val tname = pos.headOption.getOrElse(
          throw new IllegalArgumentException(s"$name() needs a table name"))
        val dim = tables.getOrElse(tname, throw new IllegalArgumentException(
          s"$name(): unknown table '$tname' — pass it via run(df, q, tables)"))
        val field = named.getOrElse("field",
          throw new IllegalArgumentException(s"$name() needs field=..."))
        val key = named.getOrElse("column", field)
        val strict = !named.get("strict").contains("false")
        val include = named.get("include").map(listArg)
          .getOrElse(dim.columns.toSeq.filterNot(_ == key))
        enrichJoin(df, dim, field, key, include, if (strict) "inner" else "left")
      case other => throw new IllegalArgumentException(s"unknown stage: $other")
    }
  }

  /** The one enrichment join both join({subquery}) and match()/lookup()
    * compile to: broadcast the (small) `dim` side keyed by `key`, join
    * on the event `field`, then rename the included columns back into
    * place — dim columns win on name collision. Fresh __graft_ aliases
    * also break the self-join attribute ambiguity when `dim` derives
    * from `df` itself (the join() case).
    */
  /** join({sub}, within=w): equi-join on the field PLUS a ±w event-time
    * band. On a stream this is Spark's stream-stream inner join — the
    * band appears in the condition as a range over both sides'
    * watermarked `ts`, so the state store drops a row once the
    * watermark passes its band: per-key state is bounded by
    * (band width × arrival rate), the property that lets the join run
    * forever at cluster scale. In batch the same plan shape holds:
    * Catalyst extracts the equi conjunct as the join key and keeps the
    * band as a residual filter, so the join broadcasts when the
    * subquery side is small and sort-merges when it is corpus-sized —
    * unlike enrichJoin, the banded side is NOT forced to broadcast,
    * because a banded self-correlate's right side is often the corpus
    * itself. The right side's ts is consumed by the condition and
    * dropped; the output's ts is the left event's.
    */
  private def bandedSubJoin(df: DataFrame, sub: DataFrame, field: String,
                            key: String, include: Seq[String], withinMs: Long,
                            joinType: String, stream: Boolean): DataFrame = {
    val right = sub.select(
      col(key).as("__graft_join_key") +: col("ts").as("__graft_rts") +:
        include.map(c => col(c).as(s"__graft_inc_$c")): _*)
    val iv = expr(s"INTERVAL $withinMs MILLISECOND")
    val cond = col(field) === col("__graft_join_key") &&
      col("__graft_rts") >= col("ts") - iv &&
      col("__graft_rts") <= col("ts") + iv
    val joined = df.join(right, cond, joinType)
      .drop("__graft_join_key", "__graft_rts")
    include.foldLeft(joined) { (d, c) =>
      d.drop(c).withColumnRenamed(s"__graft_inc_$c", c)
    }
  }

  private def enrichJoin(df: DataFrame, dim: DataFrame, field: String,
                         key: String, include: Seq[String],
                         joinType: String): DataFrame = {
    val right = broadcast(dim.select(
      col(key).as("__graft_join_key") +:
        include.map(c => col(c).as(s"__graft_inc_$c")): _*))
    val joined = df.join(right, col(field) === col("__graft_join_key"), joinType)
      .drop("__graft_join_key")
    include.foldLeft(joined) { (d, c) =>
      d.drop(c).withColumnRenamed(s"__graft_inc_$c", c)
    }
  }

  /** strftime %-codes → a Java DateTimeFormatter pattern, every literal
    * run single-quoted so no character leaks into pattern space —
    * shared by formatTime (render) and parseTimestamp (parse).
    */
  private def strftimeToJava(fmt: String, verb: String): String = {
    require(!fmt.contains("'"), s"$verb(): single quotes unsupported")
    val codes = Map('Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'M' -> "mm", 'S' -> "ss", 'j' -> "DDD")
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt(i) == '%') {
        require(i + 1 < fmt.length && codes.contains(fmt(i + 1)),
          s"$verb(): unsupported %-code in '$fmt'")
        out ++= codes(fmt(i + 1)); i += 2
      } else {
        val start = i
        while (i < fmt.length && fmt(i) != '%') i += 1
        out ++= "'" + fmt.substring(start, i) + "'"
      }
    }
    out.toString
  }

  /** Early, self-explanatory guard for streaming stateful verbs: the
    * batch entry [[run]] is reachable with a streaming DataFrame (the
    * stateless verb subset is legal there), but a stateful verb on an
    * UNWATERMARKED stream would either fail at query start with Spark's
    * generic UnsupportedOperationChecker message (append mode) or
    * accumulate unbounded session/window state (update mode). Require
    * the event-time watermark [[runStream]] stamps — Spark marks the
    * watermarked column with `spark.watermarkDelayMs` metadata — so the
    * failure happens at COMPILE time with the fix in the message.
    */
  private def requireWatermarked(df: DataFrame, verb: String): Unit =
    if (df.isStreaming)
      require(df.schema.fields.exists(_.metadata.contains("spark.watermarkDelayMs")),
        s"$verb() on a stream needs an event-time watermark — compile the " +
          "query through runStream() (which watermarks ts) or apply " +
          "withWatermark before run()")

  /** `<n><s|m|h|d>` span literal → milliseconds (timechart/bucket/
    * session share it).
    */
  private def spanMs(s: String): Long = s match {
    case Span(n, "s") => n.toLong * 1000
    case Span(n, "m") => n.toLong * 60000
    case Span(n, "h") => n.toLong * 3600000
    case Span(n, "d") => n.toLong * 86400000
    case other => throw new IllegalArgumentException(s"bad span: $other")
  }

  /** timechart/bucket shared core: span grouping on `ts`, bucket epoch-ms
    * in `bucketCol`, extra positional group fields, one aggregate.
    */
  private def timeBucketed(df: DataFrame, pos: Seq[String],
                           named: Map[String, String], bucketCol: String): DataFrame = {
    val span = spanMs(named.getOrElse("span", "1h"))
    val (aggCol, aggName) = aggregate(named.getOrElse("function", "count()"))
    if (df.isStreaming) {
      requireWatermarked(df, if (bucketCol == "_bucket_ms") "timechart" else "bucket")
      // the watermark tracker can't see through the floor arithmetic;
      // the epoch-aligned tumbling window is the SAME bucket function,
      // and its start projects back to the batch twin's epoch-ms column
      // the window STRUCT rides along hidden (span encoded in the name,
      // event-time metadata preserved by the plain rename) so a
      // downstream window() can chain a second streaming aggregation on
      // it; runStream drops every __twindow_* column at the end
      df.groupBy(window(col("ts"), s"$span milliseconds") +: pos.map(col): _*)
        .agg(aggCol.as(aggName))
        .select(unix_millis(col("window.start")).as(bucketCol) +:
          pos.map(col) :+ col(aggName) :+ col("window").as(s"__twindow_$span"): _*)
    } else {
      // floor, not cast-truncation: pre-1970 timestamps must bucket
      // downward like the oracle's // floor division
      val bucket = floor(unix_millis(col("ts")) / span).cast("long") * span
      val keys = col(bucketCol) +: pos.map(col)
      df.withColumn(bucketCol, bucket)
        .groupBy(keys: _*).agg(aggCol.as(aggName))
    }
  }
}
