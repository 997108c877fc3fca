package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

/** Streaming twins of the DSL sequence functions (accumulate /
  * slidingWindow / neighbor / partition) — per-key running, last-n-event,
  * lag, and change-index values emitted live on every event.
  *
  * Discipline: state per key is
  * O(1) for the running aggregate and change index and O(n)/O(distance)
  * for the ring — independent of traffic; rows within a micro-batch sort
  * by (ts, event_id) before consuming (Spark guarantees no intra-group
  * order), across batches the stored state chains the sequence, so on
  * in-order (or drained in-order) arrival the emitted values equal the
  * batch window row-for-row — NULL keys included (they form one sequence
  * per key exactly like the batch window's null partition; a sentinel
  * prefix keeps a null key distinct from the string "null", the
  * StatefulDedup discipline) — proven in HumioStreamSpec. A late event
  * that would re-order an already-consumed predecessor folds in at
  * arrival position (append mode cannot retract); the watermark bounds
  * the divergence exactly as in the other twins, and state expires once
  * it passes the stored event time. At-least-once redelivery would
  * double-count a running SUM — compose `dedup(event_id) | accumulate`
  * upstream (dropDuplicatesWithinWatermark) when the source redelivers,
  * the same layering the connector sink documents.
  *
  * Values are LONG (the batch twins' exact-integer discipline: quantize
  * floats to cents/2^20 upstream — a float running sum would drift with
  * association order and could never hash-match its batch twin).
  */
object StatefulSequence {

  /** Per-key state classes return a re-stamped copy of themselves so the
    * shared fold harness can refresh the timeout clock generically. */
  private[operators] sealed trait Stamped[S] {
    def tMs: Long
    def stamped(tMs: Long, eid: Long): S
  }

  /** Running-aggregate state: contribution count + the accumulator
    * (sum/min/max fold; count uses `n` alone) + last-seen (ts, eid)
    * for the timeout clock. */
  case class AccState(tMs: Long, eid: Long, n: Long, acc: Long)
      extends Stamped[AccState] {
    def stamped(t: Long, e: Long): AccState = copy(tMs = t, eid = e)
  }

  /** Ring state for slidingWindow/neighbor: the last `cap` values in
    * sequence order; None = a row whose value was NULL (lag counts
    * rows, not non-null values — the batch frame does too). */
  case class RingState(tMs: Long, eid: Long, vs: Seq[Option[Long]])
      extends Stamped[RingState] {
    def stamped(t: Long, e: Long): RingState = copy(tMs = t, eid = e)
  }

  /** partition() state: the previous event's value in string form
    * (None = the previous value was NULL) + the running 1-based
    * sub-sequence index; idx == 0 means no event seen yet. */
  case class PartState(tMs: Long, eid: Long, lastVal: Option[String],
                       idx: Long)
      extends Stamped[PartState] {
    def stamped(t: Long, e: Long): PartState = copy(tMs = t, eid = e)
  }

  private def longField(df: DataFrame, valueCol: String): Int = {
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType == LongType,
      s"streaming sequence stages need a LONG value column (got " +
        s"${df.schema(vIdx).dataType.simpleString} for '$valueCol') — " +
        "quantize to exact integers first (cents := round(x * 100))")
    vIdx
  }

  /** The shared keyed-fold harness: group by the key column's sentinel
    * string form, sort each micro-batch's rows by (ts, event_id), fold
    * the state over them emitting one output row per input row (the
    * input columns plus/replacing `outCol`), stamp the last row's
    * (ts, eid) for the timeout clock, expire on event-time timeout.
    * Every streaming sequence twin is one `fold` function against this
    * contract.
    *
    * Contract notes: rows whose `ts` is NULL are DROPPED (they carry no
    * event time, so neither the sort order nor the timeout clock is
    * defined for them; the batch twin sorts them first — feed only
    * non-null `ts` when batch/stream agreement matters). If an
    * `event_id` column is present it must be integral (Long/Int) — a
    * non-numeric type would silently collapse the (ts, event_id)
    * tie-break, so we fail fast like `longField` does for values.
    */
  private def keyedFold[S <: Product with Stamped[S] : TypeTag](
      df: DataFrame, keyCol: String, outCol: String,
      init: => S)(fold: (S, Row) => (S, Any)): DataFrame = {
    val schema = df.schema
    val tsIdx = schema.fieldIndex("ts")
    val eidIdx = schema.fieldNames.indexOf("event_id")
    if (eidIdx >= 0) {
      val dt = schema(eidIdx).dataType
      require(dt == LongType || dt == IntegerType,
        s"streaming sequence stages tie-break on an integral event_id " +
          s"(got ${dt.simpleString}) — cast it to LONG first")
    }
    val keyIdx = schema.fieldIndex(keyCol)
    // as= naming an existing column REPLACES it, like the batch twin's
    // withColumn (appending would leave two same-named fields and break
    // any later select with AMBIGUOUS_REFERENCE)
    val outIdx = schema.fieldNames.indexOf(outCol)
    val outField = StructField(outCol, LongType, nullable = true)
    val outSchema =
      if (outIdx >= 0) StructType(schema.fields.updated(outIdx, outField))
      else schema.add(outField)
    def eidOf(r: Row): Long =
      if (eidIdx >= 0 && !r.isNullAt(eidIdx))
        r.get(eidIdx) match {
          case n: Number => n.longValue()   // Long or Int event_id both order
          case other => throw new IllegalStateException(
            s"non-numeric event_id slipped past the schema check: $other")
        }
      else 0L
    def orderedRows(rows: Iterator[Row]): Vector[Row] =
      rows.toVector
        .filter(r => !r.isNullAt(tsIdx))
        .sortBy(r => (r.getAs[java.sql.Timestamp](tsIdx).getTime, eidOf(r)))
    // NULL keys stay in (the batch window's null partition is one
    // sequence too); the sentinel prefix keeps them distinct from a
    // real "null" string value
    val keyFn: Row => String = r =>
      if (r.isNullAt(keyIdx)) "\u0000" else "v" + String.valueOf(r.get(keyIdx))
    df.groupByKey(keyFn)(Encoders.STRING)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val ordered = orderedRows(rows)
            if (ordered.isEmpty) Iterator.empty
            else {
              var st = state.getOption.getOrElse(init)
              val out = ordered.map { r =>
                val (next, v) = fold(st, r)
                st = next
                val cells =
                  if (outIdx >= 0) r.toSeq.updated(outIdx, v)
                  else r.toSeq :+ v
                Row.fromSeq(cells)
              }
              val last = ordered.last
              st = st.stamped(
                last.getAs[java.sql.Timestamp](tsIdx).getTime, eidOf(last))
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.tMs, state.getCurrentWatermarkMs() + 1))
              out.iterator
            }
          }
      }(Encoders.product[S], Encoders.row(outSchema))
  }

  /** Running aggregate per key: every event emits its input columns plus
    * `outCol` = fn over every value seen so far for the key (in
    * consumption order). fn ∈ sum | count | min | max; NULL values
    * contribute nothing (sum/min/max emit NULL until the first non-null,
    * count emits 0 — the batch frame conventions).
    */
  def running(df: DataFrame, keyCol: String, valueCol: String,
              fn: String, outCol: String): DataFrame = {
    require(Set("sum", "count", "min", "max")(fn),
      s"streaming accumulate supports sum|count|min|max, got '$fn' — a " +
        "running float avg would be association-order-dependent; derive " +
        "it from a running sum and count instead")
    val vIdx = longField(df, valueCol)
    keyedFold(df, keyCol, outCol, AccState(0L, 0L, 0L, 0L)) { (st0, r) =>
      val st =
        if (r.isNullAt(vIdx)) st0
        else {
          val v = r.getLong(vIdx)
          val acc = fn match {
            case "sum"   => st0.acc + v
            case "count" => 0L
            case "min"   => if (st0.n == 0) v else math.min(st0.acc, v)
            case "max"   => if (st0.n == 0) v else math.max(st0.acc, v)
          }
          st0.copy(n = st0.n + 1, acc = acc)
        }
      val emit: Any = fn match {
        case "count" => st.n
        case _       => if (st.n == 0) null else st.acc
      }
      (st, emit)
    }
  }

  /** Streaming partition(): 1-based sub-sequence index per key,
    * incremented whenever the value changes from the previous event
    * (null-safe: NULL→v and v→NULL are changes, NULL→NULL is not) —
    * the change() comparison runs on the value's string form, so any
    * column type keys the change detection (the index, not the value,
    * is what's emitted).
    */
  def partitionIdx(df: DataFrame, keyCol: String, valueCol: String,
                   outCol: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    keyedFold(df, keyCol, outCol, PartState(0L, 0L, None, 0L)) { (st0, r) =>
      val v: Option[String] =
        if (r.isNullAt(vIdx)) None else Some(String.valueOf(r.get(vIdx)))
      val st =
        if (st0.idx == 0L || v != st0.lastVal)
          st0.copy(lastVal = v, idx = st0.idx + 1)
        else st0
      (st, st.idx)
    }
  }

  /** Ring twin serving BOTH bounded sequence verbs: state is the last
    * `cap` values per key (rows, not non-null values). `mode` selects
    * the emission:
    *  - "sliding": `outCol` = fn over the last `cap` rows INCLUDING the
    *    current one (slidingWindow(events=cap));
    *  - "lag": `outCol` = the value of the row `cap` back (neighbor
    *    (distance=cap)); NULL when the key hasn't seen that many rows.
    */
  def ring(df: DataFrame, keyCol: String, valueCol: String, cap: Int,
           mode: String, fn: String, outCol: String): DataFrame = {
    require(cap >= 1, s"ring: cap must be >= 1, got $cap")
    require(Set("sliding", "lag")(mode), s"ring: bad mode '$mode'")
    require(Set("sum", "count", "min", "max")(fn),
      s"streaming slidingWindow supports sum|count|min|max, got '$fn'")
    val vIdx = longField(df, valueCol)
    // lag(distance=cap) needs cap+1 rows in hand (the current one plus
    // cap back); sliding(events=cap) needs cap including the current
    val keep = if (mode == "lag") cap + 1 else cap
    keyedFold(df, keyCol, outCol, RingState(0L, 0L, Vector.empty)) { (st0, r) =>
      val v: Option[Long] =
        if (r.isNullAt(vIdx)) None else Some(r.getLong(vIdx))
      val vs = (st0.vs :+ v).takeRight(keep)
      val emit: Any = mode match {
        case "lag" =>
          // the row cap back = head of a FULL ring
          if (vs.size == keep) vs.head.orNull else null
        case "sliding" =>
          val present = vs.flatten
          fn match {
            case "count" => present.size.toLong
            case _ if present.isEmpty => null
            case "sum" => present.sum
            case "min" => present.min
            case "max" => present.max
          }
      }
      (st0.copy(vs = vs), emit)
    }
  }
}
