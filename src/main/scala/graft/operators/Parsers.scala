package graft.operators

import graft.expressions.JsonStrField
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-event-type parser registry — the downstream parser-package layer
  * the reference delegates to Humio marketplace content
  * (`README.md:84-88`; the repo ships an EMPTY parser,
  * `siem-connector-enriched.yaml:1-5`): each event type declares which
  * payload fields are promoted to typed columns and under which parser
  * name; events of unregistered types pass through UNPARSED with their
  * rawstring intact (LogScale keeps unparsed events searchable — they
  * are never dropped).
  *
  * Scale shape: the whole registry compiles to ONE projection — a
  * when-chain per promoted column over the type column — so dispatch
  * runs inside whole-stage codegen at scan speed with zero shuffles,
  * and adding a parser is a metadata change, not a plan change.
  */
object Parsers {

  /** One promoted field: output column `name` = JSON `path` of the
    * payload, cast to `castTo` (a Spark SQL type name).
    *
    * `path` must be a TOP-LEVEL `$.key` reference — the extraction
    * ([[graft.expressions.JsonStrField]]) addresses top-level keys;
    * nested paths are rejected at plan time.
    */
  case class FieldSpec(name: String, path: String, castTo: String)

  /** A parser for one event type: its promoted fields + the parser name
    * recorded on every event it parses.
    */
  case class ParserSpec(parser: String, fields: Seq[FieldSpec])

  /** Apply `registry` (event-type → parser) to `df`.
    *
    * Adds: `parser` (the matching parser's name, NULL when unregistered),
    * `parsed` (1/0), and one column per DISTINCT promoted field name
    * across the registry — NULL for events whose type does not promote
    * that field. Column order: registry iteration order, first-seen.
    *
    * Each DISTINCT promoted key extracts via one codegen'd
    * [[graft.expressions.JsonStrField]] call (from_json string-form
    * semantics), cast per arm; repeated extracts of the same key dedup
    * through whole-stage-codegen subexpression elimination. All
    * promoted paths must be top-level (`$.key`) — the native extractor
    * addresses top-level keys only. (The previous shape — one shared
    * CodegenFallback `from_json` behind a Generate barrier — measured
    * 9.4 s warm at 10× data; this one 1.1 s.)
    */
  def applyRegistry(df: DataFrame, typeCol: Column, payloadCol: Column,
                    registry: Seq[(String, ParserSpec)]): DataFrame = {
    require(registry.nonEmpty, "empty parser registry")
    def jsonKey(path: String): String = {
      require(path.matches("""\$\.[A-Za-z_][A-Za-z0-9_]*"""),
        s"applyRegistry: only top-level $$.key paths are supported, got '$path'")
      path.drop(2)
    }
    // native per-key extraction (graft_json_str — from_json string-form
    // semantics per field): from_json is CodegenFallback, and its one
    // shared parse needed a Generate barrier to stop projection
    // collapse from re-running Jackson per field; the native calls stay
    // inside whole-stage codegen, where repeated extracts of the same
    // key dedup via subexpression elimination
    // distinct output fields, first-seen order; each compiles to one
    // when-chain over the event types that promote it
    val outFields = registry.flatMap(_._2.fields.map(_.name)).distinct
    val byField: Map[String, Seq[(String, FieldSpec)]] =
      registry.flatMap { case (t, spec) => spec.fields.map(f => (t, f)) }
        .groupBy(_._2.name)
    val parserCol = registry.tail.foldLeft(
      when(typeCol === registry.head._1, lit(registry.head._2.parser))) {
      case (w, (t, spec)) => w.when(typeCol === t, lit(spec.parser))
    }
    val fieldCols = outFields.map { name =>
      val arms = byField(name)
      def armCol(f: FieldSpec) =
        JsonStrField.call(payloadCol, lit(jsonKey(f.path)))
          .cast(f.castTo)
      arms.tail.foldLeft(
        when(typeCol === arms.head._1, armCol(arms.head._2))) {
        case (w, (t, f)) => w.when(typeCol === t, armCol(f))
      }.as(name)
    }
    df
      .withColumn("parser", parserCol)
      .withColumn("parsed", parserCol.isNotNull.cast("bigint"))
      .select(df.columns.map(col) ++ Seq(col("parser"), col("parsed")) ++ fieldCols: _*)
  }
}
