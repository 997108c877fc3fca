package graft

/** Registry of every session conf and scale cap in the engine, with
  * the proof that each one cannot silently diverge the Spark plan from
  * its DuckDB oracle — the industrialization of the round-14 sf1-sweep
  * lesson: the sweep caught ONE cap (the semdedup cellCap) whose oracles
  * ignored it because no gate SF made it bind; this registry enumerates
  * ALL of them so the next such gap cannot be introduced unnoticed.
  *
  * Every entry carries one of four defenses:
  *
  *  - [[RowsInvariant]] — a session conf that selects between plans with
  *    IDENTICAL output rows. There are three: the session memo, lineage
  *    capture for plan audits, and the checkpoint flavor.
  *    Any setting is oracle-safe; the evidence is a result-identity
  *    proof in a spec. No session conf may change output rows: a bound
  *    the oracles must replay is a constant or a count-scaled rule.
  *  - [[SpliceCap]] — a Scala constant interpolated into BOTH the Spark
  *    plan and the oracle SQL text from the single definition site. It
  *    cannot diverge unless the splice is deleted; [[CapAuditSpec]]
  *    asserts per entry that the rendered fragment still appears in the
  *    declared oracle SQL, and that the registry's recorded value still
  *    equals the live constant (retuning forces an audit touch).
  *  - [[ExactnessRegime]] — a bound BELOW which an approximate operator
  *    is exact and therefore shares an exact twin's oracle (GK-sketch
  *    accuracy, Misra–Gries capacity). The oracle does not replay the
  *    bound; instead a committed test asserts the gate fixtures sit
  *    strictly inside the regime, so a grown fixture fails loudly in
  *    the suite instead of as a mystery hash mismatch.
  *  - [[NoOracleSurface]] — a streaming-side limit with no batch oracle;
  *    defended by the streaming specs instead.
  */
object CapAudit {

  sealed trait Kind
  case object RowsInvariant extends Kind
  case object SpliceCap extends Kind
  case object ExactnessRegime extends Kind
  case object NoOracleSurface extends Kind

  /** One audited bound.
    *
    * @param id        conf key (`spark.graft.*`) or the constant's name
    * @param kind      defense class (see object doc)
    * @param value     recorded rendering of the default / constant —
    *                  [[CapAuditSpec]] asserts it equals the LIVE value,
    *                  so retuning a cap without touching its audit entry
    *                  fails the suite
    * @param bindsWhen when the bound starts to bite (the scale honesty
    *                  line: "never on gate fixtures" is exactly the r14
    *                  danger class and demands splice or regime proof)
    * @param evidence  the proof artifact: spec name, oracle splice, or
    *                  shared-oracle twin
    * @param fragments for [[SpliceCap]] entries: rendered SQL fragments
    *                  that must each appear in at least one
    *                  [[SparkEntry.oracleSql]] value (the structural
    *                  splice assert, CapReplaySpec-style)
    */
  final case class Entry(
      id: String,
      kind: Kind,
      value: String,
      bindsWhen: String,
      evidence: String,
      fragments: Seq[String] = Nil)

  import graft.operators.{Drift, LogAnalytics, Scale, Sketches}
  import graft.queries.{LogQueries, PipelineQueries => PQ}

  val entries: Seq[Entry] = Seq(
    // ── session confs: rows-invariant (any setting is oracle-safe) ──
    Entry(Scale.MemoConf, RowsInvariant, "false",
      "never — the session memo (staged subtrees, collected artifacts, " +
        "codebooks, compiled pipe queries) only changes WHERE and HOW " +
        "OFTEN a result is computed; its budget evicts staged entries, " +
        "which recompute with identical rows",
      "ScaleSpec (memo on/off identity, budget eviction), HumioQuerySpec " +
        "plan-memo test; Verify/Bench run memo=true against the same " +
        "oracles the memo-off suite passes"),
    Entry(Scale.StageCaptureConf, RowsInvariant, "false",
      "never — lineage capture writes side artifacts, not query rows",
      "ScaleSpec"),
    Entry(Scale.ReliableCheckpointConf, RowsInvariant, "false",
      "never — checkpoint flavor, rows unchanged",
      "ScaleSpec"),

    // ── constants: spliced into both engines from one definition ──
    Entry("PipelineQueries.SEMDEDUP_CELL_CAP", SpliceCap,
      PQ.SEMDEDUP_CELL_CAP.toString,
      "cells outgrow 1024 around sf1 (the r14 sweep catch)",
      "capIdsSql splices the md5-ordered cap into all five family " +
        "oracles; CapReplaySpec pins member identity at cap=4",
      fragments = Seq(s"pos <= ${PQ.SEMDEDUP_CELL_CAP}",
        "md5(CAST(vec_id AS VARCHAR))")),
    Entry("PipelineQueries.PROBE_CAP", SpliceCap, PQ.PROBE_CAP.toString,
      "binds from sf0.1 up (2000 embeddings > 500; sf0.001/sf0.01 have " +
        "exactly 500, fully covered) — every committed sf0.1/sf1 sweep " +
        "exercises the binding regime",
      "oracle SQL interpolates the constant (vec_id < cap both sides)",
      fragments = Seq(s"vec_id < ${PQ.PROBE_CAP}")),
    Entry("PipelineQueries.PQ_PROBE_CAP", SpliceCap, PQ.PQ_PROBE_CAP.toString,
      "binds when vector count exceeds 2000 — first at sf1 (20k); the " +
        "committed sf1 sweep (CORRECTNESS_SF1) exercises the binding regime",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"vec_id < ${PQ.PQ_PROBE_CAP}")),
    Entry("PipelineQueries.KNN_CAP", SpliceCap, PQ.KNN_CAP.toString,
      "always at gate scale",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"vec_id < ${PQ.KNN_CAP}")),
    Entry("PipelineQueries.RETR_CAP", SpliceCap, PQ.RETR_CAP.toString,
      "always at gate scale",
      "oracle SQL interpolates the constant on both the doc and vector side",
      fragments = Seq(s"vec_id < ${PQ.RETR_CAP}", s"doc_id < ${PQ.RETR_CAP}")),
    Entry("PipelineQueries.DEDUP_EVAL_CAP", SpliceCap, PQ.DEDUP_EVAL_CAP.toString,
      "always at gate scale (doc count > 500)",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"doc_id < ${PQ.DEDUP_EVAL_CAP}")),
    Entry("PipelineQueries.LSH_BUCKET_CAP", SpliceCap, PQ.LSH_BUCKET_CAP.toString,
      "a (table, bucket) group exceeds 128 vectors — NOT at gate SFs; " +
        "the r14 danger class, hence the splice AND the binding unit test",
      "oracle replays the same vec_id-ordered row_number cap " +
        "(lshMtPrefix); CapAuditSpec binds it at cap=2 in-suite",
      fragments = Seq(s"pos <= ${PQ.LSH_BUCKET_CAP}")),
    Entry("PipelineQueries.WINNOW_DF_CAP", SpliceCap, PQ.WINNOW_DF_CAP.toString,
      "a fingerprint's doc frequency exceeds 20 (binds at gate scale)",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"count(*) <= ${PQ.WINNOW_DF_CAP}")),
    Entry("PipelineQueries.CONT_DF_CAP", SpliceCap, PQ.CONT_DF_CAP.toString,
      "a gram's doc frequency exceeds 8 (binds at gate scale)",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"BETWEEN 2 AND ${PQ.CONT_DF_CAP}")),
    Entry("PipelineQueries.DP_MAG_CAP", SpliceCap, PQ.DP_MAG_CAP.toString,
      "noise magnitude truncation — binds with probability 2^-33 per row " +
        "regardless of scale (no fixture can ever witness it)",
      "dpMagSql is ONE generated CASE string executed by both engines; " +
        "CapAuditSpec observes the ELSE arm BINDING at the exact u < 2^31 " +
        "boundary",
      fragments = Seq(s"ELSE ${PQ.DP_MAG_CAP} END")),
    Entry("PipelineQueries.PACK_BUDGET", SpliceCap, PQ.PACK_BUDGET.toString,
      "always — every doc is cut into 512-token bins",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"// ${PQ.PACK_BUDGET}")),
    Entry("PipelineQueries.CHUNK_BUDGET", SpliceCap, PQ.CHUNK_BUDGET.toString,
      "docs longer than 32 tokens (binds at gate scale)",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"least(${PQ.CHUNK_BUDGET},")),
    Entry("LogQueries.SLO_BUDGET", SpliceCap, LogQueries.SLO_BUDGET.toString,
      "always — the burn-rate denominator",
      "oracle SQL interpolates the constant",
      fragments = Seq(s"/ ${LogQueries.SLO_BUDGET}")),
    Entry("Drift.REF_K", SpliceCap, Drift.REF_K.toString,
      "bin cardinality exceeds 1024 — NOT at gate SFs (event_type " +
        "cardinality is ~10); the oracle replays the FULL top-K+OOV " +
        "lumping rule, so binding cannot diverge it",
      "driftCtes replays LIMIT REF_K + '__oov__' lumping; Spark side " +
        "routes through mapCountsToRef so an OOV tail is handled, not " +
        "dropped; CapAuditSpec binds the lump at REF_K-exceeding " +
        "cardinality in-suite",
      fragments = Seq(s"LIMIT ${Drift.REF_K}", "__oov__")),
    Entry("Sketches.BLOOM_TIERS", SpliceCap,
      Sketches.BLOOM_TIERS.mkString(","),
      "tier selection moves with insert count; top tier saturates past " +
        "n = 2^24/(2*BLOOM_K) — beyond every fixture",
      "bloomMCaseSql replays the identical integer tiering from count(*) " +
        "in the oracle — SF-independent by construction; SketchesSpec's " +
        "boundary test evaluates the CASE at every tier edge INCLUDING " +
        "the top-tier ELSE arm, and CurationGateSpec's m=2^8 run observes " +
        "a SATURATED bitmap degrading to zero-FN pass-through",
      fragments = Seq(s"ELSE ${Sketches.BLOOM_TIERS.last} END")),

    // ── exactness-regime bounds (fixture must sit inside the regime) ──
    Entry("LogAnalytics.SKETCH_EXACT_ACCURACY", ExactnessRegime,
      LogAnalytics.SKETCH_EXACT_ACCURACY.toString,
      "a group outgrows the accuracy (exact regime ends; 2^20 covers " +
        "the gate fixtures ~50x, so no sweep can reach the end)",
      "LogAnalyticsSpec asserts max group < accuracy on BOTH gate SFs; " +
        "l_percentile_sketch shares the exact quantile_disc oracle only " +
        "inside the regime; CapAuditSpec observes the bound BINDING at " +
        "accuracy=100 over a 10k-row group (GK rank error within " +
        "n/accuracy)"),
    Entry("LogQueries.TOPK_SKETCH_CAP", ExactnessRegime,
      LogQueries.TOPK_SKETCH_CAP.toString,
      "distinct event_type exceeds the Misra-Gries capacity (exact " +
        "regime ends; gate cardinality is ~10, so no sweep reaches it)",
      "l_topk_sketch shares l_topk's exact oracle only inside the " +
        "regime; CapAuditSpec asserts gate-fixture cardinality < cap; " +
        "LogAnalyticsSpec's eviction test observes the capacity BINDING " +
        "(201 keys at capacity 8, MG undercount bound n/(cap+1) held)"),

    // ── streaming-side limits (no batch oracle) ──
    Entry("FalconSource ReadMaxRows admission", NoOracleSurface,
      "per-batch row limit from ReadLimit",
      "every microbatch — admission control, not a query result",
      "FalconSourceSpec + StreamingSpec replay/resume tests")
  )

  /** The `spark.graft.*` keys this registry audits — [[CapAuditSpec]]
    * asserts this set equals the literals found in the main source tree
    * (the staleness gate: a NEW conf without an audit entry fails).
    */
  def confKeys: Set[String] =
    entries.map(_.id).filter(_.startsWith("spark.graft.")).toSet
}
