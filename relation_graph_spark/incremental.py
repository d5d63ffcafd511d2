"""Delta-restricted incremental materialization across micro-batches.

The streaming pipeline's scale path: instead of re-running the full R1-R4
fixpoint over all accumulated told axioms per micro-batch, maintain a
ClosureState and extend it with just the batch's delta:

- incremental transitive closure: new pairs are exactly those with >= 1 new
  edge on some path, found by composing the delta against the accumulated
  closure from BOTH sides until fixpoint (O(log diameter) rounds, same
  'smart' discipline as closure.transitive_closure);
- delta-restricted R3: a new relation row needs >= 1 new input among
  {subject-closure pair, told existential, filler-closure pair, property-
  closure pair}; four derivation passes each restricted to one delta side
  cover all of them (overlaps removed by the distinct), then an anti-join
  against the accumulated rel keeps only genuinely new rows.

- delta-sized R4 equivalence feedback: sc facts derived from rel rows
  matching an AX_EQUIV_SOME definition re-enter R1/R3 as incremental rounds
  (the same machinery materialize_edges uses for its feedback loop,
  reference RelationGraph.scala:217-230). Steady-state batches under
  existing definitions pay delta-sized work — only NEW rel rows can fire a
  definition they have not fired before. A batch that introduces a NEW
  definition additionally pays one broadcast-join scan (never a shuffle)
  over the accumulated rel to activate the definition against history — a
  vocabulary-rare event, not a per-batch cost.

Output effects that RETRACT rows (late unsatisfiability suppressing rows
whose object turned unsat; late mutual subsumption upgrading an emitted
subClassOf row to reciprocal owl:equivalentClass rows under
equivalence_as_subclass=False) are first-class: `assemble_delta` returns
(new_rows, retracted_rows) and the sink tombstones the retractions, so the
live sink contents always equal the one-shot batch materialization.
Retractions are permanent (entailment, unsatisfiability and mutuality all
grow monotonically with told input), so a tombstoned edge hash can never be
legitimately re-emitted — tombstones compose safely across batches.

State frames persist as a snapshot plus per-batch deltas under the
pipeline's work dir, versioned by batch id and made visible by the same
manifest protocol as the sink, so crash/replay rebuilds identical state
without O(history) writes per batch.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from relation_graph_spark import tokens as T
from relation_graph_spark.closure import (
    FixpointDidNotConverge,
    incremental_tc,
    reflexive,
    star_union,
)
from relation_graph_spark.config import RGConfig
from relation_graph_spark.materialize import (
    _INCREMENTAL_FEEDBACK_THRESHOLD,
    _match_class,
    _spo,
    cycle_pairs,
    derive_relations,
    derive_star_delta,
    existential_rows,
    feedback_round,
    fire_definitions,
    individual_rows,
    materialize_edges,
    new_star_pairs,
    property_star,
    reflexive_rows,
    scan_max_token,
    star_delta_stats,
    taxonomy_pairs,
    taxonomy_rows,
    type_rows,
)

# persisted state frames (everything else derives cheaply on load)
STATE_FRAMES = [
    "sc",  # told subclass edges incl. R4-derived (post-feedback)
    "some",
    "def_some",
    "sp",
    "classes",
    "props",
    "assertions",
    "sc_tc",  # transitive closure of sc
    "rel",  # accumulated R3 output
]

# Derived closure frames persisted ALONGSIDE the told frames (dir name ->
# in-memory state key), so a running job can re-point EVERY frame at the
# on-disk store after each batch's persist (repoint_state). Re-pointing is
# load-bearing beyond ~15 batches: chaining localCheckpointed Datasets
# across batches carries each batch's Catalyst statistics forward
# (LogicalRDD originStats), and join-stat PRODUCTS make the sizeInBytes
# BigInt double its digit count per batch — planning time then grows
# exponentially (measured: minutes per batch by batch ~20, all of it in
# BigInteger.multiply under SizeInBytesOnlyStatsPlanVisitor). Parquet-backed
# frames re-anchor statistics at real file sizes every batch — which is
# also the honest cluster architecture: state lives in the bucketed store,
# not in driver-chained Dataset lineage.
DERIVED_FRAMES = {"sc_star": "_sc_star", "sp_star": "_sp_star"}

# frames whose delta dir may OVERLAP earlier content (the tiny property
# closure is rewritten in full when a property edge arrives) — deduped on
# load; every other frame unions disjoint pieces
DEDUP_ON_LOAD = {"sp_star"}

PERSISTED_FRAMES = STATE_FRAMES + list(DERIVED_FRAMES)

# The accumulated `rel` frame — the only state frame that grows with the
# input stream rather than the vocabulary — is persisted HASH-BUCKETED by
# pmod(xxhash64(s, p, o), REL_BUCKETS) (partitionBy("bucket") on write, the
# offline analog of a bucket-partitioned Iceberg state table). The per-batch
# rel-delta dedup anti-join then reads ONLY the buckets the delta touches
# (partition pruning at the parquet scan), so the history side of the one
# O(|rel|) join in the fast path is bounded by delta-touched buckets, not
# total history. At cluster scale the same layout makes the anti-join a
# storage-partitioned join.
REL_BUCKETS = int(os.environ.get("RGS_REL_BUCKETS", "32"))


def _rel_bucket() -> F.Column:
    return F.pmod(
        F.xxhash64(F.col("s"), F.col("p"), F.col("o")), F.lit(REL_BUCKETS)
    ).cast("int")


def _paths_with_files(paths: list[str]) -> list[str]:
    """A partitionBy write of an empty frame leaves a dir with no data files
    (nothing to name a partition dir after) — filter those out before read."""
    out = []
    for p in paths:
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                out.append(p)
                break
    return out


def _read_rel_bucketed(spark: SparkSession, rel_paths: list[str]) -> DataFrame:
    """One scan per snapshot/delta root, unioned: Spark's partition discovery
    refuses multiple roots in a single read, and a bucket filter above the
    union still pushes down into every scan (partition pruning per root)."""
    live = _paths_with_files(rel_paths)
    if not live:
        return spark.createDataFrame([], "s int, p int, o int, bucket int")
    df = spark.read.parquet(live[0])
    for p in live[1:]:
        df = df.unionByName(spark.read.parquet(p))
    return df


def read_rel(spark: SparkSession, rel_paths: list[str]) -> DataFrame:
    """Disk-backed logical view of the accumulated rel (bucket column
    dropped); snapshot + delta paths are disjoint by construction."""
    return _read_rel_bucketed(spark, rel_paths).drop("bucket")


# per-batch pruning evidence, populated when RGS_PRUNE_EVIDENCE is set:
# {"touched_buckets": n, "touched_bytes": b, "total_bytes": B} per fast-path
# batch — bench_stream reports touched/total to show the history-side scan
# is bounded by the delta's bucket footprint, not total history
PRUNE_STATS: list[dict] = []


def _prune_evidence(rel_paths: list[str], touched: list[int]) -> dict:
    tset = {f"bucket={b}" for b in touched}
    touched_bytes = total_bytes = 0
    for root_path in rel_paths:
        for droot, _dirs, files in os.walk(root_path):
            sz = sum(
                os.path.getsize(os.path.join(droot, f))
                for f in files
                if f.endswith(".parquet")
            )
            total_bytes += sz
            if os.path.basename(droot) in tset:
                touched_bytes += sz
    return {
        "touched_buckets": len(touched),
        "touched_bytes": touched_bytes,
        "total_bytes": total_bytes,
    }


def initial_state(told: dict[str, DataFrame], cfg: RGConfig) -> dict[str, DataFrame]:
    m = materialize_edges(told, cfg)
    return {
        "sc": m["sc_final"],
        "some": told["some"].dropDuplicates(),
        "def_some": told["def_some"].dropDuplicates(),
        "sp": told["sp"].dropDuplicates(),
        "classes": m["classes"],
        "props": told["props"],
        "assertions": told["assertions"].dropDuplicates(),
        "sc_tc": m["sc_closure"],
        "rel": m["rel"],
        # derived carry-forward, seeded from the fixpoint's own frames
        "_sc_star": m["sc_star"],
        "_sp_star": m["sp_star"],
        "_n_some": m["_n_some"],
        "_n_def": m["_n_def"],
        "_has_bot": m["_has_bot"],
    }


def _ensure_derived(state: dict[str, DataFrame], cfg: RGConfig) -> None:
    """Populate the in-memory derived-frame/stat cache if absent (fresh
    restart or a state produced before these keys existed). One-time
    O(closure) cost per process, not per batch."""
    if "_sc_star" not in state:
        state["_sc_star"] = star_union(
            state["sc_tc"], state["classes"], "c", "sub", "sup", top=T.TOP
        ).localCheckpoint(eager=False)
    if "_sp_star" not in state:
        state["_sp_star"] = property_star(state["sp"], state["props"], cfg)
    if "_n_sc_star" not in state:
        state["_n_sc_star"] = state["_sc_star"].count()
    if "_n_sp_star" not in state:
        state["_n_sp_star"] = state["_sp_star"].count()
    if "_n_some" not in state:
        state["_n_some"] = state["some"].count()
    if "_n_def" not in state:
        state["_n_def"] = state["def_some"].count()
    if "_max_token" not in state:
        state["_max_token"] = scan_max_token(
            state["_sc_star"], state["_sp_star"], state["some"]
        )


def output_frames(state: dict[str, DataFrame], cfg: RGConfig) -> dict[str, DataFrame]:
    """Reconstruct the frame dict assemble_output expects from a state.

    When the running `_has_bot` stat proves no (x, owl:Nothing) pair has
    ever entered the closure, unsat is a STATICALLY-empty frame (a
    where(false) filter, not a checkpoint) — Catalyst's
    PropagateEmptyRelation then folds every downstream unsat anti-join out
    of the per-batch plans, and the bottom-rule fixpoint is skipped
    entirely. `_has_bot is None` (restart, legacy state) falls back to the
    full computation."""
    from relation_graph_spark.materialize import compute_unsat

    sc_star = state.get("_sc_star")
    if sc_star is None:
        sc_star = star_union(
            state["sc_tc"], state["classes"], "c", "sub", "sup", top=T.TOP
        )
    if state.get("_has_bot") is False:
        unsat = sc_star.where(F.lit(False)).select(F.col("sub").alias("c"))
    else:
        unsat = compute_unsat(sc_star, state["some"], cfg)
    return {
        "rel": state["rel"],
        "sc_closure": state["sc_tc"],
        "sc_star": sc_star,
        "unsat": unsat,
        "classes": state["classes"],
        "assertions": state["assertions"],
    }


def _anti_join_rel_history(
    rel_delta: DataFrame,
    state: dict[str, DataFrame],
    rel_paths: list[str] | None,
) -> DataFrame:
    """Deduplicate a candidate (s, p, o) delta against the ACCUMULATED rel —
    the one join against history in the per-batch path. With a persisted
    bucket layout the history side is pruned at the parquet scan to the
    buckets the delta touches (input bytes bounded by the delta's bucket
    footprint, not total history); without one (first batch of a fresh job,
    direct apply_delta callers) it falls back to a plain anti-join against
    the in-memory frame."""
    rel_delta = rel_delta.dropDuplicates()
    if rel_paths:
        spark = state["rel"].sparkSession
        delta_b = rel_delta.withColumn("bucket", _rel_bucket()).localCheckpoint(
            eager=False
        )
        touched = [r["bucket"] for r in delta_b.select("bucket").distinct().collect()]
        if touched and os.environ.get("RGS_PRUNE_EVIDENCE"):
            PRUNE_STATS.append(_prune_evidence(rel_paths, touched))
        if not touched:
            return delta_b.drop("bucket")
        hist = (
            _read_rel_bucketed(spark, rel_paths)
            .where(F.col("bucket").isin(touched))
            .select("s", "p", "o")
        )
        return (
            delta_b.drop("bucket")
            .join(hist, on=["s", "p", "o"], how="left_anti")
            .localCheckpoint(eager=False)
        )
    return rel_delta.join(
        state["rel"], on=["s", "p", "o"], how="left_anti"
    ).localCheckpoint(eager=False)


def apply_delta(
    state: dict[str, DataFrame],
    delta_told: dict[str, DataFrame],
    cfg: RGConfig,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame] | None]:
    """Fold a micro-batch's told delta into the state (see module doc).

    Returns (new_state, state_deltas). state_deltas maps each STATE_FRAME to
    the rows ADDED this batch (disjoint from the old frame) — the basis for
    delta-sized emission and delta-sized state persistence. Equivalence
    feedback (AX_EQUIV_SOME) stays on this delta-sized path: R4 rounds run
    incrementally after the monotone fold (see module doc).
    """
    # ------- monotone fold (everything except R4 feedback) --------------
    #
    # Every `X_new` below is a DISJOINT union: the delta is deduplicated at
    # its own (batch) size, anti-joined against the state frame, then
    # unioned plain — no O(state) dropDuplicates shuffle anywhere in the
    # per-batch path. Derived frames (sc_star, sp_star) and scalar stats
    # (side row counts, max token) are carried forward incrementally via
    # cache keys ("_sc_star", "_sp_star", "_n_sides", "_max_token") instead
    # of being recomputed from the full state each batch.
    _ensure_derived(state, cfg)

    d_classes = (
        delta_told["classes"].join(state["classes"], on=["c"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    classes_new = state["classes"].unionByName(d_classes).localCheckpoint(eager=False)
    d_props = (
        delta_told["props"].join(state["props"], on=["p"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    props_new = state["props"].unionByName(d_props).localCheckpoint(eager=False)

    d_sc = (
        delta_told["sc"].dropDuplicates()
        .join(state["sc"], on=["sub", "sup"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    sc_new = state["sc"].unionByName(d_sc)
    d_sp = (
        delta_told["sp"].dropDuplicates()
        .join(state["sp"], on=["sub", "sup"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    d_some = (
        delta_told["some"].dropDuplicates()
        .join(state["some"], on=["s", "p", "f"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    d_def = (
        delta_told["def_some"].dropDuplicates()
        .join(state["def_some"], on=["f", "p", "o"], how="left_anti")
        .localCheckpoint(eager=False)
    )

    # ONE combined stats job over all told-delta frames: per-frame row count
    # (emptiness decisions, running stats) + max token (packability), where
    # the per-frame emptiness probes and the separate max scan used to cost
    # ~6 driver round trips per batch. The union also materializes every
    # delta checkpoint in a single job with its branches running in parallel
    # (guide §1.2: per-job fixed cost dominates at delta scale; a
    # thread-per-probe variant was measured and showed no improvement over
    # the single union-agg job).
    def _stat(df: DataFrame, name: str, mx: F.Column) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"), mx.cast("bigint").alias("mx")
        ).select(F.lit(name).alias("f"), "n", "mx")

    stats_df = (
        _stat(d_classes, "classes", F.max("c"))
        .unionByName(_stat(d_props, "props", F.max("p")))
        .unionByName(_stat(d_sc, "sc", F.max(F.greatest("sub", "sup"))))
        .unionByName(_stat(d_sp, "sp", F.max(F.greatest("sub", "sup"))))
        .unionByName(_stat(d_some, "some", F.max(F.greatest("s", "p", "f"))))
        .unionByName(_stat(d_def, "def_some", F.lit(None)))
    )
    stats = {r["f"]: (r["n"], r["mx"]) for r in stats_df.collect()}
    n_d_props = stats["props"][0]
    n_d_some = stats["some"][0]
    n_d_def = stats["def_some"][0]
    d_max = max(
        (m for _n, m in stats.values() if m is not None), default=None
    )
    # _n_sc_star (tc + reflexive + top rows) upper-bounds |sc_tc|: a valid
    # hint for the driver fast path / broadcast decision in incremental_tc
    sc_tc_new, d_tc = incremental_tc(
        state["sc_tc"],
        d_sc,
        max_iterations=cfg.max_iterations,
        broadcast_row_threshold=cfg.broadcast_row_threshold,
        old_tc_rows=state["_n_sc_star"],
    )

    sp_new = state["sp"].unionByName(d_sp)
    sp_changed = stats["sp"][0] > 0
    props_changed = n_d_props > 0
    if sp_changed:
        # property edges arrived: re-close the (tiny, vocabulary-sized)
        # property hierarchy
        sp_star_new = property_star(sp_new, props_new, cfg)
        n_sp_star = sp_star_new.count()
        d_sp_star = sp_star_new  # full rewrite; store dedups on load
    elif props_changed:
        # only new property tokens: extend with their reflexive pairs
        d_sp_refl = reflexive(d_props, "p", "sub", "sup")
        sp_star_new = state["_sp_star"].unionByName(d_sp_refl).localCheckpoint(eager=False)
        n_sp_star = None
        d_sp_star = d_sp_refl
    else:
        sp_star_new = state["_sp_star"]
        n_sp_star = None
        d_sp_star = state["_sp_star"].where(F.lit(False))

    n_some = state["_n_some"] + n_d_some
    some_new = state["some"].unionByName(d_some)

    # delta closure pairs incl. reflexive/top pairs of newly-seen classes.
    # The pieces are pairwise disjoint by construction (d_tc minus its
    # self-pairs and TOP-pairs — both already covered by the reflexive/top
    # rows of whichever batch introduced the class), so sc_star extends by
    # plain union, no O(closure) dedup.
    d_star = (
        new_star_pairs(d_tc)
        .unionByName(reflexive(d_classes.where(F.col("c") != T.TOP), "c", "sub", "sup"))
        .unionByName(
            d_classes.select(
                F.col("c").alias("sub"), F.lit(T.TOP).cast("int").alias("sup")
            )
        )
        .localCheckpoint(eager=False)
    )
    n_d_star, bot_new = star_delta_stats(d_star)
    sc_star_new = state["_sc_star"].unionByName(d_star).localCheckpoint(eager=False)

    thr = cfg.broadcast_row_threshold
    # running side stats: broadcast decision + packability without a
    # per-batch O(closure) count/max scan
    n_sp_old = state["_n_sp_star"]
    n_sp_new = n_sp_star if n_sp_star is not None else (n_sp_old + n_d_props)
    n_sides = state["_n_sc_star"] + n_d_star + n_sp_new
    sides_small = thr > 0 and n_sides <= thr
    max_tok = max(state["_max_token"] or -1, d_max if d_max is not None else -1)
    if max_tok < 0:
        max_tok = None
    kw = {
        "sides_broadcast": sides_small,
        "max_token": max_tok or (1 << 40),
        # fused R3 below the crossover: at delta scale the staged plan's
        # intermediate dedups + checkpoints cost more jobs than they save
        "staged": n_some > _INCREMENTAL_FEEDBACK_THRESHOLD,
    }

    passes = []
    if n_d_star > 0:
        # >=1 new subject-closure pair / >=1 new filler-closure pair
        passes.append(
            derive_star_delta(sc_star_new, some_new, sp_star_new, d_star, thr, **kw)
        )
    if n_d_some > 0:
        # >=1 new told existential
        passes.append(derive_relations(sc_star_new, d_some, sp_star_new, thr, **kw))
    if sp_changed:
        # property hierarchy grew: conservatively re-derive with the full
        # (tiny) property closure over all told existentials
        passes.append(derive_relations(sc_star_new, some_new, sp_star_new, thr, **kw))
    if not passes:
        passes = [state["rel"].where(F.lit(False)).select("s", "p", "o")]
    rel_delta = passes[0]
    for p in passes[1:]:
        rel_delta = rel_delta.unionByName(p)
    rel_paths: list[str] | None = state.get("_rel_paths")  # type: ignore[assignment]
    rel_delta = _anti_join_rel_history(rel_delta, state, rel_paths)

    # ------- R4 equivalence feedback, delta-sized -----------------------
    # sc facts derived from rel x def_some re-enter R1/R3 (reference
    # RelationGraph.scala:217-230). Candidates come from the batch's NEW rel
    # rows against all definitions, plus — only when a NEW definition
    # arrived — one broadcast-join scan of the accumulated rel to activate
    # it against history. Each round is materialize.feedback_round (the
    # batch engine's round step: new sc facts -> incremental TC ->
    # delta-restricted R3); its rel rows are then deduplicated against
    # history, since every round's rel delta is emitted exactly.
    def_new = state["def_some"].unionByName(d_def)
    n_def = state["_n_def"] + n_d_def
    d_sc_feedback = d_sc.where(F.lit(False))
    d_tc_all = d_tc
    d_star_all = d_star
    n_star_total = n_d_star
    if n_def > 0:
        def_b = F.broadcast(def_new.dropDuplicates())
        cand = fire_definitions(rel_delta, def_b)
        if n_d_def > 0:
            # late definition: one-time activation against committed history
            # (broadcast join over the bucketed rel scan — no shuffle)
            cand = cand.unionByName(
                fire_definitions(state["rel"], F.broadcast(d_def))
            ).dropDuplicates()
        for _round in range(cfg.max_iterations):
            new_sc_r = cand.join(
                sc_new, on=["sub", "sup"], how="left_anti"
            ).localCheckpoint(eager=False)
            if new_sc_r.isEmpty():
                break
            d_sc_feedback = d_sc_feedback.unionByName(new_sc_r)
            r = feedback_round(
                new_sc_r,
                sc_new,
                sc_tc_new,
                sc_star_new,
                some_new,
                sp_star_new,
                cfg,
                kw,
                old_tc_rows=state["_n_sc_star"] + n_star_total,
                n_sides=n_sides,
            )
            sc_new, sc_tc_new, sc_star_new = r.sc, r.sc_tc, r.sc_star
            d_tc_all = d_tc_all.unionByName(r.d_tc).localCheckpoint(eager=False)
            if r.rel_d is None:
                break  # facts were already entailed; no new rel can arise
            bot_new += r.n_bot
            n_star_total += r.n_star
            n_sides += r.n_star
            d_star_all = d_star_all.unionByName(r.d_star)
            rel_r = _anti_join_rel_history(r.rel_d, state, rel_paths).join(
                rel_delta, on=["s", "p", "o"], how="left_anti"
            ).localCheckpoint(eager=False)
            rel_delta = rel_delta.unionByName(rel_r)
            cand = fire_definitions(rel_r, def_b)
        else:
            raise FixpointDidNotConverge(
                f"streaming R4 feedback did not converge in {cfg.max_iterations} rounds"
            )

    rel_new = state["rel"].unionByName(rel_delta)

    d_assertions = (
        delta_told["assertions"].dropDuplicates()
        .join(state["assertions"], on=["ind", "c"], how="left_anti")
        .localCheckpoint(eager=False)
    )

    new_state = {
        "sc": sc_new,
        "some": some_new,
        "def_some": def_new,
        "sp": sp_new,
        "classes": classes_new,
        "props": props_new,
        "assertions": state["assertions"].unionByName(d_assertions),
        "sc_tc": sc_tc_new,
        "rel": rel_new,
        # derived carry-forward (in-memory only; rebuilt lazily on restart)
        "_sc_star": sc_star_new,
        "_sp_star": sp_star_new,
        "_n_sc_star": state["_n_sc_star"] + n_star_total,
        "_n_sp_star": n_sp_new,
        "_n_some": n_some,
        "_n_def": n_def,
        # True once any (x, owl:Nothing) closure pair is seen; False only
        # when provably never seen; None = unknown (restart) -> callers
        # fall back to computing unsat
        "_has_bot": True if bot_new > 0 else state.get("_has_bot"),
        "_max_token": max_tok,
    }
    if rel_paths:
        # stale until the caller persists this batch and re-points it
        new_state["_rel_paths"] = rel_paths
    if "_frame_paths" in state:
        new_state["_frame_paths"] = state["_frame_paths"]
    deltas = {
        # told delta + R4-derived feedback facts: the persisted sc frame must
        # reconstruct the same told-plus-derived set initial_state seeds
        "sc": d_sc.unionByName(d_sc_feedback),
        "some": d_some,
        "def_some": d_def,
        "sp": d_sp,
        "classes": d_classes,
        "props": d_props,
        "assertions": d_assertions,
        "sc_tc": d_tc_all,
        "rel": rel_delta,
        # derived-frame deltas, persisted so repoint_state can re-anchor the
        # carried-forward closures at the on-disk store each batch
        "sc_star": d_star_all,
        "sp_star": d_sp_star,
    }
    return new_state, deltas


def assemble_from_state(state: dict[str, DataFrame], cfg: RGConfig) -> DataFrame:
    from relation_graph_spark.materialize import assemble_output

    return assemble_output(output_frames(state, cfg), cfg)


def assemble_delta(
    state_new: dict[str, DataFrame],
    deltas: dict[str, DataFrame],
    prev_unsat: DataFrame,
    cfg: RGConfig,
) -> tuple[DataFrame, DataFrame, DataFrame, bool]:
    """Delta-sized output assembly for the monotone fast path.

    Returns (new_rows, retracted_rows, unsat_new, needs_dedup): `new_rows`
    are output rows the batch adds; `retracted_rows` are previously-valid
    rows the batch invalidates — late unsatisfiability suppresses rows whose
    object turned unsat, and (under equivalence_as_subclass=False) a late
    reverse subsumption upgrades an emitted subClassOf row to reciprocal
    owl:equivalentClass rows. Retraction inputs (unsat delta, mutual pairs)
    are vocabulary-sized, so the only history-sized work is a filter-scan of
    the accumulated rel when the unsat set actually grew — never a shuffle.
    unsat_new is handed back so the caller can carry it into the next batch
    without recomputing.

    Class-mode rows are exact (disjoint from committed history) —
    needs_dedup is False. With cfg.output_individuals the individual row
    families are derived from delta joins (new assertions x accumulated
    closure, accumulated assertions x closure delta); an individual row can
    gain a SECOND derivation from a new batch while already committed via
    an earlier one, so needs_dedup=True tells the caller to drop
    already-committed keys (the sink's bucket-pruned dedup_new) before
    appending. Individual retractions only arise from unsat growth on the
    existential family (rdf:type rows are not unsat-gated, mirroring
    assemble_output), and suppression is total per object class, so
    tombstoning remains sound under multiple derivations.
    """
    frames = output_frames(state_new, cfg)
    if state_new.get("_has_bot") is False:
        # no (x, owl:Nothing) pair has ever entered the closure: unsat is a
        # statically-empty frame (see output_frames) and unsat growth is
        # impossible — zero jobs here, and Catalyst folds the anti-joins
        # below away entirely
        unsat_new = frames["unsat"]
        unsat_delta = unsat_new
        grew_unsat = False
    else:
        unsat_new = frames["unsat"].localCheckpoint(eager=False)
        unsat_delta = unsat_new.join(prev_unsat, on="c", how="left_anti").localCheckpoint(eager=False)
        grew_unsat = not unsat_delta.isEmpty()

    spark = state_new["rel"].sparkSession
    empty = spark.createDataFrame([], "s int, p int, o int")
    new_rows, retracted = empty, empty

    # ---- existential rows -------------------------------------------------
    rel_rows = existential_rows(deltas["rel"], cfg, unsat_new)
    if grew_unsat:
        # previously-emitted existential rows whose object turned unsat
        old_rel = state_new["rel"].join(deltas["rel"], on=["s", "p", "o"], how="left_anti")
        bad_rel = _match_class(existential_rows(old_rel, cfg), "o", unsat_delta, "left_semi")
    if cfg.output_classes:
        new_rows = new_rows.unionByName(rel_rows)
        if grew_unsat:
            retracted = retracted.unionByName(bad_rel)

    # ---- individual existential rows ---------------------------------------
    # New pairs come from (new assertions x all valid rel) and (all
    # assertions x new valid rel); the union can re-derive an
    # already-committed row through a second class, so needs_dedup=True.
    needs_dedup = False
    if cfg.output_individuals:
        needs_dedup = True
        a_all = state_new["assertions"]
        d_a = deltas["assertions"]
        new_assertions = not d_a.isEmpty()
        ind_exist = individual_rows(a_all, rel_rows)
        if new_assertions:
            ind_exist = ind_exist.unionByName(
                individual_rows(d_a, existential_rows(state_new["rel"], cfg, unsat_new))
            )
        new_rows = new_rows.unionByName(ind_exist.dropDuplicates())
        if grew_unsat:
            # individual rows whose underlying rel row was suppressed —
            # suppression is per-object, so EVERY derivation of the row dies
            # with it and the tombstone is total
            retracted = retracted.unionByName(
                individual_rows(a_all, bad_rel).dropDuplicates()
            )

    # ---- taxonomy rows ------------------------------------------------------
    if cfg.output_subclasses:
        scc_delta = taxonomy_pairs(deltas["sc_tc"], unsat_new).localCheckpoint(eager=False)
        tc_cyc = None if cfg.equivalence_as_subclass else cycle_pairs(state_new["sc_tc"])
        # delta pairs: mutual ones emit as EQUIVALENTCLASS
        new_rows = new_rows.unionByName(taxonomy_rows(scc_delta, tc_cyc))
        if tc_cyc is not None:
            # reverse activation: an OLD pair whose reverse just arrived was
            # emitted as subClassOf and is now an equivalence -> emit the EQ
            # row, tombstone the SUB row. Activated pairs are mutual, hence
            # inside the (tiny) cycle-restricted closure.
            rev_delta = deltas["sc_tc"].select(
                F.col("sup").alias("sub"), F.col("sub").alias("sup")
            )
            activated = (
                taxonomy_pairs(
                    tc_cyc.join(deltas["sc_tc"], on=["sub", "sup"], how="left_anti"),
                    unsat_new,
                )
                .join(rev_delta, on=["sub", "sup"], how="left_semi")
                .localCheckpoint(eager=False)
            )
            new_rows = new_rows.unionByName(
                _spo(activated, "sub", T.EQUIVALENTCLASS, "sup")
            )
            retracted = retracted.unionByName(
                _spo(activated, "sub", T.SUBCLASSOF, "sup")
            )
        if grew_unsat:
            # previously-emitted taxonomy rows whose sup turned unsat, under
            # whichever predicate they were emitted: a previously-mutual pair
            # lives inside the cycle-restricted closure before this batch
            old_tc = state_new["sc_tc"].join(
                deltas["sc_tc"], on=["sub", "sup"], how="left_anti"
            )
            bad_tc = _match_class(
                taxonomy_pairs(old_tc), "sup", unsat_delta, "left_semi"
            ).localCheckpoint(eager=False)
            tc_prev = (
                None
                if tc_cyc is None
                else tc_cyc.join(deltas["sc_tc"], on=["sub", "sup"], how="left_anti")
            )
            retracted = retracted.unionByName(taxonomy_rows(bad_tc, tc_prev))
        if cfg.reflexive_subclasses:
            new_rows = new_rows.unionByName(
                reflexive_rows(deltas["classes"], cfg, unsat_new)
            )
            if grew_unsat:
                old_classes = state_new["classes"].join(
                    deltas["classes"], on="c", how="left_anti"
                )
                retracted = retracted.unionByName(
                    _match_class(reflexive_rows(old_classes, cfg), "s", unsat_delta, "left_semi")
                )
        if cfg.output_individuals:
            # rdf:type rows (not unsat-gated). New pairs: (new assertions x
            # full sc_star) union (all assertions x closure delta incl.
            # reflexive pairs of new classes); may re-derive committed rows
            # -> needs_dedup.
            d_star_t = deltas["sc_tc"].unionByName(
                deltas["classes"].select(
                    F.col("c").alias("sub"), F.col("c").alias("sup")
                )
            )
            ityped = type_rows(a_all, d_star_t)
            if new_assertions:
                ityped = ityped.unionByName(type_rows(d_a, frames["sc_star"]))
            new_rows = new_rows.unionByName(ityped.dropDuplicates())

    return new_rows, retracted, unsat_new, needs_dedup


# ------------------------------------------------------------- persistence
#
# State persists as SNAPSHOTS (full frames, dir `batch=<id>/`) plus DELTAS
# (only the rows added by one batch, dir `delta-<id>/`). The streaming
# pipeline writes a delta per fast-path batch and a snapshot on the first
# batch / the feedback fallback / every `compact_every` batches — so
# per-batch state I/O is delta-sized, not O(total history) (round-1 VERDICT
# item 2). Loading unions the newest snapshot with all later deltas (they
# are disjoint by construction, no dedup needed). Replayed batches rewrite
# identical content (deterministic), keeping crash/replay exactly-once.


def _write_rel_bucketed(rel: DataFrame, path: str) -> None:
    # repartition ON THE BUCKET COLUMN before the partitionBy write: all of
    # a bucket's rows land in one task, so each bucket dir gets exactly ONE
    # file. Without it every shuffle task writes its own file into every
    # bucket dir it touches — up to min(rows, tasks) files PER BUCKET — and
    # state scans degrade linearly in accumulated file count (the measured
    # 4-10x per-batch ramp at constant workload, BENCH/BASELINE.md 4.13).
    # At cluster scale the file-size knob stays RGS_REL_BUCKETS itself
    # (more buckets = more, smaller files), not files-per-bucket.
    rel.withColumn("bucket", _rel_bucket()).repartition("bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def _pin_layout(root: str) -> None:
    """Persist the bucket count on first write and REFUSE to continue under
    a different one: pruned anti-joins assume every file in the store was
    bucketed with the same modulus, so a silent change would skip history
    buckets and re-emit duplicates."""
    import json as _json

    path = os.path.join(root, "layout.json")
    if os.path.exists(path):
        with open(path) as fh:
            pinned = _json.load(fh)["rel_buckets"]
        if pinned != REL_BUCKETS:
            raise RuntimeError(
                f"state store at {root} was written with rel_buckets={pinned}; "
                f"current RGS_REL_BUCKETS={REL_BUCKETS} would mis-prune the "
                "history anti-join — restart with the pinned value (or "
                "rewrite the store)"
            )
        return
    os.makedirs(root, exist_ok=True)
    with open(path, "w") as fh:
        _json.dump({"rel_buckets": REL_BUCKETS}, fh)


def _parallel_writes(jobs: list) -> None:
    """Run independent frame-write thunks concurrently (guide §2.6: actions
    are only sequential because the driver calls them sequentially; a small
    pool lets each tiny write job back-fill the executors the previous one
    leaves idle). Frame writes here target DISJOINT dirs, so ordering is
    irrelevant; any failure propagates."""
    if len(jobs) <= 1:
        for j in jobs:
            j()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(jobs))) as pool:
        for f in [pool.submit(j) for j in jobs]:
            f.result()


def save_state_snapshot(
    state: dict[str, DataFrame], root: str, batch_id: int
) -> dict[str, list[str]]:
    """Persist all frames (told + derived closures); rel is written
    hash-bucketed (see REL_BUCKETS). Returns {frame: [path]} for
    repoint_state and subsequent pruned history reads. The per-frame writes
    are independent jobs over disjoint dirs and run from a small thread
    pool (guide §2.6)."""
    _pin_layout(root)
    paths: dict[str, list[str]] = {}
    jobs = []
    for name in PERSISTED_FRAMES:
        key = DERIVED_FRAMES.get(name, name)
        path = os.path.join(root, f"snap-{batch_id}", name)
        if name == "rel":
            jobs.append(lambda df=state[name], p=path: _write_rel_bucketed(df, p))
        else:
            jobs.append(
                lambda df=state[key], p=path: df.write.mode("overwrite").parquet(p)
            )
        paths[name] = [path]
    _parallel_writes(jobs)
    return paths


def save_state_delta(
    deltas: dict[str, DataFrame], root: str, batch_id: int
) -> dict[str, str]:
    # empty deltas are skipped (a missing frame dir loads as empty) — most
    # batches only grow a few of the frames, and every avoided write is one
    # fewer Spark job on the per-batch critical path. The emptiness probe
    # itself is ONE unioned count job over all frames, not one isEmpty job
    # per frame (11 driver round-trips -> 1).
    _pin_layout(root)
    # a crashed consolidation attempt may have left delta-<batch_id> with a
    # folded.json whose coverage the sink never committed; if THIS replay
    # takes the plain-delta path (fold cadence can differ across restarts),
    # the stale marker would make live_delta_batches wrongly exclude the
    # still-live superseded dirs — clear it before any write (round-5
    # ADVICE, low)
    stale_marker = os.path.join(root, f"delta-{batch_id}", "folded.json")
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    present = [n for n in PERSISTED_FRAMES if n in deltas]
    if not present:
        return {}  # nothing persistable: skip the count job entirely
    counts_df = None
    for name in present:
        part = (
            deltas[name]
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(name).alias("f"), F.col("n"))
        )
        counts_df = part if counts_df is None else counts_df.unionByName(part)
    nonempty = {r["f"] for r in counts_df.collect() if r["n"] > 0}
    written: dict[str, str] = {}
    jobs = []
    for name in present:
        if name in nonempty:
            path = os.path.join(root, f"delta-{batch_id}", name)
            if name == "rel":
                jobs.append(
                    lambda df=deltas[name], p=path: _write_rel_bucketed(df, p)
                )
            else:
                # deltas are delta-sized by contract: ONE file per frame
                # per delta (repartition keeps the upstream compute
                # parallel; only the final write is single-task). File
                # count per delta dir is thereby bounded by frame count,
                # not by shuffle parallelism x row count.
                jobs.append(
                    lambda df=deltas[name], p=path: df.repartition(1)
                    .write.mode("overwrite")
                    .parquet(p)
                )
            written[name] = path
    # independent writes to disjoint dirs — overlap them (guide §2.6)
    _parallel_writes(jobs)
    return written


def consolidate_state_deltas(
    spark: SparkSession,
    deltas: dict[str, DataFrame],
    root: str,
    batch_id: int,
    fold_batch_ids: list[int],
) -> dict[str, str]:
    """Write batch `batch_id`'s delta dirs CONSOLIDATED with the on-disk
    delta dirs of `fold_batch_ids` (earlier deltas since the last snapshot
    or fold point). Bounds the per-frame path count between snapshots:
    without it, every per-batch job that scans state pays file-listing +
    small-file overhead growing linearly with deltas-since-snapshot.
    (The dominant term of that overhead is files-per-write — fixed at the
    write sites by bucket-repartitioned single-file writes; consolidation
    bounds the remaining per-DIR growth. Constant-workload measurement of
    both effects: BENCH/BASELINE.md 4.13.) Cost is the folded DELTAS'
    bytes, never
    O(state) — the state-store analog of the sink's inline minor fold.

    Crash-safety: the superseded dirs are NOT deleted here. The pipeline
    deletes them only after the batch's sink commit, so a crash in between
    leaves the old chain for load_state (which ignores the uncommitted
    consolidated dir) and the replay rewrites it. A `folded.json` marker
    inside the consolidated dir records which batch ids it covers
    (transitively, through earlier consolidated dirs), so a crash AFTER the
    commit but BEFORE the post-commit expiry cannot double-read the
    superseded dirs on restart — the state-store analog of the sink's
    summary-covered manifest exclusion (sinks.py)."""
    merged: dict[str, DataFrame] = {}
    covered: set[int] = set(fold_batch_ids)
    for b in fold_batch_ids:
        covered |= set(folded_delta_ids(root, b))
    for name in PERSISTED_FRAMES:
        old = [
            p
            for b in fold_batch_ids
            if os.path.isdir(p := os.path.join(root, f"delta-{b}", name))
        ]
        frames = []
        if old:
            if name == "rel":
                frames.append(_read_rel_bucketed(spark, old).drop("bucket"))
            else:
                frames.append(spark.read.parquet(*old))
        if name in deltas:
            frames.append(deltas[name])
        if not frames:
            continue
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        merged[name] = df
    written = save_state_delta(merged, root, batch_id)
    ddir = os.path.join(root, f"delta-{batch_id}")
    os.makedirs(ddir, exist_ok=True)
    tmp = os.path.join(ddir, "folded.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"folded": sorted(covered)}, f)
    os.replace(tmp, os.path.join(ddir, "folded.json"))
    return written


def folded_delta_ids(root: str, batch_id: int) -> list[int]:
    """Batch ids a consolidated delta dir covers ([] for plain deltas)."""
    p = os.path.join(root, f"delta-{batch_id}", "folded.json")
    try:
        with open(p) as f:
            return [int(b) for b in json.load(f)["folded"]]
    except (FileNotFoundError, KeyError, ValueError):
        return []


def live_delta_batches(root: str, committed: set[int], base: int) -> list[int]:
    """Committed delta batches above snapshot `base`, EXCLUDING any id
    covered by a committed consolidated delta's folded.json — a crash after
    that delta's commit but before the superseded dirs' expiry must not
    double-read them."""
    ids = [b for b in delta_batches(root) if b in committed and b > base]
    covered: set[int] = set()
    for b in ids:
        covered |= set(folded_delta_ids(root, b))
    return [b for b in ids if b not in covered]


def expire_state_deltas(root: str, batch_ids: list[int]) -> None:
    """Post-commit removal of delta dirs superseded by a committed
    consolidated delta (idempotent; replays just redo it)."""
    import shutil

    for b in batch_ids:
        shutil.rmtree(os.path.join(root, f"delta-{b}"), ignore_errors=True)


def repoint_state(
    spark: SparkSession, state: dict[str, DataFrame], frame_paths: dict[str, list[str]]
) -> None:
    """Re-anchor every persisted frame at its on-disk pieces (snapshot +
    later delta dirs). Called after each batch's persist: keeps per-batch
    plans one level deep over parquet leaves with REAL file statistics —
    see the DERIVED_FRAMES comment for why chaining in-memory Datasets
    across batches is an exponential planning-time cliff. Scalar caches
    (_n_*, _max_token) are carried in the dict untouched."""
    state["_frame_paths"] = frame_paths
    for name, paths in frame_paths.items():
        key = DERIVED_FRAMES.get(name, name)
        if name == "rel":
            state["_rel_paths"] = paths
            state[name] = read_rel(spark, paths)
            continue
        live = [p for p in paths if os.path.isdir(p)]
        if not live:
            continue  # legacy store without this frame: keep in-memory
        df = spark.read.parquet(*live)
        if name in DEDUP_ON_LOAD:
            df = df.dropDuplicates()
        state[key] = df


def snapshot_batches(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("-", 1)[1]) for d in os.listdir(root) if d.startswith("snap-")
    )


def delta_batches(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("-", 1)[1]) for d in os.listdir(root) if d.startswith("delta-")
    )


def gc_state(root: str, keep_batch: int) -> None:
    """Expire snapshot/delta dirs superseded by the snapshot at `keep_batch`.
    Call only AFTER the sink committed `keep_batch`: load_state reads the
    newest COMMITTED snapshot plus later deltas, so everything at or below
    it is unreachable — deleting earlier is a crash-recovery hazard (the
    pre-commit snapshot could be orphaned by a crash, leaving the old dirs
    as the only committed state)."""
    import shutil

    for b in snapshot_batches(root):
        if b < keep_batch:
            shutil.rmtree(os.path.join(root, f"snap-{b}"), ignore_errors=True)
    for b in delta_batches(root):
        if b <= keep_batch:
            shutil.rmtree(os.path.join(root, f"delta-{b}"), ignore_errors=True)


def load_state(
    spark: SparkSession, root: str, committed: list[int]
) -> tuple[dict[str, DataFrame], int] | None:
    """Reconstruct the state as of the newest committed batch: newest
    committed snapshot + every later committed delta. Returns (state,
    batch_id) or None if no committed state exists. Uncommitted orphan dirs
    (crash between state write and sink commit) are ignored; the replay
    rewrites them."""
    committed_set = set(committed)
    snaps = [b for b in snapshot_batches(root) if b in committed_set]
    if not snaps:
        return None
    _pin_layout(root)
    base = max(snaps)
    # live_delta_batches excludes dirs covered by a committed consolidated
    # delta (crash between its commit and the superseded dirs' expiry would
    # otherwise double-read their rows)
    deltas = live_delta_batches(root, committed_set, base)
    state: dict[str, DataFrame] = {}
    frame_paths: dict[str, list[str]] = {}
    for name in PERSISTED_FRAMES:
        paths = [
            p
            for b in [base] + deltas
            # absent dir == empty delta (save_state_delta skips them) or a
            # legacy snapshot without the derived frames
            if os.path.isdir(
                p := os.path.join(
                    root, f"{'snap' if b == base else 'delta'}-{b}", name
                )
            )
        ]
        frame_paths[name] = paths
    repoint_state(spark, state, frame_paths)
    return state, max([base] + deltas)
