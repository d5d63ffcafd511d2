"""Semi-naive transitive closure over DataFrames.

This is the Spark-first re-creation of what the reference delegates to the
Whelk EL saturation (reference RelationGraph.scala:57) restricted to the
hierarchy fragment: the least fixpoint of ``tc(x,z) <- tc(x,y), edge(y,z)``
(SURVEY.md section 7.0, R1/R2). The reference holds the closure as in-memory
hash maps (``closureSubsBySuperclass``, RelationGraph.scala:163); we hold it
as a distributed DataFrame and iterate the classic semi-naive delta:

    delta_0  = edges
    delta_i  = project(delta_{i-1} join closure_{i-1}) anti-join closure_{i-1}
    closure  = union of all deltas

Properties that matter at 100 TB:
- the per-iteration join shuffles on the single int join key; the small side
  (the accumulated closure of the told hierarchy) is broadcast when under a
  threshold — ontology hierarchies are tiny relative to the edge stream;
- ``localCheckpoint`` after every iteration truncates lineage, otherwise the
  logical plan grows linearly with iterations and Catalyst analysis time
  explodes (well-known iterative-Spark pitfall, SURVEY.md section 4.1);
- each delta composes with the ACCUMULATED closure (closure o closure), so
  reachable path length doubles per round: O(log diameter) iterations
  instead of one per hop.
- cycles (e.g. from named-class equivalences) terminate naturally: the
  anti-join makes every delta strictly new.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


class FixpointDidNotConverge(RuntimeError):
    pass


# Driver fast path (round-7 optimization): hierarchy edge sets at or below
# this row count are closed in one driver-side pass instead of N distributed
# semi-naive rounds. Rationale (guide §1.2 "the distributed algorithm"): each
# distributed round costs a broadcast build + a dedup shuffle + an anti-join
# + a count job — ~0.5-1s of fixed cost per round on any cluster — while a
# vocabulary-sized hierarchy (the ONLY thing this engine ever closes without
# group scoping: ontology class/property graphs, which the reference holds in
# Whelk's in-memory maps) closes in milliseconds in one process. The driver
# pull is bounded by the same order as broadcast_row_threshold (the closure
# was going to be collected for a broadcast join anyway); above the
# threshold, or if the closure blows past RGS_DRIVER_TC_MAX_PAIRS mid-way,
# the distributed path runs unchanged. Group-scoped closures (per-window /
# per-session over event data — stream-scale, not vocabulary-scale) never
# take this path.
_DRIVER_TC_EDGES = int(os.environ.get("RGS_DRIVER_TC_EDGES", "50000"))
_DRIVER_TC_MAX_PAIRS = int(os.environ.get("RGS_DRIVER_TC_MAX_PAIRS", "12000000"))


def _driver_close_adj(adj: dict, max_iterations: int):
    """Transitive closure of an adjacency dict {x: set(ys)} on the driver via
    semi-naive 'smart' rounds (delta composed with the ACCUMULATED closure,
    so reachable path length doubles per round — the same O(log diameter)
    round bound callers of the distributed loop size max_iterations
    against). Returns {x: set of reachable} or None if the result exceeds
    _DRIVER_TC_MAX_PAIRS (caller falls back to the distributed path)."""
    closure: dict = {x: set(ys) for x, ys in adj.items()}
    delta = {x: set(ys) for x, ys in adj.items()}
    total = sum(len(s) for s in closure.values())
    for _ in range(max_iterations):
        new: dict = {}
        for x, ys in delta.items():
            add: set = set()
            for y in ys:
                t = closure.get(y)
                if t:
                    add |= t
            add -= closure.get(x, ())
            if add:
                new[x] = add
                total += len(add)
                if total > _DRIVER_TC_MAX_PAIRS:
                    return None
        if not new:
            return closure
        for x, a in new.items():
            closure.setdefault(x, set()).update(a)
        delta = new
    raise FixpointDidNotConverge(
        f"driver transitive closure did not converge in {max_iterations} iterations"
    )


def _pairs_to_df(spark, pairs_closure: dict, template: DataFrame, child: str, parent: str):
    """{x: set(ys)} -> DataFrame with `template`'s (child, parent) schema."""
    import pandas as pd

    xs: list = []
    zs: list = []
    for x, s in pairs_closure.items():
        xs.extend([x] * len(s))
        zs.extend(s)
    pdf = pd.DataFrame({child: xs, parent: zs})
    types = dict(template.dtypes)
    np_type = {"int": "int32", "bigint": "int64", "smallint": "int16"}
    for c in (child, parent):
        t = np_type.get(types[c])
        if t:
            pdf[c] = pdf[c].astype(t)
    return spark.createDataFrame(pdf, schema=template.select(child, parent).schema)


def _driver_tc(base: DataFrame, child: str, parent: str, max_iterations: int):
    """Driver-side closure of a (deduplicated, materialized) edge frame.
    Returns the closed DataFrame, or None to fall back (null keys — SQL join
    semantics drop them from composition, a Python dict would not — or a
    closure above the pair cap)."""
    pdf = base.select(child, parent).toPandas()
    if pdf[child].isnull().any() or pdf[parent].isnull().any():
        return None
    adj: dict = {}
    for c, p in zip(pdf[child].tolist(), pdf[parent].tolist()):
        adj.setdefault(c, set()).add(p)
    closure = _driver_close_adj(adj, max_iterations)
    if closure is None:
        return None
    return _pairs_to_df(base.sparkSession, closure, base, child, parent)


def ensure_iteration_confs(df: DataFrame) -> None:
    """Disable constraint propagation for iterative localCheckpoint plans.

    Spark 4.1's LogicalRDD.fromDataset -> Union.rewriteConstraints throws
    'key not found: <attr>' when checkpointing a union whose children share
    checkpointed lineage (exactly the semi-naive shape). Constraints buy us
    nothing here (all filters are explicit), so turn propagation off for the
    session running the fixpoint. Runtime-settable; applied defensively in
    case the caller's session didn't set it at build time.
    """
    df.sparkSession.conf.set("spark.sql.constraintPropagation.enabled", "false")


def transitive_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_iterations: int = 200,
    broadcast_row_threshold: int = 5_000_000,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Non-reflexive transitive closure of an edge DataFrame.

    `edges` has two columns named by `child`/`parent`; returns a DataFrame
    with the same two columns containing every pair (x, z) such that a
    directed path x -> ... -> z exists. Result is deduplicated.

    `group_cols` scopes the closure: paths never cross groups (the
    per-window fixpoint of the north star — one tumbling/sliding window per
    group value — computed for ALL groups in one distributed job: the join
    key is simply (group..., node), no per-window driver loop).

    Each round composes the delta with the FULL accumulated closure, so
    reachable path length doubles per round — O(log diameter) rounds. Right
    for Spark, where per-round fixed cost (shuffle + checkpoint +
    scheduling) dominates: a depth-40 chain closes in ~6 rounds instead of
    40.
    """
    ensure_iteration_confs(edges)
    groups = list(group_cols or [])
    cols = groups + [child, parent]
    base = edges.select(*[F.col(c) for c in cols]).dropDuplicates().localCheckpoint(eager=False)
    total_rows = base.count()
    if not groups and 0 < total_rows <= _DRIVER_TC_EDGES:
        out = _driver_tc(base, child, parent, max_iterations)
        if out is not None:
            return out

    closure = base
    delta = base
    for _ in range(max_iterations):
        small = total_rows <= broadcast_row_threshold
        join_side = F.broadcast(closure) if small else closure
        cond = F.col(f"d.{parent}") == F.col(f"e.{child}")
        for g in groups:
            cond = cond & (F.col(f"d.{g}") == F.col(f"e.{g}"))
        grown = delta.alias("d").join(join_side.alias("e"), cond)
        new_pairs = grown.select(
            *[F.col(f"d.{g}") for g in groups],
            F.col(f"d.{child}").alias(child),
            F.col(f"e.{parent}").alias(parent),
        )
        # seen-set anti-join: broadcast the closure side below the threshold
        # (the same broadcast the compose join builds — one exchange, reused)
        # so the round costs ONE shuffle (the delta dedup) instead of three
        # (dedup + both SMJ exchanges + their sorts). Anti-before-dedup when
        # broadcasting: the anti is then a narrow map-side filter and the
        # dedup shuffles only genuinely-new rows (guide §2.3/2.4).
        if small:
            delta = (
                new_pairs.join(F.broadcast(closure), on=cols, how="left_anti")
                .dropDuplicates()
                .localCheckpoint(eager=False)
            )
        else:
            delta = (
                new_pairs.dropDuplicates()
                .join(closure, on=cols, how="left_anti")
                .localCheckpoint(eager=False)
            )
        n_new = delta.count()
        if n_new == 0:
            return closure
        total_rows += n_new
        closure = closure.unionByName(delta).localCheckpoint(eager=False)
    raise FixpointDidNotConverge(
        f"transitive_closure did not converge in {max_iterations} iterations"
    )


def _driver_incremental_tc(
    old_tc: DataFrame, delta_edges: DataFrame, max_iterations: int
) -> tuple[DataFrame, DataFrame] | None:
    """Driver fast path for incremental_tc: pull the (vocabulary-sized,
    caller-bounded) closure + delta, close in one pass, ship back ONLY the
    delta pairs — new_tc stays the old frame plus a local-relation union, so
    the persisted/parquet anchoring of the accumulated closure is untouched.
    Returns None to fall back (nulls)."""
    import pandas as pd

    old_pdf = old_tc.select("sub", "sup").toPandas()
    d_pdf = delta_edges.select("sub", "sup").toPandas()
    if (
        old_pdf["sub"].isnull().any()
        or old_pdf["sup"].isnull().any()
        or d_pdf["sub"].isnull().any()
        or d_pdf["sup"].isnull().any()
    ):
        return None
    old_set: dict = {}
    for c, p in zip(old_pdf["sub"].tolist(), old_pdf["sup"].tolist()):
        old_set.setdefault(c, set()).add(p)
    adj = {x: set(ys) for x, ys in old_set.items()}
    for c, p in zip(d_pdf["sub"].tolist(), d_pdf["sup"].tolist()):
        adj.setdefault(c, set()).add(p)
    closure = _driver_close_adj(adj, max_iterations)
    if closure is None:
        return None
    delta = {
        x: ys - old_set.get(x, set())
        for x, ys in closure.items()
    }
    delta = {x: ys for x, ys in delta.items() if ys}
    spark = old_tc.sparkSession
    delta_df = _pairs_to_df(spark, delta, old_tc, "sub", "sup").localCheckpoint(
        eager=False
    )
    new_tc = old_tc.unionByName(delta_df).localCheckpoint(eager=False)
    return new_tc, delta_df


def incremental_tc(
    old_tc: DataFrame,
    delta_edges: DataFrame,
    max_iterations: int = 200,
    broadcast_row_threshold: int = 5_000_000,
    old_tc_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(new_tc, delta_pairs): extend an already-closed relation (columns
    sub/sup) with new edges by two-sided delta composition — new pairs are
    exactly those with >= 1 new edge on some path. delta_pairs = new_tc
    minus old_tc.

    `old_tc_rows` (a caller-supplied row count or upper bound, e.g. the
    streaming engine's running _n_sc_star stat) enables the driver fast
    path below _DRIVER_TC_EDGES — same rationale and bound as
    transitive_closure's — and replaces the per-round closure count behind
    the broadcast decision.

    Per-round work on the distributed path is delta x closure joins plus a
    delta-sized dedup; the closure itself is only ever UNIONED (the delta is
    anti-joined disjoint first), never re-deduplicated — no O(closure)
    shuffle per round."""
    if old_tc_rows is not None and old_tc_rows <= _DRIVER_TC_EDGES:
        out = _driver_incremental_tc(old_tc, delta_edges, max_iterations)
        if out is not None:
            return out
    rows = old_tc_rows if old_tc_rows is not None else old_tc.count()
    side0 = F.broadcast(old_tc) if (
        0 < broadcast_row_threshold and rows <= broadcast_row_threshold
    ) else old_tc
    delta = (
        delta_edges.dropDuplicates()
        .join(side0, on=["sub", "sup"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    closure = old_tc.unionByName(delta).localCheckpoint(eager=False)
    all_delta = delta
    for _ in range(max_iterations):
        n_new = delta.count()
        if n_new == 0:
            return closure, all_delta
        rows += n_new
        small = 0 < broadcast_row_threshold and rows <= broadcast_row_threshold
        side = F.broadcast(closure) if small else closure
        fwd = (
            delta.alias("d")
            .join(side.alias("c"), F.col("d.sup") == F.col("c.sub"))
            .select(F.col("d.sub").alias("sub"), F.col("c.sup").alias("sup"))
        )
        bwd = (
            side.alias("c")
            .join(delta.alias("d"), F.col("c.sup") == F.col("d.sub"))
            .select(F.col("c.sub").alias("sub"), F.col("d.sup").alias("sup"))
        )
        grown = fwd.unionByName(bwd)
        if small:
            # anti-before-dedup against the (reused) broadcast closure: one
            # shuffle per round (see transitive_closure)
            delta = (
                grown.join(side, on=["sub", "sup"], how="left_anti")
                .dropDuplicates()
                .localCheckpoint(eager=False)
            )
        else:
            delta = (
                grown.dropDuplicates()
                .join(side, on=["sub", "sup"], how="left_anti")
                .localCheckpoint(eager=False)
            )
        closure = closure.unionByName(delta).localCheckpoint(eager=False)
        all_delta = all_delta.unionByName(delta).localCheckpoint(eager=False)
    raise FixpointDidNotConverge("incremental_tc did not converge")


def reflexive(nodes: DataFrame, node_col: str, child: str, parent: str) -> DataFrame:
    """(x, x) pairs for every node — the reflexive part of a closure."""
    return nodes.select(
        F.col(node_col).alias(child), F.col(node_col).alias(parent)
    ).dropDuplicates()


def star_union(
    tc: DataFrame,
    nodes: DataFrame,
    node_col: str,
    child: str = "child",
    parent: str = "parent",
    top: int | None = None,
) -> DataFrame:
    """tc ∪ {(x, x) : x in nodes} ∪ {(x, top) : x in nodes, x != top}, the
    star of a closed relation, built as a DISJOINT union instead of a
    deduplicated one.

    tc overlaps the reflexive rows only on cycle self-pairs and the top rows
    only on told (x, top) pairs — both vocabulary-rare, so each is
    broadcast-anti-joined away — and the reflexive and top rows overlap
    each other only at (top, top), excluded from the top side. Same set as
    a dropDuplicates of the three, without the O(closure) exchange."""
    refl = reflexive(nodes, node_col, child, parent)
    self_pairs = tc.where(F.col(child) == F.col(parent))
    star = tc.unionByName(
        refl.join(F.broadcast(self_pairs), on=[child, parent], how="left_anti")
    )
    if top is None:
        return star
    tops = nodes.where(F.col(node_col) != top).select(
        F.col(node_col).alias(child), F.lit(top).cast("int").alias(parent)
    )
    top_pairs = tc.where((F.col(parent) == top) & (F.col(child) != top))
    return star.unionByName(
        tops.join(F.broadcast(top_pairs), on=[child, parent], how="left_anti")
    )


def reflexive_transitive_closure(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str,
    child: str = "child",
    parent: str = "parent",
    **kwargs,
) -> DataFrame:
    """tc(edges) union {(x,x) : x in nodes}, unioned disjoint (star_union)."""
    tc = transitive_closure(edges, child=child, parent=parent, **kwargs)
    return star_union(tc, nodes, node_col, child, parent)
