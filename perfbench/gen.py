"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments (numpy PCG64 seeded
from ``seed``), so the same seed always yields the same told axioms. The
engine only ever sees the staged parquet these rows are written to, in the
engine's ``SEQ_TS_SCHEMA`` layout (doc_id, tokens, n_tok, source, ts).

Token layout follows ``relation_graph_spark.tokens``: reserved tokens below
11, axiom types 101-108, classes from 100 up, properties right after the
classes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# axiom-type and reserved tokens (relation_graph_spark/tokens.py); repeated
# here so the generators and the oracle need no engine import
BOT = 2
AX_SUBCLASS, AX_SOME, AX_EQUIV_SOME, AX_SUBPROP = 101, 102, 103, 104
AX_DECL_CLASS, AX_DECL_PROP = 105, 106

BASE_C = 100
# event time of the first staged row; streaming batch k is stamped
# TS0 + k * BATCH_STEP_S, late rows LATE_AGE_S before TS0
TS0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
BATCH_STEP_S = 60
LATE_AGE_S = 7200
HORIZON_S = 3600  # the stream job's watermark horizon; LATE_AGE_S > HORIZON_S

SEQ_TS_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


HUB_SHARE = 0.01  # share of classes that are hubs
HUB_BOOST = 100  # a hub's subclass fan-in relative to any other class


def _hub_parents(rng: np.random.Generator, n: int) -> np.ndarray:
    """Parent of every class i > 0. The first 1% of classes are hubs in a
    fixed 4-ary tree; every other class hangs off a uniform random hub with
    probability 1 - 1/HUB_BOOST, else off any earlier class. The hub tree
    is the same for every seed, so output volume does not swing with the
    seed."""
    n_hubs = max(1, int(n * HUB_SHARE))
    idx = np.arange(1, n)
    any_earlier = (rng.random(n - 1) * idx).astype(np.int64)
    hub = rng.integers(0, n_hubs, n - 1)
    to_hub = rng.random(n - 1) >= 1.0 / HUB_BOOST
    return np.where(idx < n_hubs, (idx - 1) // 4, np.where(to_hub, hub, any_earlier))


def _existentials(rng: np.random.Generator, n: int, n_some: int, props: list[int]):
    """Told existentials (c, p, f) in rounds: each round gives every class
    one existential with the round's property and a uniform filler. A hub
    subject multiplies its rows by the hub's whole subtree and its
    property's super-properties, so subjects and properties drawn at random
    would let the output volume swing with the seed."""
    c = np.concatenate([rng.permutation(n) for _ in range(-(-n_some // n))])[:n_some]
    f = rng.integers(0, n, n_some) + BASE_C
    return [[AX_SOME, int(a) + BASE_C, props[(k // n) % len(props)], int(b)]
            for k, (a, b) in enumerate(zip(c, f))]


def _hub_ontology(rng: np.random.Generator, n_classes: int, props: list[int],
                  n_some: int) -> list[list[int]]:
    """Declared classes in a hub-skewed tree, one property chain
    props[0] <= props[1] <= ..., and n_some existentials."""
    rows = [[AX_DECL_PROP, p] for p in props]
    rows += [[AX_SUBPROP, a, b] for a, b in zip(props, props[1:])]
    rows += [[AX_DECL_CLASS, BASE_C + i] for i in range(n_classes)]
    par = _hub_parents(rng, n_classes)
    rows += [[AX_SUBCLASS, BASE_C + i, BASE_C + int(p)] for i, p in enumerate(par, 1)]
    return rows + _existentials(rng, n_classes, n_some, props)


def batch_hub(seed: int, n_classes: int, n_props: int, n_some: int) -> list[list[int]]:
    """The frozen bench.py shape with a seed: a hub-skewed subclass tree, an
    n_props-long property chain and n_some existentials. No definitions, no
    owl:Nothing."""
    props = [BASE_C + n_classes + i for i in range(n_props)]
    return _hub_ontology(np.random.default_rng([seed, 1]), n_classes, props, n_some)


@dataclass
class Stream:
    """A base ontology (batch 0) and steady micro-batches. Each batch is a
    list of (tokens, is_late) pairs; late rows carry an event time older
    than the watermark horizon and must be dropped by the engine."""

    base: list[list[int]]
    batches: list[list[tuple[list[int], bool]]]


def stream_deltas(seed: int, n_classes: int, n_some: int, n_defs: int,
                  n_batches: int, new_classes: int, new_some: int,
                  n_late: int) -> Stream:
    """Hub-shaped base with a few standing definitions, then n_batches
    steady micro-batches of constant shape: `new_classes` new leaf classes
    (declaration + subclass edge under an existing class), `new_some`
    existentials whose subject is new or existing, and `n_late` late rows
    (existentials over fresh, otherwise unused tokens)."""
    rng = np.random.default_rng([seed, 3])
    n_props = 4
    props = [BASE_C + n_classes + i for i in range(n_props)]
    rows = _hub_ontology(rng, n_classes, props, n_some)
    # standing definitions F == (p some D): D a second-level hub, F a
    # defined class of its own (token after the properties) — fixed, like
    # the hub tree
    defined = [BASE_C + n_classes + n_props + i for i in range(n_defs)]
    rows += [[AX_DECL_CLASS, f_] for f_ in defined]
    rows += [[AX_EQUIV_SOME, f_, props[i % n_props], BASE_C + 1 + i]
             for i, f_ in enumerate(defined)]

    # new classes take tokens above the properties; late rows use a
    # disjoint token range so they can only ever add edges
    next_c = BASE_C + n_classes + n_props + n_defs
    n_hubs = max(1, int(n_classes * HUB_SHARE))
    late_tok = next_c + n_batches * new_classes + 1000
    batches = []
    for _ in range(n_batches):
        b: list[tuple[list[int], bool]] = []
        new = list(range(next_c, next_c + new_classes))
        next_c += new_classes
        par = rng.integers(0, n_classes, new_classes) + BASE_C
        for cls, p_ in zip(new, par):
            b.append(([AX_DECL_CLASS, cls], False))
            b.append(([AX_SUBCLASS, cls, int(p_)], False))
        subj_new = rng.random(new_some) < 0.5
        # existing subjects are never hubs, so a batch's delta stays small
        subj = np.where(subj_new, rng.choice(new, new_some),
                        rng.integers(n_hubs, n_classes, new_some) + BASE_C)
        fill = rng.integers(0, n_classes, new_some) + BASE_C
        pk = rng.integers(0, n_props, new_some)
        for a, k, o in zip(subj, pk, fill):
            b.append(([AX_SOME, int(a), props[int(k)], int(o)], False))
        for _ in range(n_late):
            b.append(([AX_SOME, late_tok, props[0], late_tok + 1], True))
            late_tok += 2
        batches.append(b)
    return Stream(rows, batches)


def stage(path: str, rows: list[list[int]], source: str, ts_us: int,
          late: list[bool] | None = None) -> int:
    """Write told rows as ONE parquet file (the stream source ignores
    Spark-style directories). On-time rows are stamped ts_us + i
    microseconds, late rows LATE_AGE_S before TS0. Returns the row count."""
    n = len(rows)
    late = late or [False] * n
    ts = np.where(np.asarray(late, dtype=bool), TS0_US - LATE_AGE_S * 1_000_000,
                  ts_us + np.arange(n, dtype=np.int64))
    stem = os.path.splitext(os.path.basename(path))[0]
    table = pa.table(
        {
            "doc_id": [f"{stem}-{i:07d}" for i in range(n)],
            "tokens": pa.array(rows, pa.list_(pa.int32())),
            "n_tok": pa.array([len(r) for r in rows], pa.int32()),
            "source": [source] * n,
            "ts": pa.array(ts, pa.timestamp("us")),
        },
        schema=SEQ_TS_ARROW,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return n
