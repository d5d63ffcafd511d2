"""The workloads: setup, measured loop, correctness checks, metrics.

Each operation goes through the engine's public entry points only:

- batch: ``decode_axioms`` -> ``told_tables`` -> ``materialize_edges`` ->
  ``assemble_output`` -> ``with_edge_hash`` -> parquet write, composed as
  the ``batch`` CLI command does;
- stream: ``IncrementalClosureJob.run_available(max_files_per_trigger=1)``
  over parquet files staged before timing.

Set-up ends with a warm-up on a small input of the same shape (JIT and
whole-stage codegen), so every measured operation runs warm; the warm-up
is part of ``setup_s``.
"""

from __future__ import annotations

import importlib
import os
import re
import shutil
import statistics
import time

import gen
import oracle
import spans

# Workload sizes. A run of each workload must fit the benchmark's run-time
# budget on a 4-CPU host, so they are far below the frozen bench.py scale
# (README.md, "Run budget").
HUB = dict(n_classes=3500, n_props=8, n_some=17500)
STREAM = dict(n_classes=1000, n_some=3000, n_defs=3, new_classes=20, new_some=40,
              n_late=4)
STREAM_WARMUP = dict(n_classes=200, n_some=600, n_defs=1, new_classes=5, new_some=10,
                     n_late=1, n_batches=1)
# maintenance cadence of the measured stream job: a snapshot every
# STREAM_CYCLE batches (compact_every) and a delta fold every STREAM_FOLD
# (delta_fold_every), so one cycle is a plain delta batch, a folding batch
# and a snapshot batch. The steady loop always runs whole cycles, so every
# run sees the same mix.
STREAM_CYCLE = 3
STREAM_FOLD = 2
STREAM_MAX_BATCHES = 32
SETUP_REPEATS = 3


# ------------------------------------------------------------------ process
def _vm_kb(pid, key: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        m = re.search(rf"^{key}:\s+(\d+) kB", fh.read(), re.M)
    return float(m.group(1)) if m else 0.0


def _reset_peak_rss() -> None:
    """Reset this process's VmHWM (Linux clear_refs '5'), so the peak
    covers the measured phase rather than set-up and the oracle."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def start_session(work: str, nproc: int):
    from relation_graph_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # the status store must keep every job of a run for attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
                     extra_conf=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - whatever went wrong, reap it
            proc.kill()
            proc.wait()


def _jvm_peak_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return _vm_kb(proc.pid, "VmHWM") / 1024 if proc is not None else 0.0


def _conf(spark) -> dict:
    keys = ["spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.streaming.stateStore.providerClass"]
    c = spark.sparkContext.getConf()
    return {k: c.get(k, None) for k in keys}


def _mod(name: str):
    return importlib.import_module(f"relation_graph_spark.{name}")


def _cfg():
    from relation_graph_spark.config import RGConfig

    # the frozen bench.py configuration
    return RGConfig(output_subclasses=True, reflexive_subclasses=False)


# ------------------------------------------------------------------ batch
def _batch_op(spark, cfg, tracer, inp: str, out: str) -> None:
    """staged parquet -> edge parquet, composed as the `batch` CLI does."""
    dec, mat, hsh = _mod("decode"), _mod("materialize"), _mod("hashing")
    with tracer.span("decode", "read_parquet"):
        seq = spark.read.parquet(inp)
    told = dec.told_tables(dec.decode_axioms(seq))
    edges_kind = mat.assemble_output(
        mat.materialize_edges(told, cfg), cfg, with_kind=True
    ).localCheckpoint(eager=False)
    edges = hsh.with_edge_hash(edges_kind.select("s", "p", "o"))
    with tracer.span("assemble", "write_parquet"):
        edges.write.mode("overwrite").parquet(out)


def warm_batch(spark, setup: dict, work: str) -> None:
    """One operation over the staged input itself, output discarded."""
    out = os.path.join(work, "warmup")
    _batch_op(spark, _cfg(), spans.Tracer(), os.path.dirname(setup["files"][0]), out)
    shutil.rmtree(out, ignore_errors=True)


def run_batch(spark, setup, seconds, trace, work) -> dict:
    staged = setup["files"]
    ref = oracle.reference(staged)
    cfg = _cfg()
    tracer = spans.Tracer()
    if trace:
        tracer.install()
    inp = os.path.dirname(staged[0])
    _reset_peak_rss()
    t_measure = time.time()

    ops = []  # {"i", "wall", "traced", "ok", "window"}
    disk = 0
    deadline = t_measure + seconds
    # traced runs alternate traced and untraced operations
    while time.time() < deadline or len(ops) < 3:
        i = len(ops)
        out = os.path.join(work, "out", f"rep{i}")
        tracer.op, tracer.enabled = i, trace and i % 2 == 1
        t0 = time.time()
        _batch_op(spark, cfg, tracer, inp, out)
        t1 = time.time()
        traced, tracer.enabled = tracer.enabled, False
        ok = oracle.edge_digest(os.path.join(out, "*.parquet")) == (ref["count"], ref["digest"])
        disk = _dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        ops.append({"i": i, "wall": t1 - t0, "traced": traced, "ok": ok, "window": (t0, t1)})
    py_peak = _vm_kb("self", "VmHWM") / 1024

    plain = [o["wall"] for o in ops if not o["traced"]]
    mat_s = statistics.median(plain)
    metrics = {
        "materialize_s": (mat_s, "s"),
        "edges_per_s": (ref["count"] / mat_s, "1/s"),
        # the batch engine commits its whole input at once: one commit per
        # operation
        "commit_p50_s": (mat_s, "s"),
        "told_rows_per_s": (setup["told_rows"] / mat_s, "1/s"),
        "py_peak_rss_mb": (py_peak, "MB"),
        "disk_mb": (disk / 2**20, "MB"),
    }
    info = {"edges": ref["count"], "told_rows": setup["told_rows"],
            "oracle_r4_rounds": ref["r4_rounds"], "oracle_unsat": ref["unsat"],
            "op_walls": [round(o["wall"], 4) for o in ops],
            "measure_s": time.time() - t_measure}
    per_layer = {}
    if trace:
        traced = [o for o in ops if o["traced"]]
        per_layer = layer_metrics(
            tracer.spans, spans.spark_jobs(spark, t_measure),
            ops=[o["i"] for o in traced], windows=[o["window"] for o in traced],
            overhead=statistics.median(o["wall"] for o in traced) - mat_s,
            state_dir=None,
        )
        tracer.uninstall()
    return {"metrics": metrics, "per_layer": per_layer, "attempted": len(ops),
            "failed": sum(1 for o in ops if not o["ok"]), "info": info}


# ------------------------------------------------------------------ stream
class CommitClock:
    """Times every micro-batch from process_batch entry to the sink commit
    (the return of the sink's append) and to process_batch exit. Installed
    on the classes, outside any tracer wrapper, in traced and untraced
    runs alike; `on_batch` runs at each batch start."""

    def __init__(self, on_batch) -> None:
        self.batches: list[dict] = []
        self._cur: dict | None = None
        self._on_batch = on_batch
        self._restore = []

    def install(self) -> None:
        job_cls = _mod("streaming.pipeline").IncrementalClosureJob
        sink_cls = _mod("sinks").IdempotentParquetSink
        clock = self
        orig_pb = job_cls.process_batch

        def process_batch(job, batch_df, batch_id):
            rec = {"batch": int(batch_id), "start": time.time(), "commit": None}
            clock._cur = rec
            clock._on_batch(int(batch_id))
            try:
                return orig_pb(job, batch_df, batch_id)
            finally:
                rec["end"] = time.time()
                clock.batches.append(rec)

        self._restore.append((job_cls, "process_batch", orig_pb))
        job_cls.process_batch = process_batch
        for name in ("append", "append_new_only"):
            orig = getattr(sink_cls, name)

            def committed(sink, *a, _orig=orig, **kw):
                out = _orig(sink, *a, **kw)
                clock._cur["commit"] = time.time()
                return out

            self._restore.append((sink_cls, name, orig))
            setattr(sink_cls, name, committed)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)


def _stream_job(spark, root: str):
    pipe = _mod("streaming.pipeline")
    inp = os.path.join(root, "in")
    os.makedirs(inp, exist_ok=True)
    job = pipe.IncrementalClosureJob(
        spark, inp, os.path.join(root, "w"), _cfg(),
        watermark_horizon_seconds=gen.HORIZON_S, compact_every=STREAM_CYCLE,
        delta_fold_every=STREAM_FOLD,
    )
    return job, inp


def _feed(job, inp: str, files: list[str]) -> None:
    """Drop staged files into the job's input dir and process them all."""
    for f in files:
        shutil.copy(f, os.path.join(inp, os.path.basename(f)))
    job.run_available(max_files_per_trigger=1)


def _live_digest(job) -> tuple[int, int]:
    live = job.sink.read()
    if live is None:
        return 0, 0
    return oracle.edge_digest(live.select("s", "p", "o").toArrow())


def _stage_stream(st: gen.Stream, root: str) -> dict:
    files = [os.path.join(root, "base", "b00000.parquet")]
    rows = [gen.stage(files[0], st.base, "base", gen.TS0_US)]
    late = [0]
    for k, b in enumerate(st.batches, 1):
        f = os.path.join(root, "batches", f"b{k:05d}.parquet")
        rows.append(gen.stage(f, [t for t, _l in b], "delta",
                              gen.TS0_US + k * gen.BATCH_STEP_S * 1_000_000,
                              [lt for _t, lt in b]))
        late.append(sum(1 for _t, lt in b if lt))
        files.append(f)
    return {"files": files, "rows_per_file": rows, "late_per_file": late}


def warm_stream(spark, setup: dict, work: str) -> None:
    """A throwaway job over a small stream of the same shape: a bootstrap
    and one steady batch, so both the bootstrap and the steady path run
    warm in the measured job."""
    root = os.path.join(work, "warmup")
    st = _stage_stream(gen.stream_deltas(setup["seed"], **STREAM_WARMUP),
                       os.path.join(root, "staged"))
    job, inp = _stream_job(spark, os.path.join(root, "job"))
    _feed(job, inp, st["files"][:1])
    _feed(job, inp, st["files"][1:])
    shutil.rmtree(root, ignore_errors=True)


def run_stream(spark, setup, seconds, trace, work) -> dict:
    base_file, batch_files = setup["files"][0], setup["files"][1:]
    ref_base = oracle.reference([base_file], min_ts_us=gen.TS0_US)
    tracer = spans.Tracer()
    if trace:
        tracer.install()

    def on_batch(b: int) -> None:
        # traced runs trace the bootstrap batch and every odd steady batch
        tracer.op = b
        tracer.enabled = trace and (b == 0 or b % 2 == 1)

    clock = CommitClock(on_batch)
    clock.install()
    root = os.path.join(work, "stream")
    job, inp = _stream_job(spark, root)
    _reset_peak_rss()
    t_measure = time.time()

    # bootstrap: batch 0 over the base ontology, trigger to sink commit
    t0 = time.time()
    _feed(job, inp, [base_file])
    boot = clock.batches[0]["commit"] - t0

    # steady micro-batches, whole snapshot cycles at a time, until the
    # deadline; the files were generated and staged during set-up
    deadline = time.time() + seconds
    used = 0
    while (used == 0 or time.time() < deadline) and used + STREAM_CYCLE <= len(batch_files):
        _feed(job, inp, batch_files[used:used + STREAM_CYCLE])
        used += STREAM_CYCLE
    py_peak = _vm_kb("self", "VmHWM") / 1024
    clock.uninstall()
    tracer.enabled = False

    steady = clock.batches[1:]
    lat = [r["commit"] - r["start"] for r in steady]
    busy = sum(r["end"] - r["start"] for r in steady)
    late = setup["late_per_file"]
    told = sum(setup["rows_per_file"][1:used + 1]) - sum(late[1:used + 1])

    # checks: the bootstrap manifest's total == the oracle over the base;
    # live sink == the oracle over the non-late rows; the last manifest's
    # running total == the live count; per-batch late accounting == the
    # planted late rows
    ref = oracle.reference([base_file] + batch_files[:used], min_ts_us=gen.TS0_US)
    live = _live_digest(job)
    ms = {m["batch_id"]: m for m in job.metrics() if "batch_id" in m}
    boot_ok = ms.get(0, {}).get("closure_edges_total") == ref_base["count"]
    if live != (ref["count"], ref["digest"]) or ms[max(ms)]["closure_edges_total"] != live[0]:
        bad = len(steady)
    else:
        bad = sum(1 for r in steady
                  if ms.get(r["batch"], {}).get("n_late_dropped") != late[r["batch"]])
    state_dir = os.path.join(root, "w", "closure_state")
    metrics = {
        # a stream's full materialization is its bootstrap batch
        "materialize_s": (boot, "s"),
        "edges_per_s": (ref_base["count"] / boot, "1/s"),
        "commit_p50_s": (statistics.median(lat), "s"),
        "told_rows_per_s": (told / busy, "1/s"),
        "py_peak_rss_mb": (py_peak, "MB"),
        "disk_mb": (_dir_bytes(os.path.join(root, "w")) / 2**20, "MB"),
    }
    info = {"base_edges": ref_base["count"], "final_edges": ref["count"],
            "oracle_r4_rounds": ref_base["r4_rounds"],
            "steady_batches": len(steady), "steady_told_rows": told,
            "commit_latencies": [round(x, 4) for x in lat],
            "measure_s": time.time() - t_measure}
    per_layer = {}
    if trace:
        traced = [r for r in steady if r["batch"] % 2 == 1]
        prev_end = {r["batch"]: p["end"] for p, r in zip(clock.batches, steady)}
        t_lat = [r["commit"] - r["start"] for r in traced]
        u_lat = [r["commit"] - r["start"] for r in steady if r["batch"] % 2 == 0]
        per_layer = layer_metrics(
            tracer.spans, spans.spark_jobs(spark, t_measure),
            ops=[r["batch"] for r in traced],
            # a batch's window opens where the previous batch ended, so the
            # stream's own between-batch work counts against coverage
            windows=[(prev_end[r["batch"]], r["end"]) for r in traced],
            overhead=statistics.median(t_lat) - statistics.median(u_lat),
            state_dir=state_dir,
        )
        tracer.uninstall()
    return {"metrics": metrics, "per_layer": per_layer,
            "attempted": 1 + len(steady), "failed": (0 if boot_ok else 1) + bad,
            "info": info}


# ------------------------------------------------------------------ traces
# reported layer -> the span layers it covers; `assemble` covers
# assemble_output, the edge hash and the parquet write
LAYERS = {
    "decode": {"decode"},
    "closure": {"closure"},
    "materialize": {"materialize"},
    "assemble": {"assemble", "hashing"},
    "hashing": {"hashing"},
    "incremental": {"incremental"},
    "streaming.pipeline": {"streaming.pipeline"},
    "told_trail": {"told_trail"},
    "sinks": {"sinks"},
}


def layer_metrics(all_spans, jobs, ops, windows, overhead, state_dir) -> dict:
    """Per-operation averages over the traced operations `ops`: six figures
    per layer, plus the layer-specific ones."""
    op_set = set(ops)
    sp = [s for s in all_spans if s.op in op_set]
    k = max(1, len(ops))
    out = {}
    for name, layers in LAYERS.items():
        st = spans.layer_stats(sp, jobs, layers=layers)
        out[f"{name}.wall_s"] = (st["wall_s"] / k, "s")
        out[f"{name}.jobs"] = (st["jobs"] / k, "count")
        out[f"{name}.stages"] = (st["stages"] / k, "count")
        out[f"{name}.shuffle_mb"] = (st["shuffle_mb"] / k, "MB")
        out[f"{name}.task_s"] = (st["task_s"] / k, "s")
        out[f"{name}.idle_s"] = (st["idle_s"] / k, "s")

    def named(*names):
        return spans.layer_stats(sp, jobs, names=set(names))

    def count(name):
        return sum(1 for s in sp if s.name == name)

    attempts = count("transitive_closure") + count("incremental_tc")
    hits = sum(1 for s in sp if s.name in ("_driver_tc", "_driver_incremental_tc")
               and not s.result_none)
    # R4 rounds that applied feedback: each one recomputes the star closure
    # (_sc_star) or extends it (incremental_tc) inside materialize_edges
    rounds = 0
    for s in sp:
        if s.name == "materialize_edges":
            kids = [all_spans[c].name for c in s.children]
            rounds += kids.count("_sc_star") - 1 + kids.count("incremental_tc")
    unsat = named("compute_unsat")
    n_jobs = sum(1 for j in jobs if any(a <= j["start"] <= z for a, z in windows))
    out.update({
        "closure.driver_share": (hits / attempts if attempts else 0.0, "ratio"),
        "materialize.derive_s": (named("derive_relations")["wall_s"] / k, "s"),
        "materialize.r4_rounds": (rounds / k, "count"),
        "materialize.unsat_s": (unsat["wall_s"] / k, "s"),
        "materialize.unsat_jobs": (unsat["jobs"] / k, "count"),
        "incremental.apply_s": (named("apply_delta")["wall_s"] / k, "s"),
        "incremental.assemble_delta_s": (named("assemble_delta")["wall_s"] / k, "s"),
        "incremental.persist_s": (named("save_state_snapshot", "save_state_delta",
                                        "consolidate_state_deltas",
                                        "repoint_state")["wall_s"] / k, "s"),
        "incremental.jobs_per_batch": (n_jobs / k if state_dir else 0.0, "count"),
        "incremental.state_mb": (_dir_bytes(state_dir) / 2**20 if state_dir else 0.0, "MB"),
        "incremental.assemble_delta_share": (
            len({s.op for s in sp if s.name == "assemble_delta"}) / k, "ratio"),
        "incremental.initial_state_steady": (count("initial_state"), "count"),
        "incremental.initial_state_bootstrap": (
            sum(1 for s in all_spans if s.op == 0 and s.name == "initial_state"), "count"),
        "pipeline.self_s": (spans.self_time(all_spans, "process_batch", op_set) / k, "s"),
        "told_trail.write_s": (named("write_batch")["wall_s"] / k, "s"),
        "sinks.append_s": (named("append", "append_new_only")["wall_s"] / k, "s"),
        "sinks.maintain_s": (named("maybe_compact")["wall_s"] / k, "s"),
        "trace.coverage": (spans.coverage(sp, windows), "ratio"),
        "trace.overhead_s": (overhead, "s"),
        "jvm.peak_rss_mb": (_jvm_peak_mb(), "MB"),
    })
    return out


# ------------------------------------------------------------------ driver
def _setup_inputs(workload: str, seed: int, work: str) -> dict:
    """Generate and stage the workload's inputs under work/staged."""
    staged = os.path.join(work, "staged")
    shutil.rmtree(staged, ignore_errors=True)
    if workload == "stream_deltas":
        return _stage_stream(
            gen.stream_deltas(seed, n_batches=STREAM_MAX_BATCHES, **STREAM), staged)
    f = os.path.join(staged, "seq", "part-0.parquet")
    n = gen.stage(f, gen.batch_hub(seed, **HUB), workload, gen.TS0_US)
    return {"files": [f], "told_rows": n}


RUNNERS = {
    "batch_hub": (warm_batch, run_batch),
    "stream_deltas": (warm_stream, run_stream),
}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, env: dict) -> dict:
    warm_up, runner = RUNNERS[workload]
    t0 = time.time()
    spark = start_session(work, env["nproc"])
    session_s = time.time() - t0
    try:
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t1 = time.time()
            setup = _setup_inputs(workload, seed, work)
            gen_s.append(time.time() - t1)
        t1 = time.time()
        setup["seed"] = seed
        warm_up(spark, setup, work)
        warm_s = time.time() - t1
        load_before = _loadavg()
        res = runner(spark, setup, seconds, trace, work)
        res["metrics"]["setup_s"] = (session_s + statistics.median(gen_s) + warm_s, "s")
        res["info"].update(env)
        res["info"].update({
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "session_s": session_s, "gen_stage_s": gen_s, "warmup_s": warm_s,
            "loadavg_before": load_before, "loadavg_after": _loadavg(),
            "spark_conf": _conf(spark)})
    finally:
        stop_session(spark)
    chosen = res["per_layer"] if trace else res["metrics"]
    res["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()}
    res["correct"] = res["failed"] == 0
    return res
