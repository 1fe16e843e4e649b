"""The traced run's layers: which engine calls are wrapped, and the
per-layer metrics computed from their spans.

Layers are the engine's modules.  Each per-layer metric is expected to move
one end-to-end metric on one workload:

=============================  ============================================
layer (spans)                  moves
=============================  ============================================
Spark engine boundary          ``commit_ms_p50`` on trickle
``sources`` (Spark phases)     ``commit_ms_p50`` on trickle
``functions`` (driver timing)  ``apply_eps`` on bulk
``pipeline.probe``             ``commit_ms_p50`` on trickle, eps on bulk
``pipeline.fold``              ``apply_eps`` on bulk and dblog
``registry.upkeep``            ``commit_ms_p50`` on trickle; ``peak_rss_mb``
``state.*``                    ``apply_eps`` on bulk/dblog; ``read_ms_p50``
``backfill`` (trigger split)   ``apply_eps`` on dblog
``setup.*``                    ``setup_s``
=============================  ============================================

A metric whose layer is not on a workload's path reads 0 there (dblog has
no wire decode, no protocol probe and no tx registry; trickle and bulk have
no dump chunks; no workload has an empty micro-batch to mark).
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

from spans import Tracer, per_trigger_counts, per_trigger_self_ms, trigger_tree


def _batch_arg(i: int):
    return lambda a, kw: kw.get("batch_id", a[i] if len(a) > i else None)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _written(buckets_of):
    """Post-hook for a state commit: touched buckets and bytes written."""

    def post(args, kwargs, span):
        state, batch_id = args[0], kwargs.get("batch_id", args[-1])
        span.counts["state.touched"] = buckets_of(args)
        span.counts["state.bytes"] = _dir_bytes(
            os.path.join(state.root, f"v{batch_id:012d}")
        )

    return post


def install() -> Tracer:
    """Wrap the engine's layer entry points in this process. Must run before
    a consumer starts: ``apply_wire_stream_multi`` binds
    ``fold_commit_multi`` when it is called."""
    from pgcapture_spark.streaming import multi, pipeline
    from pgcapture_spark.streaming.state import BucketedSnapshotState, SnapshotState

    tr = Tracer()
    tr.wrap(pipeline, "probe_and_fold_tx", "pipeline.probe", _batch_arg(2))
    tr.wrap(pipeline, "fold_commit", "pipeline.fold", _batch_arg(5))
    tr.wrap(multi, "fold_commit_multi", "pipeline.fold", _batch_arg(5))
    # tx registry (the SnapshotState the wire consumers pass as tx_state)
    tr.wrap(SnapshotState, "commit_rows", "registry.upkeep",
            post=lambda a, kw, sp: sp.counts.update({"registry.commit_rows": 1}))
    tr.wrap(SnapshotState, "commit_delta_rows", "registry.upkeep")
    tr.wrap(SnapshotState, "vacuum", "registry.upkeep")
    # versioned state store
    single = BucketedSnapshotState
    tr.wrap(single, "commit_buckets", "state.write",
            post=_written(lambda a: len(a[2])))
    tr.wrap(multi.BucketedMultiTableState, "commit", "state.write",
            post=_written(lambda a: sum(len(b) for _, b in a[1].values())))
    for cls in (single, multi.BucketedMultiTableState):
        tr.wrap(cls, "initialize", "state.write")
        tr.wrap(cls, "read_buckets", "state.read")
        tr.wrap(cls, "mark_batch", "state.mark")
        tr.wrap(cls, "vacuum", "state.vacuum")
        tr.wrap(cls, "manifest_asof", "state.resolve")
        tr.wrap(cls, "read_asof", "state.resolve")
        tr.wrap(cls, "read", "state.resolve")
    return tr


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return lst.apply(lst.size() - 1).executionId() if lst.size() else -1


def _execution_times(spark, after: int) -> list[float]:
    """Submission times (epoch s) of the SQL executions after id ``after``,
    read from the SQL status store once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    out = []
    for i in range(lst.size() - 1, -1, -1):
        ex = lst.apply(i)
        if ex.executionId() <= after:
            break
        out.append(ex.submissionTime() / 1000.0)
    return out


def layer_samples(spark, tr: Tracer, progress, state, tx_state, execs_before) -> dict:
    """Per-trigger samples, and end-of-drain sizes, of one traced drain."""
    roots, tree = trigger_tree(progress, tr.spans)
    self_ms = per_trigger_self_ms(roots, tree)
    counts = per_trigger_counts(roots, tree)
    execs = [0] * len(roots)
    for t in _execution_times(spark, execs_before):
        for i, r in enumerate(roots):
            if r.start - 0.002 <= t <= r.end + 0.002:
                execs[i] += 1
                break
    n = len(roots)
    return {
        "self_ms": self_ms,
        "counts": counts,
        "execs": execs,
        "rows": [p["numInputRows"] for p in progress],
        "probe_calls": sum(1 for s in tree if s.name == "pipeline.probe") / max(1, n),
        "registry_entries": tx_state.read().count() if tx_state is not None else 0,
        "compactions": max(0, sum(counts.get("registry.commit_rows", [])) - 1),
        "bytes_live": _dir_bytes(state.root),
    }


def resolve_ms(spans, n_reads: int) -> float:
    """Mean time one read spends resolving its manifest and paths: the
    top-level state-store calls the read phase made, per read."""
    return sum((s.end - s.start) * 1000.0 for s in spans if s.parent is None) / max(1, n_reads)


def function_costs(workload: str, log_dir: str, limit: int = 20000) -> tuple[float, float]:
    """Driver-side cost of the wire functions on the workload's own frames:
    microseconds per frame for ``parse_frame`` / ``parse_message`` and per
    value for ``pgtypes.decode_series``. ``(0, 0)`` on dblog (typed feed)."""
    if workload == "dblog":
        return 0.0, 0.0
    import pandas as pd
    import pyarrow.parquet as pq

    from generate import CUSTOMER
    from pgcapture_spark.functions import pgoutput, pgtypes, protowire

    frames = []
    for f in sorted(os.listdir(log_dir)):
        frames += pq.read_table(os.path.join(log_dir, f), columns=["data"]).column(0).to_pylist()
    frames = frames[:limit]
    parse = pgoutput.parse_frame if workload == "trickle" else protowire.parse_message
    t0 = time.perf_counter()
    parsed = [parse(b) for b in frames]
    parse_us = (time.perf_counter() - t0) / len(frames) * 1e6
    by_oid: dict[int, list] = defaultdict(list)
    for p in parsed:
        if p["op"] not in ("INSERT", "UPDATE", "DELETE"):
            continue
        if workload == "trickle":
            for tup in (p["new_tuple"], p["old_tuple"]):
                for (_, oid), cell in zip(CUSTOMER, tup or []):
                    if cell["format"] in ("b", "n"):
                        by_oid[oid].append(cell["bin"])
        else:
            for fld in p["new_fields"] + p["old_fields"]:
                by_oid[fld["oid"]].append(fld["bin"])
    n_vals = sum(len(v) for v in by_oid.values())
    series = {oid: pd.Series(v, dtype=object) for oid, v in by_oid.items()}
    t0 = time.perf_counter()
    for oid, s in series.items():
        pgtypes.decode_series(oid, s)
    decode_us = (time.perf_counter() - t0) / max(1, n_vals) * 1e6
    return parse_us, decode_us


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(rounds: list[dict], session_s: float, info: list[str]) -> dict:
    """Every per-layer metric, pooled over the rounds' traced drains."""

    traced = [x["traced"] for x in rounds]

    def pooled(get):
        """One sample per trigger, over every traced drain."""
        return [v for t in traced for v in get(t)]

    def self_of(name):
        return pooled(lambda t: t["self_ms"].get(name, [0.0] * len(t["rows"])))

    def count_of(name):
        return _med(pooled(lambda t: t["counts"].get(name, [0.0] * len(t["rows"]))))

    def per_round(key):
        return _med(t[key] for t in traced)

    kinds = {"stream": [], "chunk": []}  # untraced trigger latency by segment kind
    for x in rounds:
        for p in x["plain"]["progress"]:
            kinds[x["meta"]["segments"][p["batchId"]]].append(p["durationMs"]["triggerExecution"])

    layers = ("trigger.untraced", "spark.planning", "sources.offset", "sources.wal",
              "pipeline.probe", "pipeline.fold", "registry.upkeep", "state.read",
              "state.write", "state.mark", "state.vacuum")
    self_med = {n: _med(self_of(n)) for n in layers}
    plain_p50 = _med(v for vs in kinds.values() for v in vs)
    traced_p50 = _med(pooled(lambda t: [p["durationMs"]["triggerExecution"] for p in t["progress"]]))
    info.append(
        "per-trigger median self ms: "
        + ", ".join(f"{n} {v:.1f}" for n, v in self_med.items())
        + f"; sum {sum(self_med.values()):.1f} vs commit_ms_p50 {plain_p50:.1f} untraced,"
        f" {traced_p50:.1f} traced"
    )
    ms, count = "ms", "count"
    out = {
        "spark.sql_execs_per_trigger": (_med(pooled(lambda t: t["execs"])), count),
        "spark.planning_ms": (self_med["spark.planning"], ms),
        "trigger.untraced_ms": (self_med["trigger.untraced"], ms),
        "sources.offset_ms": (self_med["sources.offset"], ms),
        "sources.wal_ms": (self_med["sources.wal"], ms),
        "sources.rows_per_trigger": (_med(pooled(lambda t: t["rows"])), count),
        "functions.parse_us_per_frame": (per_round("parse_us"), "us"),
        "functions.decode_us_per_value": (per_round("decode_us"), "us"),
        "pipeline.probe_ms": (self_med["pipeline.probe"], ms),
        "pipeline.probe_calls": (per_round("probe_calls"), count),
        "pipeline.fold_ms": (self_med["pipeline.fold"], ms),
        "registry.upkeep_ms": (self_med["registry.upkeep"], ms),
        "registry.entries": (per_round("registry_entries"), count),
        "registry.compactions": (per_round("compactions"), count),
        "state.read_ms": (self_med["state.read"], ms),
        "state.write_ms": (self_med["state.write"], ms),
        "state.mark_ms": (self_med["state.mark"], ms),
        "state.vacuum_ms": (self_med["state.vacuum"], ms),
        "state.touched_buckets_per_trigger": (count_of("state.touched"), count),
        "state.bytes_written_per_trigger": (count_of("state.bytes"), "B"),
        "state.bytes_live": (per_round("bytes_live"), "B"),
        "state.asof_resolve_ms": (per_round("resolve_ms"), ms),
        "backfill.dump_rows": (_med(x["meta"]["dump_rows"] for x in rounds), count),
        "backfill.chunk_commit_ms_p50": (_med(kinds["chunk"]), ms),
        "backfill.stream_commit_ms_p50": (_med(kinds["stream"]), ms),
        "setup.session_s": (session_s, "s"),
        "setup.generate_s": (_med(x["generate_s"] for x in rounds), "s"),
        "setup.warmup_s": (_med(x["warmup_s"] for x in rounds), "s"),
        # traced against untraced apply_eps, per round (same input): the
        # median ignores a round whose first drain ran in a colder JVM
        "trace.overhead_pct": (
            100.0 * (_med(x["traced"]["wall_s"] / x["plain"]["wall_s"] for x in rounds) - 1.0), "%"
        ),
        "trace.accounted_pct": (100.0 * sum(self_med.values()) / plain_p50, "%"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
