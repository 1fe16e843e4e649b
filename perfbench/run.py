"""CDC engine benchmark: trickle capture, bulk apply and DBLog backfill.

Drives the engine's public streaming consumers on ``local[4]`` with seeded,
generated change logs, and prints one JSON line of metrics.  Usage, from the
repository root::

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Workloads (sizes per round in ``generate.WORKLOADS``):

* ``trickle`` -- raw pgoutput frames, one small segment per trigger, into a
  single-table ``BucketedSnapshotState`` via ``apply_pgoutput_stream``.
* ``bulk`` -- one protobuf Message log of customer+orders changes in a few
  large segments, via ``apply_wire_stream_multi`` into a
  ``BucketedMultiTableState``.
* ``dblog`` -- a typed feed applied with ``apply_stream`` from an empty
  snapshot into a ``BucketedSnapshotState`` with a retention window, with
  ``operators.backfill.dump_chunk`` chunks interleaved between the stream
  segments; every retained version is read back as of its batch.

A run is a sequence of rounds.  Each round sets up (one generator process
writes a fresh seeded input; an untimed warm-up drains a short prefix of it),
then drains the whole log with a fresh consumer -- one stream at a time, in a
closed loop: Spark starts the next micro-batch only after the previous one
commits -- then reads the target state and compares it with the reference
(``reference.py``).  Rounds repeat until the timed drains add up to
``--seconds`` (at least ``MIN_ROUNDS``); ``setup_s`` is the median over the
rounds' set-ups.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` drains every
round twice, untraced then traced, and prints the per-layer metrics
(``layers.py``, ``spans.py``) together with the tracing overhead.  The last
line of standard output is the result object; the command exits non-zero
when any output differs from the reference.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (HERE, ROOT):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import layers  # noqa: E402

CPUS = 4
DRIVER_MEM = "1g"
MIN_ROUNDS = 3
N_BUCKETS = 16
RETAIN_VERSIONS = 6  # dblog retention window (history entries kept)
READS_PER_ROUND = 5  # timed full reads of the final state (trickle, bulk)
ASOF_PASSES = 2  # timed reads of every retained version (dblog)
QUERY_TIMEOUT_S = 150
WIRE_SCHEMA = "lsn bigint, seq int, ord bigint, data binary"


class Failures:
    """Operations attempted and failed: triggers, and state reads checked
    against the reference."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, n: int, bad: int, note: str | None = None) -> None:
        self.attempted += n
        self.failed += bad
        if note:
            self.notes.append(note)


# ----------------------------------------------------------------- session


def start_spark(work: str):
    """A ``local[4]`` session whose scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    # a fixed-size heap: how far the JVM grows a lazily sized heap depends
    # on GC timing, which would drown peak_rss_mb in run-to-run noise
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    ).strip()
    # the Python workers import the engine for its UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from pgcapture_spark.session import get_spark

    spark = get_spark(
        app="perfbench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def peak_rss(spark) -> tuple[float, float]:
    """Peak resident memory (VmHWM, MB) of the driver JVM and of this
    process."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm(spark._jvm.java.lang.ProcessHandle.current().pid()), hwm("self")


# ------------------------------------------------------------------- input


def generate_input(workload: str, seed: int, out: str) -> dict:
    """Run the generator in its own process and return its meta."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "generate.py"),
         "--workload", workload, "--seed", str(seed), "--out", out],
        check=True, stdout=subprocess.DEVNULL, timeout=120,
    )
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)


def write_dump_chunks(spark, d: str, meta: dict) -> None:
    """Fill the log's chunk slots with ``dump_chunk`` output over the source
    image the generator recorded at each injection point."""
    from generate import CUSTOMER, DUMP_BUCKETS, segment_path, stamp_mtime
    from pgcapture_spark.operators.backfill import dump_chunk

    cols = [n for n, _ in CUSTOMER[1:]]
    for c in meta["chunks"]:
        src = spark.read.parquet(os.path.join(d, c["path"]))
        chunk = dump_chunk(src, CUSTOMER[0][0], cols, c["lo"], c["hi"],
                           dump_id=c["dump_id"], n_buckets=DUMP_BUCKETS)
        tmp = os.path.join(d, "chunk-tmp")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp))
                    if f.startswith("part-") and f.endswith(".parquet"))
        dst = segment_path(d, "log", c["segment"])
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        stamp_mtime(dst, c["segment"])


# --------------------------------------------------------------- consumers


def _ddl(schema: list[tuple[str, int]]) -> str:
    from pgcapture_spark.functions.pgtypes import spark_type_for_oid

    return ", ".join(f"{n} {spark_type_for_oid(o)}" for n, o in schema)


def start_consumer(spark, workload: str, d: str, sub: str, root: str):
    """Start the workload's consumer over ``d/sub`` with fresh state under
    ``root``. Returns ``(query, state, tx_state)``."""
    from generate import CUSTOMER, SCHEMAS
    from pgcapture_spark.sources.feed import read_feed_stream
    from pgcapture_spark.streaming import pipeline
    from pgcapture_spark.streaming.state import BucketedSnapshotState, SnapshotState

    log = os.path.join(d, sub)
    ckpt = os.path.join(root, "ckpt")
    cols = {t: [n for n, _ in s[1:]] for t, s in SCHEMAS.items()}
    keys = {t: s[0][0] for t, s in SCHEMAS.items()}
    if workload == "trickle":
        state = BucketedSnapshotState(spark, f"{root}/state", keys["customer"], N_BUCKETS)
        tx_state = SnapshotState(spark, f"{root}/txreg")
        query = pipeline.apply_pgoutput_stream(
            read_feed_stream(spark, log, WIRE_SCHEMA, 1),
            state, tx_state, SnapshotState(spark, f"{root}/relcache"),
            spark.read.parquet(os.path.join(d, "snapshot", "customer.parquet")),
            cols["customer"], ckpt, table="customer",
        )
    elif workload == "bulk":
        from pgcapture_spark.streaming.multi import BucketedMultiTableState

        tables = list(SCHEMAS)
        state = BucketedMultiTableState(spark, f"{root}/state", tables, keys, N_BUCKETS)
        tx_state = SnapshotState(spark, f"{root}/txreg")
        query = pipeline.apply_wire_stream_multi(
            read_feed_stream(spark, log, WIRE_SCHEMA, 1),
            state, tx_state,
            {t: spark.read.parquet(os.path.join(d, "snapshot", f"{t}.parquet")) for t in tables},
            keys, SCHEMAS, cols, ckpt,
        )
    else:
        state = BucketedSnapshotState(
            spark, f"{root}/state", keys["customer"], N_BUCKETS,
            retain_versions=RETAIN_VERSIONS,
        )
        tx_state = None
        typed = f"lsn bigint, seq int, ord bigint, op string, {_ddl(CUSTOMER)}, present string"
        query = pipeline.apply_stream(
            read_feed_stream(spark, log, typed, 1),
            state, spark.createDataFrame([], _ddl(CUSTOMER)),
            keys["customer"], cols["customer"], ckpt,
        )
    return query, state, tx_state


def drain(spark, workload: str, d: str, sub: str, root: str, failures: Failures | None):
    """Run one consumer to the end of ``d/sub``. Returns ``(wall_s,
    progress, state, tx_state)``; ``progress`` rows hold ``batchId``,
    ``start`` (epoch s), ``durationMs`` and ``numInputRows``."""
    import datetime as dt

    n_seg = len(os.listdir(os.path.join(d, sub)))
    t0 = time.perf_counter()
    query, state, tx_state = start_consumer(spark, workload, d, sub, root)
    done = query.awaitTermination(QUERY_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if not done:
        query.stop()
    err = query.exception()
    progress = []
    for p in query.recentProgress:
        ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        progress.append({
            "batchId": p.batchId,
            "start": ts.replace(tzinfo=dt.timezone.utc).timestamp(),
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
        })
    progress = [p for p in progress if p["numInputRows"] > 0]
    dead = os.path.join(root, "ckpt", "deadletter")
    parked = len(os.listdir(dead)) if os.path.isdir(dead) else 0
    bad = parked + max(0, n_seg - len(progress) - parked)
    if (err is not None or not done) and not bad:
        bad = 1
    if failures is not None:
        note = None
        if bad or err is not None or not done:
            note = (f"{sub}: {len(progress)}/{n_seg} triggers, {parked} quarantined"
                    + (f", error: {err}" if err is not None else "")
                    + ("" if done else ", timed out"))
        failures.record(n_seg, bad, note)
    elif bad or err is not None or not done:
        raise RuntimeError(f"warm-up drain failed: {err}")
    return wall, progress, state, tx_state


# ------------------------------------------------------------------ checks


def _expected_rows(d: str, rel: str) -> list[tuple]:
    import pyarrow.parquet as pq

    return _rows(pq.read_table(os.path.join(d, rel)))


def _materialize(df, table: str):
    """One table fully materialized on the driver as an Arrow table."""
    from generate import SCHEMAS

    if df is None:
        return None
    return df.select(*[n for n, _ in SCHEMAS[table]]).toArrow()


def _rows(arrow) -> list[tuple]:
    if arrow is None:
        return []
    return list(zip(*[c.to_pylist() for c in arrow.columns]))


def read_and_check(workload: str, state, d: str, meta: dict, failures: Failures) -> list[float]:
    """Read the drained state back and compare it with the reference.
    Returns the latency (ms) of each full read."""
    from reference import compare

    reads = []  # (label, {table: DataFrame-producing thunk}, {table: expected path})
    if workload == "dblog":
        for b in state.retained_batches() * ASOF_PASSES:
            reads.append((f"as of batch {b}",
                          lambda b=b: {"customer": state.read_asof(state.manifest_asof(b))},
                          {"customer": meta["expected"][f"asof-{b:05d}-customer"]}))
    else:
        def current():
            got = state.read()
            return got if isinstance(got, dict) else {"customer": got}

        for i in range(READS_PER_ROUND):
            reads.append((f"final read {i}", current,
                          {t: meta["expected"][f"final-{t}"] for t in meta["tables"]}))
    latencies = []
    want: dict[str, list[tuple]] = {}
    for label, thunk, expected in reads:
        t0 = time.perf_counter()
        got = {t: _materialize(df, t) for t, df in thunk().items()}
        latencies.append((time.perf_counter() - t0) * 1000.0)
        diffs = []
        for t, rel in expected.items():
            if rel not in want:
                want[rel] = _expected_rows(d, rel)
            diffs += [f"{t}: {x}" for x in compare(_rows(got.get(t)), want[rel])]
        failures.record(1, 1 if diffs else 0, f"{label}: {diffs}" if diffs else None)
    return latencies


# ----------------------------------------------------------------- metrics


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``; the maximum when there are ten or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# -------------------------------------------------------------------- main


def measure(spark, workload: str, d_in: str, root: str, meta: dict,
            failures: Failures, tracer=None) -> dict:
    """Drain the log with a fresh consumer and read the result back. With a
    tracer, spans are recorded and turned into layer samples."""
    if tracer is not None:
        tracer.spans.clear()
        execs_before = layers.last_execution_id(spark)
        tracer.active = True
    try:
        wall, progress, state, tx_state = drain(spark, workload, d_in, "log", root, failures)
    finally:
        if tracer is not None:
            tracer.active = False
    res = {"wall_s": wall, "progress": progress}
    if tracer is None:
        res["read_ms"] = read_and_check(workload, state, d_in, meta, failures)
        return res
    res.update(layers.layer_samples(spark, tracer, progress, state, tx_state, execs_before))
    mark = len(tracer.spans)
    tracer.active = True
    try:
        res["read_ms"] = read_and_check(workload, state, d_in, meta, failures)
    finally:
        tracer.active = False
    res["resolve_ms"] = layers.resolve_ms(tracer.spans[mark:], len(res["read_ms"]))
    res["parse_us"], res["decode_us"] = layers.function_costs(workload, os.path.join(d_in, "log"))
    return res


def set_up(spark, args, index: int, d: str) -> dict:
    """Write a fresh seeded input and warm up on its prefix."""
    d_in = os.path.join(d, "in")
    t0 = time.perf_counter()
    meta = generate_input(args.workload, args.seed * 1000 + index, d_in)
    if meta["chunks"]:
        write_dump_chunks(spark, d_in, meta)
    rnd = {"meta": meta, "generate_s": time.perf_counter() - t0}
    t0 = time.perf_counter()
    drain(spark, args.workload, d_in, "warm", os.path.join(d, "warm"), None)
    rnd["warmup_s"] = time.perf_counter() - t0
    return rnd


def run_round(spark, args, index: int, d: str, failures: Failures, tracer=None) -> dict:
    """Set up, then measure. A traced run measures twice, untraced and
    traced, alternating which goes first: the later drain runs in a warmer
    JVM."""
    rnd = set_up(spark, args, index, d)
    d_in = os.path.join(d, "in")
    kinds = ("plain",) if tracer is None else ("plain", "traced")[:: -1 if index % 2 else 1]
    for kind in kinds:
        rnd[kind] = measure(spark, args.workload, d_in, os.path.join(d, kind), rnd["meta"],
                            failures, tracer if kind == "traced" else None)
    return rnd


def run(args, work: str) -> tuple[dict, Failures, list[str]]:
    failures = Failures()
    info: list[str] = []
    spark = start_spark(work)
    session_s = time.perf_counter() - _T0
    tracer = layers.install() if args.trace else None
    try:
        rounds: list[dict] = []
        # a traced run keeps an even number of rounds (see run_round)
        min_rounds = 2 if tracer else MIN_ROUNDS
        while (len(rounds) < min_rounds or sum(x["plain"]["wall_s"] for x in rounds) < args.seconds
               or (tracer and len(rounds) % 2)):
            d = os.path.join(work, f"round{len(rounds)}")
            rounds.append(run_round(spark, args, len(rounds), d, failures, tracer))
            shutil.rmtree(d, ignore_errors=True)
        rss = peak_rss(spark)
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)

    trig = [p["durationMs"]["triggerExecution"] for x in rounds for p in x["plain"]["progress"]]
    tail_ms, tail_pct, n_trig = tail(trig)
    info.append(
        f"rounds {len(rounds)}, events/round {rounds[0]['meta']['events']}, "
        f"messages/round {rounds[0]['meta']['messages']}, "
        f"commit_ms_tail = p{tail_pct:.1f} of {n_trig} triggers, "
        f"failed_ratio {failures.failed / max(1, failures.attempted):.4f}, "
        f"peak rss jvm {rss[0]:.0f} MB + python {rss[1]:.0f} MB"
    )
    if tracer is not None:
        return layers.layer_metrics(rounds, session_s, info), failures, info
    events = sum(x["meta"]["events"] for x in rounds)
    metrics = {
        "apply_eps": _m(events / sum(x["plain"]["wall_s"] for x in rounds), "1/s"),
        "commit_ms_p50": _m(statistics.median(trig), "ms"),
        "commit_ms_tail": _m(tail_ms, "ms"),
        "read_ms_p50": _m(statistics.median(v for x in rounds for v in x["plain"]["read_ms"]), "ms"),
        "setup_s": _m(statistics.median(session_s + x["generate_s"] + x["warmup_s"] for x in rounds), "s"),
        "peak_rss_mb": _m(sum(rss), "MB"),
    }
    return metrics, failures, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("trickle", "bulk", "dblog"))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pgcapture_spark", "streaming", "pipeline.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        metrics, failures, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for line in info + failures.notes:
        print(line)
    correct = failures.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
