"""The generator is a pure function of (workload, seed)."""

import os

import pytest

import generate
import reference


def _files(root):
    """Relative path -> bytes, plus the mtime of log segments (the file
    source's delivery order)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                data = f.read()
            rel = os.path.relpath(p, root)
            out[rel] = (data, os.stat(p).st_mtime if n.startswith("seg-") else None)
    return out


@pytest.mark.parametrize("workload", sorted(generate.WORKLOADS))
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    generate.generate(workload, 5, str(tmp_path / "a"))
    generate.generate(workload, 5, str(tmp_path / "b"))
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert a.keys() == b.keys()
    assert a == b


@pytest.mark.parametrize("workload", sorted(generate.WORKLOADS))
def test_other_seed_gives_other_log(tmp_path, workload):
    generate.generate(workload, 5, str(tmp_path / "a"))
    generate.generate(workload, 6, str(tmp_path / "b"))
    a, b = _files(tmp_path / "a" / "log"), _files(tmp_path / "b" / "log")
    assert any(a[k][0] != b.get(k, (None,))[0] for k in a)


def test_segments_have_strictly_increasing_mtimes(tmp_path):
    generate.generate("trickle", 1, str(tmp_path))
    log = tmp_path / "log"
    mtimes = [os.stat(log / n).st_mtime for n in sorted(os.listdir(log))]
    assert len(mtimes) == generate.WORKLOADS["trickle"]["segments"]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))


@pytest.mark.parametrize("workload", ["trickle", "bulk"])
def test_reference_reaches_the_source_truth(workload):
    """Folding the typed log onto the initial snapshot gives the simulated
    source's final tables: the log is a faithful change log of the source
    (TOAST omitted only for unchanged columns, deletes of live keys)."""
    initial, segments, _, final = generate.build_log(workload, 9)
    start = {t: {r[0]: r for r in rows} for t, rows in initial.items()}
    last = reference.fold_by_segment(start, [s["events"] for s in segments], generate.SCHEMAS)[-1]
    assert {t: reference.rows_of(rows) for t, rows in last.items()} == final


def test_dblog_chunks_backfill_every_row():
    """From an empty target, stream segments plus the dump chunks reach the
    source's final table (the DBLog watermark rule)."""
    initial, segments, dumps, final = generate.build_log("dblog", 9)
    assert {d["lo"] for d in dumps} | {d["hi"] for d in dumps} >= {0, generate.DUMP_BUCKETS - 1}
    last = reference.fold_by_segment(
        {"customer": {}}, [s["events"] for s in segments], generate.SCHEMAS
    )[-1]
    assert reference.rows_of(last["customer"]) == final["customer"]
