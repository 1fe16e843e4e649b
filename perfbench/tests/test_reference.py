"""The correctness check catches a single wrong row."""

import datetime as dt

import generate
import reference


def _expected():
    initial, segments, _, _ = generate.build_log("bulk", 4)
    start = {t: {r[0]: r for r in rows} for t, rows in initial.items()}
    last = reference.fold_by_segment(start, [s["events"] for s in segments], generate.SCHEMAS)[-1]
    return {t: [tuple(r) for r in reference.rows_of(rows)] for t, rows in last.items()}


def test_matching_rows_pass():
    exp = _expected()
    for t, rows in exp.items():
        assert reference.compare(list(reversed(rows)), rows) == []


def test_one_mutated_value_fails():
    rows = _expected()["customer"]
    got = list(rows)
    i = len(got) // 2
    got[i] = got[i][:3] + (got[i][3] + 0.01,) + got[i][4:]
    diffs = reference.compare(got, rows)
    assert len(diffs) == 1 and repr(rows[i][0]) in diffs[0]


def test_missing_extra_and_duplicate_rows_fail():
    rows = _expected()["orders"]
    assert reference.compare(rows[1:], rows)[0].startswith("missing key")
    extra = rows + [(10**12,) + rows[0][1:]]
    assert reference.compare(extra, rows)[0].startswith("extra key")
    assert reference.compare(rows + rows[:1], rows)[0].startswith("duplicate key")


def test_timestamps_compare_as_micros():
    ts = dt.datetime(1995, 3, 1)
    micros = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    assert reference.compare([(1, micros)], [(1, ts.replace(tzinfo=dt.timezone.utc))]) == []
    assert reference.compare([(1, micros + 1)], [(1, ts)]) != []
