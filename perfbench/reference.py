"""Reference apply and the correctness check.

``fold_by_segment`` replays typed change events onto plain dicts, one
segment (= one micro-batch) at a time, in ord order inside a segment.  It
shares no code with the engine: the rules are the change-log semantics
themselves -- a DELETE drops the key; an INSERT or UPDATE sets the columns
it carries (an explicit NULL included) and keeps every column it leaves out
(unchanged TOAST), creating the row when the key is absent (a DBLog target
receives updates before the dump chunk that holds the row).

``compare`` diffs the engine's rows against the reference rows.
"""

from __future__ import annotations

import datetime as dt

_EPOCH = dt.datetime(1970, 1, 1)


def fold_by_segment(
    start: dict[str, dict[int, list]],
    segments: list[list[dict]],
    schemas: dict[str, list[tuple[str, int]]],
) -> list[dict[str, dict[int, list]]]:
    """The state after each segment, for every table in ``start``."""
    state = {t: {k: list(r) for k, r in rows.items()} for t, rows in start.items()}
    pos = {t: {n: i for i, (n, _) in enumerate(s)} for t, s in schemas.items()}
    out = []
    for events in segments:
        for e in sorted(events, key=lambda e: e["ord"]):
            rows = state[e["table"]]
            key = e["vals"][0]
            if e["op"] == "DELETE":
                rows.pop(key, None)
                continue
            row = rows.get(key)
            if row is None:
                row = rows[key] = [key] + [None] * (len(e["vals"]) - 1)
            for name in e["present"]:
                i = pos[e["table"]][name]
                row[i] = e["vals"][i]
        out.append({t: {k: list(r) for k, r in rows.items()} for t, rows in state.items()})
    return out


def rows_of(table_state: dict[int, list]) -> list[list]:
    return [table_state[k] for k in sorted(table_state)]


def normalize(v):
    """One comparable form per value: timestamps as epoch microseconds."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // dt.timedelta(microseconds=1)
    return v


def compare(actual: list[tuple], expected: list[tuple], limit: int = 5) -> list[str]:
    """Differences between two row sets keyed by their first column: missing
    keys, extra keys, duplicate keys and rows whose values differ. Empty
    when they match."""
    diffs: list[str] = []
    act: dict = {}
    for r in actual:
        r = tuple(normalize(v) for v in r)
        if r[0] in act:
            diffs.append(f"duplicate key {r[0]!r}")
        act[r[0]] = r
    exp = {r[0]: tuple(normalize(v) for v in r) for r in expected}
    for k in sorted(exp.keys() - act.keys()):
        diffs.append(f"missing key {k!r}: expected {exp[k]!r}")
    for k in sorted(act.keys() - exp.keys()):
        diffs.append(f"extra key {k!r}: got {act[k]!r}")
    for k in sorted(exp.keys() & act.keys()):
        if exp[k] != act[k]:
            diffs.append(f"key {k!r}: expected {exp[k]!r}, got {act[k]!r}")
    return diffs[:limit] + ([f"... {len(diffs) - limit} more"] if len(diffs) > limit else [])
