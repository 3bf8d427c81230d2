"""Reference semantics the benchmark checks the program's outputs against.

``sequential_apply`` is the replicator's one-op-at-a-time apply loop
(insert replaces the whole row with absent fields NULL, update sets only
the fields it mentions and is a no-op on a missing row, delete removes the
row) — the semantics of ``tests/cdc_fixture.sequential_apply`` — extended
here to raw oplog shapes: ``$set``/``$unset``, ``$v:2`` diffs with nested
``s`` sections, full-document replace, ``applyOps`` transactions applied
in array order, noops, and namespaces the spec does not list. It is written
from the oplog format, not from the package's decoder, so the two are
independent.

Values are compared in the sink's representation: declared ``tinyint(1)``
columns as 0/1, ``bigint`` as int, everything else as text, and JSON text
(the ``rcpts`` blob) in canonical form.
"""

from __future__ import annotations

import json
import sqlite3

# flat sink column -> kind, per table (examples/momyre.yml)
COLUMNS = {
    "infos": {"index": "int", "cfg_pub": "str", "srv": "bool"},
    "users": {"type": "str", "email": "str", "pubkey": "str"},
    "regs": {"type": "str", "email": "str", "pubkey": "str"},
    "emails": {"from": "str", "rcpts": "json", "subj": "str", "body": "str"},
}
DEFAULTS = {"emails": {"subj": "(no subject)"}}


def _flat(doc: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in doc.items():
        if isinstance(v, dict):
            out.update(_flat(v, f"{prefix}{k}_"))
        else:
            out[f"{prefix}{k}"] = v
    return out


def sink_value(kind: str, v):
    """A source value as the sink stores it."""
    if v is None:
        return None
    if kind == "bool":
        if isinstance(v, str):
            return int(v.lower() == "true")
        return int(bool(v))
    if kind == "int":
        return int(v)
    if kind == "json":
        return json.dumps(json.loads(v) if isinstance(v, str) else v, separators=(",", ":"))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row(table: str, doc: dict) -> dict:
    """A whole document as its sink row; declared columns it lacks are NULL."""
    flat = _flat(doc)
    return {c: sink_value(k, flat.get(c)) for c, k in COLUMNS[table].items()}


def _diff_fields(diff: dict, prefix: str = "") -> dict:
    fields = {}
    for section, body in diff.items():
        if section in ("i", "u"):
            fields.update(_flat(body, prefix))
        elif section == "d":
            fields.update({f"{prefix}{f}": None for f in body})
        elif section.startswith("s"):
            fields.update(_diff_fields(body, f"{prefix}{section[1:]}_"))
    return fields


def sequential_apply(entries: list[dict], tables=tuple(COLUMNS), state=None) -> dict:
    """Apply raw oplog entries one at a time -> {table: {_id: row}}."""
    state = state if state is not None else {t: {} for t in tables}
    for e in entries:
        _apply(e, state)
    return state


def _apply(e: dict, state: dict) -> None:
    op = e.get("op")
    if op == "n":
        return
    if op == "c":
        for sub in e.get("o", {}).get("applyOps") or []:
            _apply(sub, state)
        return
    ns = e.get("ns", "")
    table = ns.split(".", 1)[1] if "." in ns else ns
    if table not in state:
        return
    rows = state[table]
    o = e.get("o") or {}
    if op == "i":
        rows[str(o["_id"])] = row(table, o)
    elif op == "d":
        rows.pop(str(o["_id"]), None)
    elif op == "u":
        key = str((e.get("o2") or {}).get("_id", o.get("_id")))
        if "$set" in o or "$unset" in o:
            fields = _flat(o.get("$set", {}))
            fields.update({k: None for k in _flat(o.get("$unset", {}))})
        elif o.get("$v") == 2:
            fields = _diff_fields(o["diff"])
        else:  # full replace resets the row
            rows[key] = row(table, o)
            return
        if key not in rows:
            return  # UPDATE matching no row
        cols = COLUMNS[table]
        for f, v in fields.items():
            if f in cols:
                rows[key][f] = sink_value(cols[f], v)
    else:
        raise ValueError(f"unknown oplog op {op!r}")


def snapshot_expected(source: dict[str, list[dict]]) -> dict:
    """Sink state after a full sync of ``source`` (declared defaults apply)."""
    out = {}
    for t, docs in source.items():
        rows = {}
        for d in docs:
            r = row(t, d)
            for c, v in DEFAULTS.get(t, {}).items():
                if r[c] is None:
                    r[c] = v
            rows[str(d["_id"])] = r
        out[t] = rows
    return out


def read_sink(path: str, tables=tuple(COLUMNS)) -> dict:
    """Sink tables in the same shape as :func:`sequential_apply`."""
    conn = sqlite3.connect(path, timeout=60)
    try:
        out = {}
        for t in tables:
            cols = COLUMNS[t]
            names = ", ".join(f'"{c}"' for c in cols)
            rows = {}
            for r in conn.execute(f'SELECT "_id", {names} FROM "{t}"'):
                rows[r[0]] = {c: sink_value(k, v) for (c, k), v in zip(cols.items(), r[1:])}
            out[t] = rows
        return out
    finally:
        conn.close()


def diff_states(want: dict, got: dict, limit: int = 5) -> list[str]:
    """Human-readable mismatches (at most ``limit`` per table); [] if equal."""
    problems = []
    for t in want:
        w, g = want[t], got.get(t, {})
        bad = []
        for k in sorted(set(w) | set(g)):
            if w.get(k) != g.get(k):
                bad.append(f"{t}[{k}]: want {w.get(k)} got {g.get(k)}")
        if bad:
            problems.append(f"{t}: {len(bad)} mismatched keys; " + "; ".join(bad[:limit]))
    return problems
