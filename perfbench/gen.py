"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
arguments give byte-identical outputs (``random.Random`` with an integer
seed is stable across runs of one Python version). The program under test
only ever sees what these functions write to disk.

Shapes follow ``examples/momyre.yml``: four tables, a nested ``cfg``
subdocument on ``infos`` (declared as ``cfg.pub``), an ``rcpts`` array on
``emails`` (a blob column) and a declared default for ``emails.subj``.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("infos", "users", "regs", "emails")
# share of generated rows / keys per table
TABLE_WEIGHTS = (0.25, 0.35, 0.15, 0.25)
BASE_T = 1_700_000_000  # oplog ts.t of the first entry

_TYPES = ("admin", "user", "guest", "bot")
_WORDS = ("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta")


def oid(prefix: int, n: int) -> str:
    """24-hex ObjectId-shaped key; ``prefix`` keeps generator families apart."""
    return f"{prefix:08x}{n:016x}"


def _pick_table(rng: random.Random) -> str:
    return rng.choices(TABLES, weights=TABLE_WEIGHTS)[0]


def _word(rng: random.Random) -> str:
    return rng.choice(_WORDS) + str(rng.randrange(1000))


def make_doc(rng: random.Random, table: str, key: str, *, full: bool = True) -> dict:
    """A source document for ``table``. Carries undeclared fields (dropped by
    the spec) and, for ``emails``, sometimes no ``subj`` (the default path)."""
    if table == "infos":
        doc = {"_id": key, "index": rng.randrange(10**9),
               "cfg": {"pub": _word(rng), "note": _word(rng)},
               "srv": rng.random() < 0.5, "extra": _word(rng)}
    elif table in ("users", "regs"):
        doc = {"_id": key, "type": rng.choice(_TYPES),
               "email": f"{_word(rng)}@example.com", "pubkey": f"pk{rng.randrange(10**8)}"}
        if table == "users":
            doc["age"] = rng.randrange(18, 90)
    else:
        doc = {"_id": key, "from": f"{_word(rng)}@example.com",
               "rcpts": [f"{_word(rng)}@example.com" for _ in range(rng.randrange(0, 4))],
               "subj": _word(rng) if rng.random() < 0.8 else None,
               "body": " ".join(_word(rng) for _ in range(rng.randrange(3, 12)))}
    if not full:
        doc = {k: v for k, v in doc.items() if k == "_id" or rng.random() < 0.7}
    return doc


# --------------------------------------------------------------------------
# snapshot source tables as parquet, plus orphan rows for the sink
# --------------------------------------------------------------------------
_ARROW = {
    "infos": pa.schema([
        ("_id", pa.string()), ("index", pa.int64()),
        ("cfg", pa.struct([("pub", pa.string()), ("note", pa.string())])),
        ("srv", pa.bool_()), ("extra", pa.string())]),
    "users": pa.schema([
        ("_id", pa.string()), ("type", pa.string()), ("email", pa.string()),
        ("pubkey", pa.string()), ("age", pa.int64())]),
    "regs": pa.schema([
        ("_id", pa.string()), ("type", pa.string()), ("email", pa.string()),
        ("pubkey", pa.string())]),
    "emails": pa.schema([
        ("_id", pa.string()), ("from", pa.string()), ("rcpts", pa.list_(pa.string())),
        ("subj", pa.string()), ("body", pa.string())]),
}


def snapshot_source(seed: int, n_rows: int, orphan_share: float = 0.01):
    """-> (source docs per table, orphan docs per table). Orphans are keys
    absent from the source that a previous sync left in the sink."""
    rng = random.Random(seed)
    source: dict[str, list[dict]] = {t: [] for t in TABLES}
    orphans: dict[str, list[dict]] = {t: [] for t in TABLES}
    for n in range(n_rows):
        t = _pick_table(rng)
        source[t].append(make_doc(rng, t, oid(1, n)))
    for ti, t in enumerate(TABLES):
        for n in range(max(1, int(len(source[t]) * orphan_share))):
            orphans[t].append(make_doc(rng, t, oid(2 + ti, n)))
    return source, orphans


def write_snapshot_source(source: dict[str, list[dict]], root: str) -> dict[str, str]:
    """One parquet file per table -> {table: path}."""
    os.makedirs(root, exist_ok=True)
    paths = {}
    for t, docs in source.items():
        path = os.path.join(root, f"{t}.parquet")
        pq.write_table(pa.Table.from_pylist(docs, schema=_ARROW[t]), path)
        paths[t] = path
    return paths


# --------------------------------------------------------------------------
# raw oplog entries
# --------------------------------------------------------------------------
class OplogWriter:
    """Stamps entries with strictly increasing ``ts`` (T<<32|I order)."""

    def __init__(self) -> None:
        self.n = 0

    def ts(self) -> dict:
        self.n += 1
        return {"t": BASE_T + self.n // 1000, "i": self.n % 1000 + 1}


def _set_payload(rng: random.Random, table: str) -> dict:
    doc = make_doc(rng, table, "", full=False)
    doc.pop("_id")
    return doc or {"extra_only": 1}


def _v2_diff(rng: random.Random, table: str) -> dict:
    doc = make_doc(rng, table, "")
    doc.pop("_id")
    fields = list(doc)
    diff: dict = {}
    upd = {f: doc[f] for f in fields if f != "cfg" and rng.random() < 0.4}
    if upd:
        diff["u"] = upd
    if rng.random() < 0.3:
        gone = rng.choice(fields)
        if gone != "cfg" and gone not in upd:
            diff["d"] = {gone: False}
    if table == "infos" and rng.random() < 0.6:
        diff["scfg"] = {"u": {"pub": _word(rng)}}  # nested subdocument section
    if not diff:
        diff["i"] = {"extra": _word(rng)}
    return {"$v": 2, "diff": diff}


def _update(rng: random.Random, table: str, key: str, ts: dict) -> dict:
    kind = rng.random()
    if kind < 0.45:
        o = {"$set": _set_payload(rng, table)}
    elif kind < 0.55:
        o = {"$unset": {rng.choice(_declared_roots(table)): ""}}
    else:
        o = _v2_diff(rng, table)
    return {"ts": ts, "op": "u", "ns": f"db.{table}", "o": o, "o2": {"_id": key}}


def _declared_roots(table: str) -> list[str]:
    return {"infos": ["index", "srv"], "users": ["type", "email", "pubkey"],
            "regs": ["type", "email", "pubkey"], "emails": ["from", "subj", "body"]}[table]


def backlog_entries(seed: int, n_entries: int, n_keys: int,
                    existing: dict[str, list[str]] | None = None) -> list[dict]:
    """Oplog backlog: every decoder shape, keys skewed so that many ops
    collapse per key. With ``existing`` (keys per table already in the
    sink, e.g. from a snapshot) two thirds of each table's key pool are
    existing keys, so updates and deletes reach snapshot rows. Returns raw
    oplog entries in ts order."""
    rng = random.Random(seed)
    w = OplogWriter()
    keys = {}
    for i, (t, wt) in enumerate(zip(TABLES, TABLE_WEIGHTS)):
        n = max(1, int(n_keys * wt))
        pool = list((existing or {}).get(t, []))[: n * 2 // 3]
        pool += [oid(16 + i, k) for k in range(n - len(pool))]
        rng.shuffle(pool)
        keys[t] = pool

    def pick():
        t = _pick_table(rng)
        ks = keys[t]
        return t, ks[int(len(ks) * rng.random() ** 2)]  # skew toward low ids

    out: list[dict] = []
    while len(out) < n_entries:
        r = rng.random()
        t, key = pick()
        ts = w.ts()
        if r < 0.20:
            out.append({"ts": ts, "op": "i", "ns": f"db.{t}", "o": make_doc(rng, t, key)})
        elif r < 0.62:
            out.append(_update(rng, t, key, ts))
        elif r < 0.67:  # full-document replace
            doc = make_doc(rng, t, key)
            out.append({"ts": ts, "op": "u", "ns": f"db.{t}", "o": doc, "o2": {"_id": key}})
        elif r < 0.75:
            out.append({"ts": ts, "op": "d", "ns": f"db.{t}", "o": {"_id": key}})
        elif r < 0.87:  # transaction: inner ops share ts, ordered by position
            inner = [{"op": "i", "ns": f"db.{t}", "o": make_doc(rng, t, key)}]
            for _ in range(rng.randrange(1, 4)):
                t2, k2 = (t, key) if rng.random() < 0.5 else pick()
                sub = _update(rng, t2, k2, ts)
                sub.pop("ts")
                inner.append(sub if rng.random() < 0.8 else
                             {"op": "d", "ns": f"db.{t2}", "o": {"_id": k2}})
            out.append({"ts": ts, "op": "c", "ns": "admin.$cmd", "o": {"applyOps": inner}})
        elif r < 0.93:
            out.append({"ts": ts, "op": "n", "ns": "", "o": {"msg": "periodic noop"}})
        else:  # namespace the spec does not list
            out.append({"ts": ts, "op": "i", "ns": "db.audit",
                        "o": {"_id": key, "what": _word(rng)}})
    return out


def entry_lines(entries: list[dict]) -> str:
    """JSON-lines text the stream source reads: one ``{"entry": <text>}``
    per line, the entry itself serialized as JSON text."""
    return "".join(
        json.dumps({"entry": json.dumps(e, sort_keys=True)}) + "\n" for e in entries
    )


def write_backlog(entries: list[dict], root: str, n_files: int) -> list[str]:
    """Stage the backlog as ``n_files`` files with strictly increasing mtimes
    (the file source orders by mtime)."""
    os.makedirs(root, exist_ok=True)
    per = -(-len(entries) // n_files)
    paths = []
    for f in range(n_files):
        path = os.path.join(root, f"oplog-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write(entry_lines(entries[f * per:(f + 1) * per]))
        os.utime(path, (BASE_T + f, BASE_T + f))
        paths.append(path)
    return paths


# --------------------------------------------------------------------------
# analytics_mix: TPC-H-shaped star schema + events + documents
# --------------------------------------------------------------------------
_VOCAB = ("spark table merge key row scan join order line value part hash batch "
          "stream window sort query group agg data column filter fast slow big "
          "small customer the a of delta commit").split()


def analytics_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Tables with the column names and types of the repository's test data;
    ``scale`` 1.0 is 15k orders / ~60k line items / 10k events / 500 documents."""
    import datetime as dt

    rng = random.Random(seed)
    n_cust, n_supp = max(50, int(1500 * scale)), max(10, int(100 * scale))
    n_ord, n_ev, n_doc = int(15000 * scale), int(10000 * scale), max(40, int(500 * scale))
    day0 = dt.datetime(1992, 1, 1)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                     "MACHINERY")) for _ in range(n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]})
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        od = day0 + dt.timedelta(days=rng.randrange(2400))
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(rng.uniform(900, 500000), 2))
        orders["o_orderdate"].append(od)
        orders["o_orderpriority"].append(rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                                     "4-NOT SPECIFIED", "5-LOW")))
        for ln in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(2000))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(od + dt.timedelta(days=rng.randrange(1, 122)))
    ts_t = pa.timestamp("us")
    t["orders"] = pa.table({**orders,
                            "o_orderkey": pa.array(orders["o_orderkey"], pa.int64()),
                            "o_custkey": pa.array(orders["o_custkey"], pa.int64()),
                            "o_orderdate": pa.array(orders["o_orderdate"], ts_t)})
    t["lineitem"] = pa.table({**li,
                              "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
                              "l_partkey": pa.array(li["l_partkey"], pa.int64()),
                              "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
                              "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
                              "l_shipdate": pa.array(li["l_shipdate"], ts_t)})
    ev_ts, cur = [], dt.datetime(2024, 1, 1)
    for _ in range(n_ev):
        cur += dt.timedelta(microseconds=rng.randrange(1, 400_000_000))
        ev_ts.append(cur)
    n_users = max(10, n_ev // 100)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts_t),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(("signup", "click", "purchase", "view", "error"))
                       for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 100), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)]})
    texts: list[str] = []
    for d in range(n_doc):
        if texts and rng.random() < 0.1:  # near-duplicate of an earlier document
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randrange(20, 80))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_doc,
        "source": [f"src{d % 7}" for d in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    return t


def write_tables(tables: dict[str, pa.Table], root: str) -> None:
    os.makedirs(root, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
