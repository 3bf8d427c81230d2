"""Self-tests for the benchmark's own parts (no Spark needed).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, lag, reference  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_same_inputs():
    runs = []
    for _ in range(2):
        with tempfile.TemporaryDirectory() as d:
            source, orphans = gen.snapshot_source(5, 2000)
            gen.write_snapshot_source(source, os.path.join(d, "snap"))
            gen.write_backlog(gen.backlog_entries(5, 3000, 50), os.path.join(d, "oplog"), 3)
            gen.write_tables(gen.analytics_tables(5, 0.05), os.path.join(d, "tables"))
            runs.append({sub: _tree_bytes(os.path.join(d, sub))
                         for sub in ("snap", "oplog", "tables")} | {"orphans": orphans})
    assert runs[0] == runs[1]
    other = gen.backlog_entries(6, 3000, 50)
    assert gen.entry_lines(other) != gen.entry_lines(gen.backlog_entries(5, 3000, 50))


def test_backlog_covers_every_decoder_shape():
    entries = gen.backlog_entries(1, 3000, 50)
    ops = {e["op"] for e in entries}
    assert ops == {"i", "u", "d", "c", "n"}
    updates = [e["o"] for e in entries if e["op"] == "u"]
    assert any("$set" in o for o in updates)
    assert any("$unset" in o for o in updates)
    assert any(o.get("$v") == 2 and any(k.startswith("s") for k in o["diff"]) for o in updates)
    assert any(not any(k.startswith("$") for k in o) for o in updates)  # full replace
    assert any(e["ns"] == "db.audit" for e in entries)  # namespace not in the spec
    ts = [(e["ts"]["t"], e["ts"]["i"]) for e in entries]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def _ins(key, i, **doc):
    return {"ts": {"t": 1, "i": i}, "op": "i", "ns": "db.users", "o": {"_id": key, **doc}}


def _upd(key, i, o):
    return {"ts": {"t": 1, "i": i}, "op": "u", "ns": "db.users", "o": o, "o2": {"_id": key}}


def test_update_after_delete_is_noop():
    state = reference.sequential_apply([
        _ins("a", 1, type="admin"),
        {"ts": {"t": 1, "i": 2}, "op": "d", "ns": "db.users", "o": {"_id": "a"}},
        _upd("a", 3, {"$set": {"type": "ghost"}}),
        _upd("b", 4, {"$set": {"type": "never inserted"}}),
    ])
    assert state["users"] == {}


def test_set_to_null_differs_from_absent():
    state = reference.sequential_apply([
        _ins("a", 1, type="admin", email="a@x", pubkey="p"),
        _upd("a", 2, {"$set": {"email": None}}),  # explicit null
        _upd("a", 3, {"$set": {"type": "root"}}),  # email absent: untouched
        _ins("b", 4, type="user", email="b@x", pubkey="q"),
        _upd("b", 5, {"$v": 2, "diff": {"d": {"pubkey": False}}}),
        _ins("c", 6, type="user"),  # absent fields of an insert are NULL
    ])["users"]
    assert state["a"] == {"type": "root", "email": None, "pubkey": "p"}
    assert state["b"] == {"type": "user", "email": "b@x", "pubkey": None}
    assert state["c"] == {"type": "user", "email": None, "pubkey": None}


def test_apply_ops_follows_array_order():
    def txn(inner):
        return {"ts": {"t": 1, "i": 9}, "op": "c", "ns": "admin.$cmd", "o": {"applyOps": inner}}

    ins = {"op": "i", "ns": "db.users", "o": {"_id": "k", "type": "a"}}
    upd = {"op": "u", "ns": "db.users", "o": {"$set": {"type": "b"}}, "o2": {"_id": "k"}}
    assert reference.sequential_apply([txn([ins, upd])])["users"]["k"]["type"] == "b"
    # the update comes first and finds no row; the insert then wins
    assert reference.sequential_apply([txn([upd, ins])])["users"]["k"]["type"] == "a"


def test_nested_sections_and_sink_representation():
    state = reference.sequential_apply([
        {"ts": {"t": 1, "i": 1}, "op": "i", "ns": "db.infos",
         "o": {"_id": "x", "index": 7, "cfg": {"pub": "p1", "note": "n"}, "srv": True}},
        {"ts": {"t": 1, "i": 2}, "op": "u", "ns": "db.infos", "o2": {"_id": "x"},
         "o": {"$v": 2, "diff": {"scfg": {"u": {"pub": "p2"}}}}},
        {"ts": {"t": 1, "i": 3}, "op": "i", "ns": "db.emails",
         "o": {"_id": "m", "from": "f", "rcpts": ["a", "b"]}},
        {"ts": {"t": 1, "i": 4}, "op": "n", "ns": "", "o": {}},
        {"ts": {"t": 1, "i": 5}, "op": "i", "ns": "db.audit", "o": {"_id": "z"}},
    ])
    assert state["infos"]["x"] == {"index": 7, "cfg_pub": "p2", "srv": 1}
    assert state["emails"]["m"]["rcpts"] == '["a","b"]'
    assert state["emails"]["m"]["subj"] is None  # no default on the CDC path
    assert "audit" not in state


def test_lag_from_synthetic_checkpoint():
    with tempfile.TemporaryDirectory() as ck:
        os.makedirs(os.path.join(ck, "sources", "0"))
        os.makedirs(os.path.join(ck, "commits"))
        batches = {0: ["f0.json", "f1.json"], 1: ["f2.json"], 2: ["f3.json"]}
        for b, files in batches.items():
            with open(os.path.join(ck, "sources", "0", str(b)), "w") as fh:
                fh.write("v1\n" + "\n".join(json.dumps(
                    {"path": f"file:///in/{f}", "timestamp": 0, "batchId": b}) for f in files))
        with open(os.path.join(ck, "sources", "0", ".0.crc"), "wb") as fh:
            fh.write(b"\xb1\x00")
        for b, t in ((0, 110.0), (1, 125.0)):  # batch 2 never committed
            path = os.path.join(ck, "commits", str(b))
            open(path, "w").close()
            os.utime(path, (t, t))
        per_file = {"f0.json": 2, "f1.json": 1, "f2.json": 3, "f3.json": 4}
        due = {"f0.json": 100.0, "f1.json": 104.0, "f2.json": 120.0, "f3.json": 121.0}
        lat, missing = lag.entry_latencies(ck, per_file, due)
        assert sorted(lat) == [5.0, 5.0, 5.0, 6.0, 10.0, 10.0]
        assert missing == 4


def test_quantile_nearest_rank():
    from perfbench.trace import quantile

    assert quantile(list(range(1, 11)), 0.9) == 9
    assert quantile([3.0], 0.9) == 3.0
    assert quantile(list(range(1, 101)), 0.5) == 50



def test_tree_accounting_sees_a_child():
    import subprocess
    import time

    from perfbench.proc import tree_cpu_s, tree_pss_kb

    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", "sum(i * i for i in range(3_000_000))\n"
                              "import sys; sys.stdin.read()"], stdin=subprocess.PIPE)
    try:
        for _ in range(100):  # wait until the child has done its sum
            if tree_cpu_s() - before > 0.1:
                break
            time.sleep(0.05)
        assert tree_cpu_s() - before > 0.1
        pss = tree_pss_kb()
        assert sum(pss.values()) > 0 and len(pss) >= 1
    finally:
        child.communicate(b"")
    # reaped: its time stays in this process's cutime
    assert tree_cpu_s() - before > 0.1


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
