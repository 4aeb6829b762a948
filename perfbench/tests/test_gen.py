"""The generator is deterministic per seed, and its expectations agree
with what it planted."""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _load(work):
    with open(f"{work}/expected.json") as f:
        text = f.read().replace(str(work), "<work>")
    tables = {}
    for d, _, files in os.walk(f"{work}/inputs"):
        for name in files:
            path = os.path.join(d, name)
            rel = os.path.relpath(path, work)
            if name.endswith(".parquet"):
                tables[rel] = pq.read_table(path)
            else:
                with open(path) as f:
                    tables[rel] = f.read().replace(str(work), "<work>")
    return json.loads(text), tables


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs_and_expectations(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(workload, 7, str(a))
    gen.generate(workload, 7, str(b))
    gen.generate(workload, 8, str(c))
    exp_a, tab_a = _load(a)
    exp_b, tab_b = _load(b)
    exp_c, tab_c = _load(c)
    assert exp_a == exp_b
    assert tab_a.keys() == tab_b.keys()
    for k in tab_a:
        assert tab_a[k] == tab_b[k] if isinstance(tab_a[k], str) else tab_a[k].equals(tab_b[k])
    assert exp_a != exp_c


def test_qc_expectations_match_planted(tmp_path):
    e = gen.generate("qc_gate", 3, str(tmp_path))
    old = pq.read_table(f"{tmp_path}/inputs/lineitem_old.parquet").to_pandas()
    new = pq.read_table(f"{tmp_path}/inputs/lineitem_new.parquet").to_pandas()
    inserted = int((new.l_rowid >= gen.QC_ROWS).sum())
    deleted = len(old) - int((new.l_rowid < gen.QC_ROWS).sum())
    assert e["invalid"]["diffChecks"][:2] == [inserted, deleted]
    assert e["invalid"]["lineChecks"][0] == int((new.l_quantity <= 0).sum())
    assert e["invalid"]["lineChecks"][2] == int(new.l_shipdate.isna().sum())
    assert e["invalid"]["lineChecks"][4] == int((new.l_returnflag == "X").sum())
    merged = old.merge(new, on="l_rowid", suffixes=("_o", "_n"))
    moved = (merged.l_extendedprice_o - merged.l_extendedprice_n).abs()
    assert e["invalid"]["diffChecks"][2] == int((moved > gen.QC_TOLERANCE).sum())
    sampled = new[new.l_rowid % gen.QC_COMMENT_EVERY == 0]
    assert len(sampled) - sampled.l_comment.nunique() == gen.QC_COMMENT_DUPS
    assert e["invalid"]["commentChecks"] == [0, gen.QC_COMMENT_DUPS]


def test_burst_plans_are_distinct_and_small(tmp_path):
    e = gen.generate("plan_burst", 3, str(tmp_path))
    texts = set()
    for p in e["plans"]:
        with open(p["path"]) as f:
            plan = json.load(f)
        assert 3 <= len(plan["commands"]) <= 6
        texts.add(json.dumps(plan["commands"], sort_keys=True))
        assert set(p["invalid"]) == {c["outputKey"] for c in plan["commands"]
                                     if c["command"] == "assertion"}
    assert len(texts) == len(e["plans"]) >= 100


def test_stream_expectations_match_planted(tmp_path):
    e = gen.generate("stream_monitor", 3, str(tmp_path))
    files = sorted(os.listdir(e["events"]))
    assert len(files) == gen.EVENT_FILES
    table = pq.read_table(e["events"])
    t = table.to_pandas()
    assert len(t) == gen.EVENTS and t.ts.is_unique
    mtimes = [os.path.getmtime(f"{e['events']}/{f}") for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # files hold strictly increasing time ranges, so no event is late
    ranges = [pq.read_table(f"{e['events']}/{f}").column("ts") for f in files]
    for a, b in zip(ranges, ranges[1:]):
        assert max(a.to_pylist()) < min(b.to_pylist())
    assert sum(n for n, _ in e["windows"].values()) == gen.EVENTS
    assert e["invalid"] == [int((t.value < 0).sum()), int((t.event_type == "error").sum()),
                            int(t.props.isna().sum())]
    # closed sessions hold every event but those of each user's open one
    users = t.user_id.to_numpy()
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    closed = sum(s[3] for s in e["sessions"])
    gap = gen.SESSION_GAP_S * gen.US
    open_events = 0
    for u in np.unique(users):
        mine = np.sort(ts[users == u])
        last_start = mine[np.flatnonzero(np.diff(mine) > gap)[-1] + 1] if (
            np.diff(mine) > gap).any() else mine[0]
        if mine[-1] + gap >= ts.max():
            open_events += int((mine >= last_start).sum())
    assert closed + open_events == gen.EVENTS
