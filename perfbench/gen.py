"""Seeded input generator for the plan-engine benchmark.

Every workload's inputs are written from ``numpy.random.default_rng(seed)``
with pyarrow, and the results the program must produce are computed here,
outside Spark: assertion invalid counts and diff row counts with DuckDB,
planted duplicates, shard token counts, window counts and sessions with
numpy. The program under test only ever sees the files written here.

Timestamps are written as UTC-adjusted ``timestamp[us, tz=UTC]``: Spark reads
them as ``TIMESTAMP`` (a naive parquet timestamp would become
``TIMESTAMP_NTZ``, which ``withWatermark`` rejects).
"""

from __future__ import annotations

import json
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Fixed across seeds, so seeds vary content, not volume.
QC_ROWS = 60_000
QC_COMMENT_EVERY = 20  # the comment-dedup command reads every 20th row
QC_COMMENT_DUPS = 25
BURST_ROWS = 3_000
BURST_PLANS = 120
DOCS = 1_500
DOC_NEAR_DUPS = 40
DOC_EXACT_DUPS = 20
DOC_JUNK = 30
EVENTS = 4_000
EVENT_USERS = 300
EVENT_FILES = 2

QC_TOLERANCE = 0.01
SHARD_BUDGET = 2000
CHUNK_SIZE, CHUNK_OVERLAP = 400, 100
SESSION_GAP_S = 1800
US = 1_000_000
EPOCH_2024_US = 1_704_067_200 * US  # 2024-01-01T00:00:00Z

UTC_US = pa.timestamp("us", tz="UTC")


def _write(path: str, table: pa.Table) -> str:
    pq.write_table(table, path)
    return path


def _duck_counts(con, relation: str, rules: list[str]) -> list[int]:
    """Rows where NOT(rule) is TRUE: a NULL predicate counts as valid,
    which is the assertion engine's invalid-count semantics."""
    sel = ", ".join(f"count(*) FILTER (WHERE NOT ({r}))" for r in rules)
    return [int(v) for v in con.execute(f"SELECT {sel} FROM {relation}").fetchone()]


# ---------------------------------------------------------------------------
# lineitem-shaped snapshots (qc_gate, plan_burst)
# ---------------------------------------------------------------------------

def lineitem(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """Columns of a lineitem-shaped table with a unique ``l_rowid``.
    ``(l_orderkey, l_linenumber)`` is deliberately not unique."""
    qty = rng.integers(1, 51, n).astype("float64")
    vocab = _vocab(rng, 2_000)
    words = rng.choice(vocab, (n, 10))
    return {
        "l_rowid": np.arange(first_id, first_id + n, dtype="int64"),
        "l_orderkey": (rng.integers(0, max(n // 4, 1), n) + 1).astype("int64"),
        "l_partkey": rng.integers(1, 20_000, n).astype("int64"),
        "l_suppkey": rng.integers(1, 1_000, n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
        "l_linestatus": rng.choice(np.array(["O", "F"], dtype=object), n),
        "l_shipdate": EPOCH_2024_US
        - rng.integers(0, 2_500, n).astype("int64") * 86_400 * US,
        "l_comment": np.array([" ".join(w) for w in words], dtype=object),
    }


def _lineitem_table(cols: dict, null_shipdate: np.ndarray | None = None) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        if k == "l_shipdate":
            arrays[k] = pa.array(v, type=pa.int64(), mask=null_shipdate).cast(UTC_US)
        elif v.dtype == object:
            arrays[k] = pa.array(v.tolist(), type=pa.string())
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def evolve(rng: np.random.Generator, old: dict, violations: bool = True):
    """The next snapshot of ``old``: ~1% rows deleted, ~1% inserted, price
    edits above and below the diff tolerance, quantity edits, and (with
    ``violations``) planted rule violations. Returns (columns, null mask)."""
    n = len(old["l_rowid"])
    keep = rng.random(n) >= 0.01
    new = {k: v[keep].copy() for k, v in old.items()}
    ins = lineitem(rng, max(n // 100, 1), first_id=n)
    new = {k: np.concatenate([new[k], ins[k]]) for k in new}
    m = len(new["l_rowid"])
    big = rng.random(m) < 0.03
    new["l_extendedprice"][big] += rng.integers(1, 100, int(big.sum()))
    tiny = (rng.random(m) < 0.01) & ~big
    new["l_extendedprice"][tiny] += QC_TOLERANCE / 10
    qchg = rng.random(m) < 0.01
    new["l_quantity"][qchg] += 1.0
    null_ship = np.zeros(m, dtype=bool)
    if violations:
        neg = rng.random(m) < 0.005
        new["l_quantity"][neg] = -new["l_quantity"][neg]
        disc = rng.random(m)
        new["l_discount"][disc < 0.002] = -0.02
        new["l_discount"][(disc >= 0.002) & (disc < 0.004)] = 0.15
        null_ship = rng.random(m) < 0.002
        new["l_returnflag"][rng.random(m) < 0.001] = "X"
        hitax = rng.random(m) < 0.01
        new["l_tax"][hitax] = rng.choice([0.09, 0.1], int(hitax.sum()))
    return new, null_ship


DIFF_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]


def _diff_spec(cols: list[str]) -> dict:
    side = {"joinColumns": ["l_rowid"], "diffColumns": cols}
    return {"input1Columns": side, "input2Columns": side}


def _diff_expectations(con, old: str, new: str, cols: list[str]) -> dict:
    """Row count of a ``filterEqualRows`` diff (rows where any pair is not
    null-safe equal) and the per-status counts the diff assertion checks."""
    differs = " OR ".join(f"o.{c} IS DISTINCT FROM n.{c}" for c in cols)
    row = con.execute(
        f"""SELECT count(*),
                   count(*) FILTER (WHERE o.l_rowid IS NULL),
                   count(*) FILTER (WHERE n.l_rowid IS NULL),
                   count(*) FILTER (WHERE abs(o.l_extendedprice - n.l_extendedprice) > {QC_TOLERANCE})
            FROM {old} o FULL OUTER JOIN {new} n ON o.l_rowid = n.l_rowid
            WHERE {differs}"""
    ).fetchone()
    return {"rows": int(row[0]), "inserted": int(row[1]), "deleted": int(row[2]),
            "price_changed": int(row[3])}


QC_VIEW_SQL = "SELECT *, l_extendedprice * (1 - l_discount) AS net_price FROM li"

QC_RULES = [
    {"query": "l_quantity > 0", "description": "positive quantity",
     "threshold": 0.05},
    {"query": "l_discount BETWEEN 0.0 AND 0.10", "description": "discount in range",
     "threshold": 0.05,
     "userDefinedSummaryExpr": {"maxDiscount": "max(l_discount)",
                                "minDiscount": "min(l_discount)"}},
    {"query": "l_shipdate IS NOT NULL", "description": "ship date present",
     "threshold": 0.01,
     "sampleWindowParams": {"idsForWindowPartitioning": ["l_orderkey"],
                            "orderEachWindowBy": ["l_linenumber"]}},
    {"query": "net_ratio <= 1.0", "description": "net price within gross",
     "threshold": 0.0,
     "userDefinedFeatures": {"net_ratio": "net_price / l_extendedprice"}},
    {"query": "l_returnflag IN ('A', 'N', 'R')", "description": "known return flag",
     "threshold": 0.0},
    {"query": "l_tax < 0.09 AND tax_amt >= 0", "description": "tax below cap",
     "threshold": 0.2,
     "userDefinedFeatures": {"tax_amt": "l_extendedprice * l_tax"}},
]

QC_DIFF_RULES = [
    {"query": "old_l_rowid IS NOT NULL", "description": "row existed before",
     "threshold": 1.0},
    {"query": "new_l_rowid IS NOT NULL", "description": "row still exists",
     "threshold": 1.0},
    {"query": "old_l_extendedprice__equals__new_l_extendedprice "
              "<> 'both not null, same type, not equal'",
     "description": "price unchanged beyond tolerance", "threshold": 1.0},
]

QC_COMMENT_SQL = f"SELECT l_rowid, l_comment FROM li WHERE l_rowid % {QC_COMMENT_EVERY} = 0"

QC_COMMENT_RULES = [
    {"query": "id_1 < id_2", "description": "pairs are ordered", "threshold": 0.0},
    {"query": "jaccard < 1.0", "description": "no verbatim duplicate comments",
     "threshold": 1.0},
]


def _num_failed(groups: list[tuple[list[dict], list[int], int]]) -> int:
    """Rules whose invalid fraction exceeds their threshold, over
    (rules, invalid counts, row count) per assertion command: what
    ``TnEngine.run`` returns."""
    return sum((inv / total if total else 0.0) > r["threshold"]
               for rules, counts, total in groups for r, inv in zip(rules, counts))


def _feature_relation(view: str, rules: list[dict]) -> str:
    feats = {}
    for r in rules:
        feats.update(r.get("userDefinedFeatures") or {})
    extra = "".join(f", {e} AS {n}" for n, e in feats.items())
    return f"(SELECT *{extra} FROM {view})"


def gen_qc_gate(rng: np.random.Generator, inputs: str, out: str) -> dict:
    """Two lineitem snapshots and the QC plan over them: rules on the new
    snapshot, a tolerant diff against the old one written to a sink, rules
    on the diff, and MinHash dedup of a comment sample in which
    QC_COMMENT_DUPS verbatim copies are planted."""
    old_cols = lineitem(rng, QC_ROWS)
    new_cols, null_ship = evolve(rng, old_cols)
    sampled = np.flatnonzero(new_cols["l_rowid"] % QC_COMMENT_EVERY == 0)
    src, dst = rng.choice(sampled, (2, QC_COMMENT_DUPS), replace=False)
    new_cols["l_comment"][dst] = new_cols["l_comment"][src]
    old = _write(f"{inputs}/lineitem_old.parquet", _lineitem_table(old_cols))
    new = _write(f"{inputs}/lineitem_new.parquet", _lineitem_table(new_cols, null_ship))
    plan = {
        "io": {"writer": "hdfs", "dest": f"{out}/reports"},
        "commands": [
            {"command": "view", "inputs": [{"ref": new, "onDisk": True}],
             "params": {"tableAliases": ["li"], "query": QC_VIEW_SQL},
             "outputKey": "newLines"},
            {"command": "assertion", "input": {"ref": "newLines", "onDisk": False},
             "params": {"assertions": QC_RULES}, "outputKey": "lineChecks"},
            {"command": "diff",
             "input1": {"ref": old, "onDisk": True}, "input1Name": "old",
             "input2": {"ref": "newLines", "onDisk": False}, "input2Name": "new",
             "params": _diff_spec(DIFF_COLS), "threshold": QC_TOLERANCE,
             "filterEqualRows": True, "outputKey": "lineDiff",
             "outputPath": f"{out}/lineDiff"},
            {"command": "assertion", "input": {"ref": "lineDiff", "onDisk": False},
             "params": {"assertions": QC_DIFF_RULES}, "outputKey": "diffChecks"},
            {"command": "view", "inputs": [{"ref": "newLines", "onDisk": False}],
             "params": {"tableAliases": ["li"], "query": QC_COMMENT_SQL},
             "outputKey": "comments"},
            {"command": "dedup", "input": {"ref": "comments", "onDisk": False},
             "params": {"method": "minhash", "idColumn": "l_rowid",
                        "textColumn": "l_comment", "numHashes": 16, "bands": 4,
                        "threshold": 0.5, "shingleN": 3},
             "outputKey": "dupComments"},
            {"command": "assertion", "input": {"ref": "dupComments", "onDisk": False},
             "params": {"assertions": QC_COMMENT_RULES}, "outputKey": "commentChecks"},
        ],
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{new}')")
    con.execute(f"CREATE VIEW newLines AS {QC_VIEW_SQL}")
    con.execute(f"CREATE VIEW old AS SELECT * FROM read_parquet('{old}')")
    diff = _diff_expectations(con, "old", "newLines", DIFF_COLS)
    line_counts = _duck_counts(
        con, _feature_relation("newLines", QC_RULES), [r["query"] for r in QC_RULES]
    )
    con.close()
    diff_counts = [diff["inserted"], diff["deleted"], diff["price_changed"]]
    # every near-duplicate pair is a planted verbatim copy
    comment_counts = [0, QC_COMMENT_DUPS]
    return {
        "plan": plan,
        "num_failed": _num_failed([
            (QC_RULES, line_counts, len(new_cols["l_rowid"])),
            (QC_DIFF_RULES, diff_counts, diff["rows"]),
            (QC_COMMENT_RULES, comment_counts, QC_COMMENT_DUPS),
        ]),
        "input_rows": QC_ROWS + len(new_cols["l_rowid"]),
        "input_bytes": os.path.getsize(old) + os.path.getsize(new),
        "diff_path": f"{out}/lineDiff",
        "report": f"{out}/reports",
        "invalid": {
            "lineChecks": line_counts,
            "diffChecks": diff_counts,
            "commentChecks": comment_counts,
        },
        "diff_rows": diff["rows"],
    }


# ---------------------------------------------------------------------------
# plan_burst: many distinct small plans
# ---------------------------------------------------------------------------

BURST_VIEWS = [
    "SELECT * FROM a WHERE l_quantity >= {q}",
    "SELECT *, l_extendedprice * l_tax AS tax_amt FROM a WHERE l_linenumber <= {ln}",
]

BURST_RULES = [
    ["l_quantity > {q}", "l_discount <= {d}", "l_tax < {t}",
     "l_returnflag IN ('A', 'N')", "l_shipdate IS NOT NULL",
     "l_partkey % {m} <> 0", "l_extendedprice < {p}"],
    ["l_quantity > {q}", "tax_amt < {p}", "l_discount <= {d}",
     "l_linestatus = 'O'", "l_suppkey % {m} <> 0", "l_tax < {t}"],
]

BURST_DIFF_RULES = ["old_l_rowid IS NOT NULL"]


def _burst_params(rng: np.random.Generator) -> dict:
    return {
        "q": int(rng.integers(1, 50)), "ln": int(rng.integers(2, 8)),
        "d": round(float(rng.integers(1, 10)) / 100, 2),
        "t": round(float(rng.integers(2, 9)) / 100, 2), "m": int(rng.integers(3, 40)),
        "p": int(rng.integers(5_000, 90_000)),
    }


def gen_plan_burst(rng: np.random.Generator, inputs: str, out: str) -> dict:
    """BURST_PLANS distinct plans of one shape, so every plan costs about
    the same: a filtered view, two rules on it, a tolerant diff of the
    table against its previous snapshot, and a rule on the diff. Plans
    differ in view template (alternating), literals, rules and diff
    columns."""
    base = lineitem(rng, BURST_ROWS)
    cur, null_ship = evolve(rng, base)
    a = _write(f"{inputs}/burst_a.parquet", _lineitem_table(cur, null_ship))
    b = _write(f"{inputs}/burst_b.parquet", _lineitem_table(base))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW a AS SELECT * FROM read_parquet('{a}')")
    con.execute(f"CREATE VIEW b AS SELECT * FROM read_parquet('{b}')")
    plans, seen = [], set()
    while len(plans) < BURST_PLANS:
        v = len(plans) % len(BURST_VIEWS)
        p = _burst_params(rng)
        view_sql = BURST_VIEWS[v].format(**p)
        rules = [BURST_RULES[v][k].format(**p)
                 for k in sorted(rng.choice(len(BURST_RULES[v]), 2, replace=False))]
        cols = [c for c in DIFF_COLS if rng.random() < 0.6] or ["l_quantity"]
        key = (view_sql, tuple(rules), tuple(cols))
        if key in seen:
            continue
        seen.add(key)
        con.execute(f"CREATE OR REPLACE VIEW v AS {view_sql}")
        d = _diff_expectations(con, "b", "a", cols)
        cmds = [
            {"command": "view", "inputs": [{"ref": a, "onDisk": True}],
             "params": {"tableAliases": ["a"], "query": view_sql}, "outputKey": "v"},
            {"command": "assertion", "input": {"ref": "v", "onDisk": False},
             "params": {"assertions": [
                 {"query": r, "description": f"rule {k}", "threshold": 0.5}
                 for k, r in enumerate(rules)]},
             "outputKey": "checks"},
            {"command": "diff",
             "input1": {"ref": b, "onDisk": True}, "input1Name": "old",
             "input2": {"ref": a, "onDisk": True}, "input2Name": "new",
             "params": _diff_spec(cols), "threshold": QC_TOLERANCE,
             "filterEqualRows": True, "outputKey": "d"},
            {"command": "assertion", "input": {"ref": "d", "onDisk": False},
             "params": {"assertions": [
                 {"query": r, "description": r, "threshold": 1.0}
                 for r in BURST_DIFF_RULES]},
             "outputKey": "diffChecks"},
        ]
        plan_path = f"{inputs}/burst_plan_{len(plans):03d}.json"
        with open(plan_path, "w") as f:
            json.dump({"io": {"writer": "hdfs", "dest": f"{out}/reports"},
                       "commands": cmds}, f)
        invalid = {"checks": _duck_counts(con, "v", rules), "diffChecks": [d["inserted"]]}
        view_rows = con.execute("SELECT count(*) FROM v").fetchone()[0]
        plans.append({"path": plan_path, "invalid": invalid, "num_failed": _num_failed([
            (cmds[1]["params"]["assertions"], invalid["checks"], view_rows),
            (cmds[3]["params"]["assertions"], invalid["diffChecks"], d["rows"]),
        ])})
    con.close()
    return {
        "plans": plans,
        "input_rows": BURST_ROWS + len(cur["l_rowid"]),
        "input_bytes": os.path.getsize(a) + os.path.getsize(b),
        "report": f"{out}/reports",
    }


# ---------------------------------------------------------------------------
# curation_pipeline: documents with planted duplicates
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "to", "is"]


def _vocab(rng: np.random.Generator, size: int = 3_000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words - set(STOPWORDS)), dtype=object)


def _body(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> list[str]:
    words = list(rng.choice(vocab, n_words))
    for pos in rng.choice(n_words, max(n_words // 8, 1), replace=False):
        words[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    return words


def gen_curation(rng: np.random.Generator, inputs: str, out: str) -> dict:
    """Documents of one body line, most with a shared boilerplate footer
    line. Planted: near duplicates (a copy with its last word changed,
    which the MinHash cluster step must drop), exact duplicates (whose
    every line the line-dedup step empties), and junk docs the quality
    filter must drop."""
    vocab = _vocab(rng)
    footers = [" ".join(_body(rng, vocab, 12)) for _ in range(5)]
    bodies: list[list[str]] = []
    for _ in range(DOCS):
        words = _body(rng, vocab, int(rng.integers(60, 160)))
        if rng.random() < 0.1:
            words[int(rng.integers(len(words)))] = f"user{int(rng.integers(1e6))}@example.com"
        if rng.random() < 0.05:
            words[int(rng.integers(len(words)))] = (
                f"555-{int(rng.integers(100, 1000))}-{int(rng.integers(1000, 10000))}")
        bodies.append(words)
    texts = []
    for words in bodies:
        lines = [" ".join(words)]
        if rng.random() < 0.5:
            lines.append(footers[int(rng.integers(len(footers)))])
        texts.append("\n".join(lines))
    near_src = rng.choice(DOCS, DOC_NEAR_DUPS + DOC_EXACT_DUPS, replace=False)
    near_ids, exact_ids = [], []
    for k, src in enumerate(near_src):
        if k < DOC_NEAR_DUPS:
            words = list(bodies[src])
            words[-1] = str(rng.choice(vocab))
            while words[-1] == bodies[src][-1]:
                words[-1] = str(rng.choice(vocab))
            near_ids.append(len(texts))
            texts.append(" ".join(words))
        else:
            exact_ids += [len(texts), int(src)]
            texts.append(texts[src])
    junk_ids = []
    for k in range(DOC_JUNK):
        # alternately too repetitive and too short
        junk_ids.append(len(texts))
        w = str(rng.choice(vocab))
        texts.append(" ".join([w] * 40) if k % 2 else " ".join(rng.choice(vocab, 4)))
    docs = _write(f"{inputs}/documents.parquet", pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype="int64")),
        "text": pa.array(texts, type=pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(len(texts))],
                           type=pa.string()),
    }))
    # expected text after the quality filter and line dedup, then the
    # survivors of the cluster step and their token and chunk counts
    quality = sorted(set(range(len(texts))) - set(junk_ids))
    line_df: dict[str, int] = {}
    for i in quality:
        for line in set(texts[i].split("\n")):
            line_df[line] = line_df.get(line, 0) + 1
    tokens, chunks, chunked_docs = {}, 0, 0
    for i in sorted(set(quality) - set(near_ids)):
        clean = "\n".join(
            ln for ln in texts[i].split("\n") if not ln or line_df[ln] <= 1)
        tokens[i] = len(clean.split())
        n = len(_scrubbed(clean))
        if n:
            chunked_docs += 1
            chunks += max(n - CHUNK_OVERLAP - 1, 0) // (CHUNK_SIZE - CHUNK_OVERLAP) + 1
    plan_path = f"{inputs}/curation_plan.json"
    with open(os.path.join(os.path.dirname(__file__), "plans",
                           "curation_plan.json")) as f:
        text = f.read()
    text = text.replace("${docs}", docs).replace("${out}", out)
    with open(plan_path, "w") as f:
        f.write(text)
    rules = {c["outputKey"]: c["params"]["assertions"]
             for c in json.loads(text)["commands"] if c["command"] == "assertion"}
    invalid = {
        "chunkSanity": [0, 0, chunks - chunked_docs],
        "shardGate": [sum(1 for v in tokens.values() if v == 0),
                      sum(1 for v in tokens.values() if v > 120)],
    }
    return {
        "plan_path": plan_path,
        "input_rows": len(texts),
        "input_bytes": os.path.getsize(docs),
        "shards_path": f"{out}/trainingShards",
        "report": f"{out}/reports",
        "near_dup_ids": sorted(near_ids),
        "exact_dup_ids": sorted(exact_ids),
        "junk_ids": sorted(junk_ids),
        "tokens": {str(k): v for k, v in sorted(tokens.items())},
        "budget": SHARD_BUDGET,
        "chunks": chunks,
        "invalid": invalid,
        "num_failed": _num_failed([
            (rules["chunkSanity"], invalid["chunkSanity"], chunks),
            (rules["shardGate"], invalid["shardGate"], len(tokens)),
        ]),
    }


PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def _scrubbed(text: str) -> str:
    for regex, token in PII_PATTERNS:
        text = re.sub(regex, token, text)
    return text


# ---------------------------------------------------------------------------
# stream_monitor: time-ordered event files
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "error"]
STREAM_RULES = [
    {"query": "value >= 0", "description": "non-negative value", "threshold": 0.05},
    {"query": "event_type <> 'error'", "description": "no error events",
     "threshold": 0.1},
    {"query": "props IS NOT NULL", "description": "props present", "threshold": 0.5},
]


def gen_stream(rng: np.random.Generator, inputs: str, out: str) -> dict:
    """Events on a minute grid over two days, split into EVENT_FILES
    strictly time-ordered files with increasing mtimes. Each event gets a
    distinct sub-second offset, so no timestamp repeats. The minute that
    is exactly one session gap before the last minute carries no events:
    no session can then end on the boundary where the final watermark
    decides whether it closes."""
    minutes = 2 * 24 * 60
    last_minute = minutes - 1
    minute = rng.integers(0, minutes - 1, EVENTS - 1)
    minute[minute == last_minute - SESSION_GAP_S // 60] = 0
    minute = np.sort(np.append(minute, last_minute))
    offset = rng.permutation(EVENTS) * (US // EVENTS)  # distinct, < 1 s
    ts = EPOCH_2024_US + minute.astype("int64") * 60 * US + offset
    order = np.argsort(ts, kind="stable")
    ts = ts[order]
    users = rng.integers(1, EVENT_USERS + 1, EVENTS).astype("int64")
    etype = rng.choice(np.array(EVENT_TYPES, dtype=object), EVENTS,
                       p=[0.5, 0.35, 0.1, 0.05])
    value = np.round(rng.lognormal(2.0, 1.0, EVENTS), 4)
    value[rng.random(EVENTS) < 0.02] *= -1
    props = [None if rng.random() < 0.1 else f"k{int(rng.integers(50))}"
             for _ in range(EVENTS)]
    table = pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype="int64")),
        "ts": pa.array(ts).cast(UTC_US),
        "user_id": pa.array(users),
        "event_type": pa.array(etype.tolist(), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, type=pa.string()),
    })
    src = f"{inputs}/events"
    os.makedirs(src)
    bounds = np.linspace(0, EVENTS, EVENT_FILES + 1).astype(int)
    now = 1_700_000_000
    for k in range(EVENT_FILES):
        lo, hi = bounds[k], bounds[k + 1]
        path = f"{src}/{k:03d}.parquet"
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (now + k, now + k))

    con = duckdb.connect()
    con.register("ev", table)
    invalid = _duck_counts(con, "ev", [r["query"] for r in STREAM_RULES])
    con.close()

    hour = ts // (3600 * US)
    windows: dict[str, list] = {}
    for h, t, v in zip(hour.tolist(), etype.tolist(), value.tolist()):
        w = windows.setdefault(f"{h * 3600 * US}|{t}", [0, 0.0])
        w[0] += 1
        w[1] += v
    sessions = _sessions(users, ts, int(ts.max()))
    return {
        "events": src,
        "input_rows": EVENTS,
        "input_bytes": sum(os.path.getsize(f"{src}/{f}") for f in os.listdir(src)),
        "invalid": invalid,
        "windows": {k: [n, round(s, 6)] for k, (n, s) in sorted(windows.items())},
        "sessions": sessions,
    }


def _sessions(users: np.ndarray, ts: np.ndarray, max_ts: int) -> list[list[int]]:
    """Gap sessions a streaming sessionizer closes by the end of the
    stream: a session closes when the user's next event is more than the
    gap later, or when the final watermark (the largest event time, in
    whole milliseconds) passes its last event plus the gap."""
    gap = SESSION_GAP_S * US
    watermark_ms = max_ts // 1000
    out = []
    for u in np.unique(users):
        t = np.sort(ts[users == u])
        start, last, n = int(t[0]), int(t[0]), 1
        for x in t[1:].tolist():
            if x - last > gap:
                out.append([int(u), start, last, n])
                start, n = x, 0
            last = x
            n += 1
        if watermark_ms > -(-(last + gap) // 1000):
            out.append([int(u), start, last, n])
    return sorted(out)


GENERATORS = {
    "qc_gate": gen_qc_gate,
    "plan_burst": gen_plan_burst,
    "curation_pipeline": gen_curation,
    "stream_monitor": gen_stream,
}


def generate(workload: str, seed: int, work: str) -> dict:
    """Write ``workload``'s inputs under ``work/inputs`` and return its
    expectations; outputs of the program go under ``work/out``."""
    inputs, out = f"{work}/inputs", f"{work}/out"
    os.makedirs(inputs, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    expected = GENERATORS[workload](rng, inputs, out)
    with open(f"{work}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
