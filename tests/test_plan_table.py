"""The declarative extension-command table (plans/extensions.py): every
row binds to its operator's signature, and an unknown or misspelled plan
key fails at parse time instead of being dropped."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from topnotch_spark.engine import TnEngine
from topnotch_spark.plans.extensions import (
    PICK,
    TABLE,
    _camel,
    _signature,
    parse_extension,
    row_keys,
)
from topnotch_spark.plans.model import ErrorCmd
from topnotch_spark.plans.parser import EXTENSION_COMMANDS, parse_commands

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMMANDS = {
    "asof", "basket", "bloom", "cdcApply", "cms", "compact", "corpusStats",
    "decontaminate", "dedup", "drift", "dsir", "fdCheck", "fuse", "graph",
    "index", "integrity", "intervalJoin", "kAnonymity", "lmScore", "outliers",
    "pivot", "profile", "quantileSketch", "retrieve", "sample", "schemaCheck",
    "scd2", "sequence", "similarity", "sketch", "skewProfile", "spatialJoin",
    "split", "text", "tokenize", "winsorize",
}


def test_registers_the_36_commands():
    assert set(EXTENSION_COMMANDS) == COMMANDS
    assert {c for c, _ in TABLE} == COMMANDS


@pytest.mark.parametrize("key", list(TABLE), ids=lambda k: f"{k[0]}-{k[1]}")
def test_row_binds_to_its_operator(key):
    row = TABLE[key]
    _, frames, plain, _ = _signature(row.target)
    positional = [t for t in row.params.split() if not t.startswith("-")]
    assert len(row.slots.split()) <= len(frames)
    assert len(positional) <= len(plain)
    # a parameter without a default must be fed by the plan
    assert all(p.default is not p.empty for p in plain[len(positional):])


def _misspell(key: str) -> str:
    return key[0] + key[2:] if len(key) > 2 else key + key[-1]


def _row_case(command, method):
    """(command JSON with one accepted key misspelled, that key)."""
    slots, tokens, keywords = row_keys(TABLE[command, method])
    options = [_camel(k) for k in keywords]
    params = {k: "x" for k in tokens}
    if command in PICK:
        params[method] = True
    elif method is not None:
        params["method"] = method
    obj = {"command": command, "outputKey": "out", "params": params}
    for slot in slots:
        obj[slot] = {"ref": "in", "onDisk": False}
    target = (options or tokens or slots)[0]
    bad = _misspell(target)
    assert bad not in options + tokens + slots
    holder = obj if target in slots else params
    holder[bad] = holder.pop(target, "x")
    return obj, bad


CASES = [(*_row_case(c, m), f"{c}-{m}") for c, m in TABLE] + [
    (
        {"command": "dedup", "input": {"ref": "in", "onDisk": False},
         "outputKey": "out",
         "params": {"method": "minhash", "idColumn": "doc_id",
                    "textColumn": "text", "bands": 4, "treshold": 0.99}},
        "treshold", "dedup-minhash-treshold",
    ),
    (
        {"command": "winsorize", "input": {"ref": "in", "onDisk": False},
         "outputKey": "out",
         "params": {"valueColumn": "v", "lowerP": 0.01, "uperP": 0.99}},
        "uperP", "winsorize-uperP",
    ),
    (
        {"command": "sequence", "input": {"ref": "in", "onDisk": False},
         "outputKey": "out",
         "params": {"method": "rolling", "keyColumn": "k",
                    "valueColumn": "v", "windowSecs": 3600}},
        "windowSecs", "sequence-rolling-windowSecs",
    ),
]


@pytest.mark.parametrize(
    "obj,bad", [c[:2] for c in CASES], ids=[c[2] for c in CASES]
)
def test_misspelled_key_fails_at_parse(spark, tmp_path, obj, bad):
    cmds = parse_commands({"commands": [obj]}, reader=None,
                          defined_output_keys={"in"})
    assert len(cmds) == 1 and isinstance(cmds[0], ErrorCmd)
    assert repr(bad) in cmds[0].error_str

    plan = tmp_path / "plan.json"
    plan.write_text(json.dumps({"commands": [obj]}))
    with pytest.raises(ValueError, match=repr(bad)):
        TnEngine(spark).run(str(plan), halt_if_potential_errors=True)


def test_parse_keeps_leading_params_out_of_options():
    cmd = parse_extension({
        "command": "dedup", "input": {"ref": "in", "onDisk": False},
        "outputKey": "out",
        "params": {"method": "minhash", "idColumn": "doc_id",
                   "numHashes": 16, "bands": 4, "threshold": 0.5,
                   "shingleN": 5},
    })
    assert cmd.args == {"id_col": "doc_id", "text_col": "text"}
    assert cmd.options == {"num_hashes": 16, "bands": 4, "threshold": 0.5,
                           "shingle_n": 5}
    assert [i.ref for i in cmd.inputs] == ["in"]


def test_operators_import_only_for_commands_in_the_plan():
    """Parsing resolves only the rows a plan uses: a minhash dedup plan
    must not import the multimodal operators."""
    code = (
        "import sys\n"
        "from topnotch_spark.plans.extensions import parse_extension\n"
        "parse_extension({'command': 'dedup', 'outputKey': 'o',\n"
        "  'input': {'ref': 'in', 'onDisk': False},\n"
        "  'params': {'method': 'minhash', 'idColumn': 'id'}})\n"
        "print('topnotch_spark.operators.dedup' in sys.modules,\n"
        "      'topnotch_spark.operators.multimodal' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out == ["True", "False"]


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the guard is installed below 3.12 only")
def test_zipimport_guard_reprobes_a_corrupt_archive(tmp_path):
    """A read that failed must not be cached: the next
    invalidate_caches() re-reads the archive even when its stat is the
    same as at the failed read."""
    import zipimport

    import topnotch_spark  # noqa: F401  (installs the guard)

    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("tn_guard_probe.py", "X = 1\n")
    good = open(path, "rb").read()
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    assert importer.find_spec("tn_guard_probe") is not None

    stamp = (1_000_000_000, 1_000_000_000)
    with open(path, "wb") as f:
        f.write(b"\0" * len(good))  # same size, not a zip
    os.utime(path, ns=stamp)
    importer.invalidate_caches()
    assert importer.find_spec("tn_guard_probe") is None

    with open(path, "wb") as f:
        f.write(good)  # repaired with the same (mtime, size) stat
    os.utime(path, ns=stamp)
    importer.invalidate_caches()
    assert importer.find_spec("tn_guard_probe") is not None
