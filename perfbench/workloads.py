"""The benchmark's workloads: one unit of work each, run through the
program's public entry points, and a check of every unit's outputs against
the generator's expectations. Outputs are read back with pyarrow and the
report JSON, never through Spark.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq


def _report_invalid(path: str) -> dict[str, list[int]]:
    with open(path) as f:
        sections = json.load(f)
    return {
        s["outputKey"]: [r["numInvalid"] for r in s["assertionReports"]]
        for s in sections
        if isinstance(s, dict) and "assertionReports" in s
    }


def _compare(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got!r}, expected {want!r}"]


class PlanWorkload:
    """A unit is one ``TnEngine(spark).run(plan)``: a fresh engine per plan,
    as the CLI and a long-lived session both create one."""

    def __init__(self, spark, expected: dict, work: str, tracer):
        from topnotch_spark.engine import TnEngine

        self.spark, self.expected, self.work = spark, expected, work
        self.engine_cls = TnEngine
        self.rows = expected["input_rows"]
        self.bytes = expected["input_bytes"]

    def plan(self, i: int) -> tuple[str, str, dict, int]:
        """(plan path, report key, expected invalid counts, expected number
        of failed rules) of unit i."""
        raise NotImplementedError

    def outputs(self) -> list[str]:
        return []

    def run(self, i: int) -> int:
        path, key, _, _ = self.plan(i)
        return self.engine_cls(self.spark).run(path, report_key=key)

    def clear(self, i: int) -> None:
        """Remove the previous unit's outputs so a check never reads them."""
        _, key, _, _ = self.plan(i)
        report = os.path.join(self.expected["report"], key)
        if os.path.exists(report):
            os.remove(report)
        for p in self.outputs():
            shutil.rmtree(p, ignore_errors=True)

    def check(self, i: int, result) -> list[str]:
        _, key, invalid, num_failed = self.plan(i)
        return _compare(f"{key} numInvalid",
                        _report_invalid(os.path.join(self.expected["report"], key)),
                        invalid) + _compare(f"{key} failed rules", result, num_failed)


class QcGate(PlanWorkload):
    def __init__(self, *a):
        super().__init__(*a)
        self.path = f"{self.work}/inputs/qc_plan.json"
        with open(self.path, "w") as f:
            json.dump(self.expected["plan"], f)

    def plan(self, i):
        e = self.expected
        return self.path, "qc_gate", e["invalid"], e["num_failed"]

    def outputs(self):
        return [self.expected["diff_path"]]

    def check(self, i, result):
        errs = super().check(i, result)
        rows = pq.read_table(self.expected["diff_path"]).num_rows
        return errs + _compare("diff rows", rows, self.expected["diff_rows"])


class PlanBurst(PlanWorkload):
    def plan(self, i):
        k = i % len(self.expected["plans"])
        p = self.expected["plans"][k]
        return p["path"], f"burst_{k:03d}", p["invalid"], p["num_failed"]


class CurationPipeline(PlanWorkload):
    def plan(self, i):
        e = self.expected
        return e["plan_path"], "curation", e["invalid"], e["num_failed"]

    def outputs(self):
        return [self.expected["shards_path"]]

    def check(self, i, result):
        e = self.expected
        errs = super().check(i, result)
        t = pq.read_table(e["shards_path"], columns=["doc_id", "n_tokens", "shard_id"])
        rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        got = {str(d): n for d, n, _ in rows}
        planted = set(map(str, e["near_dup_ids"])) & got.keys()
        if planted:
            errs.append(f"planted near duplicates kept: {sorted(planted)[:5]}")
        errs += _compare("shard doc tokens", got, e["tokens"])
        cum = 0
        for doc, n, shard in rows:
            if shard != cum // e["budget"]:
                errs.append(f"doc {doc} in shard {shard}, budget puts it in "
                            f"{cum // e['budget']}")
                break
            cum += n
        return errs


class StreamMonitor:
    """A unit drains the event directory through three streaming
    operators, each from a fresh checkpoint: a watermarked window
    aggregate, per-batch assertions, and Python-state sessionization."""

    def __init__(self, spark, expected: dict, work: str, tracer):
        from topnotch_spark import streaming
        from topnotch_spark.operators.assertions import AssertionRule
        from perfbench.gen import STREAM_RULES

        self.spark, self.expected, self.tracer = spark, expected, tracer
        self.st = streaming
        self.rules = [AssertionRule.from_json(r) for r in STREAM_RULES]
        self.rows = expected["input_rows"]
        self.bytes = expected["input_bytes"]

    def _source(self):
        return self.st.stream_from_parquet(
            self.spark, self.expected["events"], max_files_per_trigger=1)

    def run(self, i):
        st, span = self.st, self.tracer.span
        with span("streaming.window.drain"):
            windows = st.run_stream_to_table(st.windowed_event_metrics(self._source()))
            windows = windows.selectExpr(
                "unix_micros(window_start) AS ws", "event_type", "n_events",
                "sum_value").collect()
        with span("streaming.assert.drain"):
            summary = st.run_streaming_assertions(self._source(), self.rules)
        with span("streaming.sessionize.drain"):
            sessions = st.run_stream_to_table(
                st.sessionize_stream(self._source()), output_mode="append")
            sessions = sessions.selectExpr(
                "user_id", "unix_micros(session_start)", "unix_micros(session_end)",
                "n_events").collect()
        return windows, summary, sessions

    def clear(self, i):
        pass

    def check(self, i, result):
        windows, summary, sessions = result
        e = self.expected
        got = {f"{r[0]}|{r[1]}": [r[2], r[3]] for r in windows}
        errs = []
        if got.keys() != e["windows"].keys():
            errs.append(f"window keys differ: {len(got)} vs {len(e['windows'])}")
        else:
            for k, (n, s) in e["windows"].items():
                if got[k][0] != n or abs(got[k][1] - s) > 1e-5:
                    errs.append(f"window {k}: got {got[k]}, expected {[n, s]}")
                    break
        errs += _compare("stream numInvalid",
                         [r.num_invalid for r in summary.reports], e["invalid"])
        errs += _compare("sessions", sorted(list(r) for r in sessions), e["sessions"])
        return errs


WORKLOADS = {
    "qc_gate": QcGate,
    "plan_burst": PlanBurst,
    "curation_pipeline": CurationPipeline,
    "stream_monitor": StreamMonitor,
}
