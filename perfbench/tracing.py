"""Span tracing for the traced (``--trace 1``) run.

Spans are recorded from the benchmark's own code, around calls into each
engine layer: a traced op swaps a layer's public function for a wrapper
(``Tracer.patch``) that runs the original, materialises its output with
``persist()`` plus a ``noop`` write (a ``count()`` sink can be pruned by
Catalyst) and does so under ``setJobGroup(<span group>)``. Spans nest by
call stack, so a layer's self time is its duration minus its children's.
After the run, Spark's REST API (jobs, stages, SQL executions) is read and
attributed to spans by job group: stage run time, shuffle writes, GC and
spill, and the bytes crossing to and from Python workers.

Spans are kept in memory and written out once, by ``Tracer.write``.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

from stats import self_times


def materialize(df):
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._pending: list = []  # (span, key, thunk) run after each op

    # ---------------------------------------------------------- spans ---

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": parent["id"] if parent else None,
            "group": f"pbspan{len(self.spans)}",
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def after_op(self, rec: dict, key: str, thunk) -> None:
        """Record ``thunk()`` as ``rec[key]`` once the op is done, outside
        every span (counts for ratios must not add to a span's time)."""
        self._pending.append((rec, key, thunk))

    def finish_op(self) -> None:
        self.sc.setJobGroup("pbcounts", "span counts")
        for rec, key, thunk in self._pending:
            rec[key] = thunk()
        self._pending.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def traced(self, name: str, fn, rows: str | None = None):
        """``fn`` run under span ``name`` with its DataFrame output
        materialised; with ``rows``, the output's row count is recorded
        under that key after the op."""
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = materialize(fn(*args, **kwargs))
            if rows:
                self.after_op(rec, rows, out.count)
            return out
        return wrapper

    def spanned(self, name: str, fn):
        """``fn`` run under span ``name``, its result returned as is."""
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    @contextmanager
    def patch(self, replacements: list[tuple[object, str, object]]):
        """Temporarily set ``obj.attr = value`` for each triple."""
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in replacements]
        for obj, attr, value in replacements:
            setattr(obj, attr, value)
        try:
            yield
        finally:
            for obj, attr, value in reversed(saved):
                setattr(obj, attr, value)

    # --------------------------------------------------- Spark metrics ---

    def collect_metrics(self, timeout: float = 60.0) -> None:
        """Attach each span's Spark job, stage and SQL metrics (REST API,
        read once every span's jobs have completed there)."""
        base = self.sc.uiWebUrl
        if not base:
            raise RuntimeError("traced run needs the Spark UI (REST API)")
        tracker = self.sc.statusTracker()
        want = {
            s["group"]: set(tracker.getJobIdsForGroup(s["group"]))
            for s in self.spans
        }
        all_ids = set().union(*want.values()) if want else set()

        def get(path):
            with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
                return json.loads(r.read())

        app = get("applications")[0]["id"]
        deadline = time.monotonic() + timeout
        while True:
            jobs = get(f"applications/{app}/jobs")
            done = {j["jobId"] for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")}
            if all_ids <= done or time.monotonic() > deadline:
                break
            time.sleep(0.5)
        stages = {
            s["stageId"]: s for s in get(f"applications/{app}/stages")
            if s["status"] == "COMPLETE"
        }
        sqls = get(f"applications/{app}/sql?details=true&planDescription=false"
                   "&offset=0&length=100000")
        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        # a stage listed by several jobs (a reused shuffle) ran in the first
        stage_group: dict[int, str] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                stage_group.setdefault(sid, j.get("jobGroup"))
        per_group: dict[str, dict] = {}
        for sid, st in stages.items():
            g = per_group.setdefault(stage_group.get(sid), _zero())
            g["executor_run_ms"] += st.get("executorRunTime", 0)
            g["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            g["spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                 + st.get("diskBytesSpilled", 0))
            g["gc_ms"] += st.get("jvmGcTime", 0)
        for ex in sqls:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if not ids:
                continue
            g = per_group.setdefault(group_of_job.get(min(ids)), _zero())
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        g["py_bytes_in"] += parse_size(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        g["py_bytes_out"] += parse_size(m["value"])
                    elif (m["name"] == "number of output rows"
                          and node["nodeName"].startswith("Scan")):
                        g["rows_scanned"] += parse_size(m["value"])
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
            s["jobs"] = len(want[s["group"]])
            s.update(per_group.get(s["group"], _zero()))

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def _zero() -> dict:
    return dict.fromkeys(
        ("executor_run_ms", "shuffle_write_bytes", "spill_bytes", "gc_ms",
         "py_bytes_in", "py_bytes_out", "rows_scanned"), 0)


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_size(text: str) -> float:
    """A Spark UI metric value as a number: a plain count ("1,234") or a
    size ("3.4 MiB"); for the "total (min, med, max ...)" form, the total
    on the second line."""
    line = text.split("\n")[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)
