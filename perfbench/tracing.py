"""Per-layer tracing, done entirely from the benchmark's side.

Two sources, both outside the program:

* Wall-time spans. ``Tracer.install`` rebinds public functions of the
  engine's layer modules (and a few Spark actions) to thin wrappers that
  record a span around each call. A function that returns a lazy
  DataFrame tags it, so a later action on that frame is a span of the
  same layer. While a span is open the SparkContext job group is
  ``<workload>:<op>:<label>#<span index>``; the innermost open span owns
  every job Spark submits.
* The Spark event log (enabled by conf passed to spark-submit). After
  the run, ``stage_metrics`` reads it and attributes each job's stages
  and tasks to the span whose job group it carries.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

#: (module, attribute, span label). The label's first dotted part is the
#: layer. ``keyed_diff`` runs its key-uniqueness jobs eagerly and stays
#: lazy otherwise, so its call span is the key validation.
LAYER_FUNCTIONS = [
    ("scribedb_spark.config", "load_config", "config.load_config"),
    ("scribedb_spark.config", "build_dataframe", "config.build_dataframe"),
    ("scribedb_spark.config", "run_compare_config", "config.run_compare_config"),
    ("scribedb_spark.config", "run_merkle_config", "config.run_merkle_config"),
    ("scribedb_spark.config", "run_iblt_config", "config.run_iblt_config"),
    ("scribedb_spark.sources", "write_report", "sources.write_report"),
    ("scribedb_spark.canonical", "fp_unordered", "canonical.fp_unordered"),
    ("scribedb_spark.canonical", "global_row_number", "canonical.global_row_number"),
    ("scribedb_spark.compare", "compare", "compare.compare"),
    ("scribedb_spark.compare", "symmetric_diff", "compare.symmetric_diff"),
    ("scribedb_spark.compare", "keyed_diff", "compare.key_validation"),
    ("scribedb_spark.compare", "keyed_diff_cols", "compare.keyed_diff_cols"),
    ("scribedb_spark.compare", "chunk_fingerprints", "compare.chunk_fingerprints"),
    ("scribedb_spark.compare", "merkle_levels", "compare.merkle_levels"),
    ("scribedb_spark.compare", "merkle_drill", "compare.merkle_drill"),
    ("scribedb_spark.analytics", "iblt_reconcile", "analytics.iblt_reconcile"),
]

#: DataFrame methods that run Spark jobs
ACTIONS = ("collect", "count", "toPandas", "take", "localCheckpoint", "checkpoint")

#: layers whose Spark stage metrics are reported
STAGE_LAYERS = (
    "config",
    "sources",
    "canonical",
    "compare",
    "analytics",
    "pipeline",
    "dedup",
    "similarity",
    "curation",
)

STAGE_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("executor_run_s", "s"),
    ("task_s_max", "s"),
    ("task_s_median", "s"),
    ("spill_bytes", "bytes"),
    ("peak_exec_mem_bytes", "bytes"),
    ("driver_s", "s"),
)


def layer_of_module(module: str) -> str:
    """``scribedb_spark.operators.dedup`` -> ``dedup``."""
    return module.rsplit(".", 1)[-1]


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op = "setup"
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _group(self) -> str:
        i = self.stack[-1]
        return f"{self.workload}:{self.op}:{self.spans[i]['label']}#{i}"

    @contextlib.contextmanager
    def span(self, label: str):
        """Record a span; yields its record, or None when a span of the
        same label is already open (nested calls are not counted twice)."""
        if any(self.spans[i]["label"] == label for i in self.stack):
            yield None
            return
        rec = {
            "label": label,
            "op": self.op,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.time(),
            "end": None,
            "lazy": False,
        }
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(self._group(), self._group())
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self._group(), self._group())
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, n: float = 1.0) -> None:
        self.counts[self.op][name] += n

    # -- wrappers -----------------------------------------------------------
    def _rebind(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    @staticmethod
    def _tag(out, label: str) -> bool:
        """Tag the DataFrames a call returned with its label; True if any."""
        from pyspark.sql import DataFrame

        frames = [f for f in (out if isinstance(out, tuple) else (out,)) if isinstance(f, DataFrame)]
        for f in frames:
            if not hasattr(f, "_perfbench_label"):
                f._perfbench_label = label
        return bool(frames)

    def wrap_function(self, module: str, name: str, label: str) -> None:
        """Rebind ``module.name`` and every engine module that imported the
        same object under the same name."""
        orig = getattr(sys.modules[module], name)

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(label) as rec:
                out = orig(*a, **k)
            if self._tag(out, label) and rec is not None:
                rec["lazy"] = True  # its work may run later, in an action span
            return out

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("scribedb_spark") and getattr(mod, name, None) is orig:
                self._rebind(mod, name, traced)

    def wrap_session_cache(self) -> None:
        """Count builds and hits of the engine's session cache, wherever a
        module imported ``session_cache``."""
        import scribedb_spark.cache as cache_mod

        orig = cache_mod.session_cache

        @functools.wraps(orig)
        def counted(cache, spark, key_tail, builder, deps=None):
            built = []

            def build():
                built.append(1)
                return builder()

            out = orig(cache, spark, key_tail, build, deps)
            self.count("cache.builds" if built else "cache.hits")
            return out

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("scribedb_spark") and getattr(mod, "session_cache", None) is orig:
                self._rebind(mod, "session_cache", counted)

    def wrap_iblt_stalls(self) -> None:
        """Each entry into the adaptive IBLT path follows one decode stall."""
        import scribedb_spark.analytics as an

        orig = an._iblt_adaptive

        @functools.wraps(orig)
        def counted(*a, **k):
            self.count("analytics.iblt_decode_stalls")
            return orig(*a, **k)

        self._rebind(an, "_iblt_adaptive", counted)

    def wrap_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for name in ACTIONS:
            orig = getattr(DataFrame, name)

            def make(orig):
                @functools.wraps(orig)
                def traced(df, *a, **k):
                    label = getattr(df, "_perfbench_label", None)
                    if label is None:
                        return orig(df, *a, **k)
                    with self.span(label):
                        return orig(df, *a, **k)

                return traced

            self._rebind(DataFrame, name, make(orig))

    def install(self) -> None:
        """Wrap the compare-path layers and the Spark actions. The
        curation modules load lazily in the first curation op, which
        calls ``wrap_session_cache`` once they are imported; the compare
        workloads get it here."""
        import scribedb_spark.canonical  # noqa: F401
        import scribedb_spark.compare  # noqa: F401
        import scribedb_spark.config  # noqa: F401
        import scribedb_spark.sources  # noqa: F401

        if self.workload != "curation":
            import scribedb_spark.analytics  # noqa: F401

            self.wrap_iblt_stalls()
            self.wrap_session_cache()
        for module, name, label in LAYER_FUNCTIONS:
            if module in sys.modules:
                self.wrap_function(module, name, label)
        self.wrap_actions()

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


# -- per-op aggregation -------------------------------------------------------


def _span_of_group(group: str, workload: str) -> tuple[str, str, int] | None:
    """``<workload>:<op>:<label>#<span>`` -> (op, label, span index)."""
    parts = group.split(":")
    if len(parts) != 3 or parts[0] != workload or "#" not in parts[2]:
        return None
    label, idx = parts[2].rsplit("#", 1)
    return parts[1], label, int(idx)


def counted_spans(spans: list[dict], log: dict, workload: str) -> dict[int, dict]:
    """The spans that count toward their layer, re-parented onto the
    nearest counted ancestor. A call that only returned a lazy DataFrame
    and ran no Spark job itself built a plan for its caller: its time
    stays in the caller's self time."""
    active = set()
    for g in log["job_group"].values():
        hit = _span_of_group(g, workload)
        i = hit[2] if hit else None
        while i is not None and i not in active:
            active.add(i)
            i = spans[i]["parent"]
    keep = {i for i, s in enumerate(spans) if not s["lazy"] or i in active}
    out = {}
    for i in sorted(keep):
        p = spans[i]["parent"]
        while p is not None and p not in keep:
            p = spans[p]["parent"]
        out[i] = dict(spans[i], parent=p)
    return out


def span_times(spans: dict[int, dict]) -> dict[str, dict[str, float]]:
    """op -> {label: inclusive seconds, label + ':self': self seconds}."""
    child = defaultdict(float)
    for s in spans.values():
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, s in spans.items():
        d = s["end"] - s["start"]
        out[s["op"]][s["label"]] += d
        out[s["op"]][s["label"] + ":self"] += d - child[i]
    return out


def _self_intervals(spans: dict[int, dict]) -> list[tuple[str, str, float, float]]:
    """(op, label, start, end) pieces of each span not covered by a child."""
    kids = defaultdict(list)
    for s in spans.values():
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    pieces = []
    for i, s in spans.items():
        t = s["start"]
        for a, b in sorted(kids[i]):
            if a > t:
                pieces.append((s["op"], s["label"], t, a))
            t = max(t, b)
        if s["end"] > t:
            pieces.append((s["op"], s["label"], t, s["end"]))
    return pieces


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(a: float, b: float, merged: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in merged)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the one application logged in ``log_dir``."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {apps}")
    # a rolling log splits into events_<n>_<appId> files
    files = sorted(
        glob.glob(os.path.join(apps[0], "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    # a stage skipped by a later job ran in the first one
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "launch": info["Launch Time"] / 1000.0,
                            "finish": info["Finish Time"] / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "peak_mem": m.get("Peak Execution Memory", 0),
                            "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )
    return {"job_group": job_group, "stage_job": stage_job, "tasks": tasks}


def stage_metrics(log: dict, spans: dict[int, dict], workload: str) -> dict[str, dict[str, float]]:
    """op -> per-layer Spark metrics (``<layer>.spark.<name>``) plus the
    op's input records read (``records_read``)."""
    group_of_stage = {s: log["job_group"].get(j, "") for s, j in log["stage_job"].items()}

    def op_layer(group: str) -> tuple[str, str] | None:
        hit = _span_of_group(group, workload)
        return (hit[0], hit[1].split(".", 1)[0]) if hit else None

    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs = defaultdict(set)
    for jid, g in log["job_group"].items():
        ol = op_layer(g)
        if ol:
            jobs[ol].add(jid)
    for (op, layer), js in jobs.items():
        out[op][f"{layer}.spark.jobs"] += len(js)
    stages = defaultdict(set)
    task_s = defaultdict(list)
    for t in log["tasks"]:
        ol = op_layer(group_of_stage.get(t["stage"], ""))
        if not ol:
            continue
        op, layer = ol
        o, p = out[op], f"{layer}.spark."
        stages[ol].add(t["stage"])
        task_s[ol].append(t["finish"] - t["launch"])
        o[p + "shuffle_write_bytes"] += t["shuffle_write"]
        o[p + "shuffle_read_bytes"] += t["shuffle_read"]
        o[p + "executor_run_s"] += t["run_s"]
        o[p + "spill_bytes"] += t["spill"]
        o[p + "peak_exec_mem_bytes"] = max(o[p + "peak_exec_mem_bytes"], t["peak_mem"])
        if layer != "op":  # the benchmark's own answer checks run at op level
            o["records_read"] += t["records_read"]
    for (op, layer), ss in stages.items():
        out[op][f"{layer}.spark.stages"] += len(ss)
        out[op][f"{layer}.spark.task_s_max"] = max(task_s[(op, layer)])
        out[op][f"{layer}.spark.task_s_median"] = statistics.median(task_s[(op, layer)])
    # driver time: the part of each layer's self time when no task ran
    busy = _merge([(t["launch"], t["finish"]) for t in log["tasks"]])
    for op, label, a, b in _self_intervals(spans):
        layer = label.split(".", 1)[0]
        out[op][f"{layer}.spark.driver_s"] += (b - a) - _covered(a, b, busy)
    return out
