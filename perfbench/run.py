"""End-to-end, layer-timed benchmark of scribedb-spark.

    python3 perfbench/run.py --workload clean_verdict|drift_drill|curation \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run generates its inputs from the
seed under ``.perfbench/`` in the checkout, times two extra set-up probes
(fresh processes that only start the engine), then starts one fresh
worker process that sets up the engine the way the CLI does and runs
the workload's ops back to back (one client, closed loop) for ``S``
seconds. Every op's answer is checked; curation results are checked
against each registry key's DuckDB oracle after the worker exits.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the worker also wraps the engine's layer functions,
tags Spark jobs and logs Spark events, and the last line carries the
per-layer metrics. Both write a sidecar under ``.perfbench/results/``;
a traced run's sidecar holds the tracing overhead against the untraced
run of the same workload and seed made by the same code, when that
sidecar exists.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402
from worker import CURATION_KEYS, DRIFT_MODES  # noqa: E402

#: input sizes; ``rows`` is per side
WORKLOADS = {
    "clean_verdict": {"rows": 200_000, "drift": False},
    "drift_drill": {"rows": 50_000, "drift": True},
    "curation": {"docs": 500},
}
BUCKET_ROWS = 5_000
SETUP_PROBES = 1
#: drift_drill needs one warm op of every mode; curation takes the
#: median of two warm passes
MIN_OPS = {"clean_verdict": 3, "drift_drill": 5, "curation": 3}
CPUS = "4"
DRIVER_MEM = "2g"
#: worker time allowed beyond --seconds: set-up, the cold first op, the
#: ops a workload needs at least and the op still running at the deadline
WORKER_MARGIN_S = 150

END_TO_END = [
    ("setup_s", "s"),
    ("op_s", "s"),
]


def per_layer_names() -> list[tuple[str, str]]:
    names = [
        ("session.import_s", "s"),
        ("session.get_spark_s", "s"),
        ("session.peak_pss_mb", "MB"),
        ("config.load_config_s", "s"),
        ("config.iblt_guard_s", "s"),
        ("sources.scan_amplification", "ratio"),
        ("sources.write_report_s", "s"),
        ("sources.bytes_written", "bytes"),
        ("canonical.fp_unordered_s", "s"),
        ("canonical.global_row_number_s", "s"),
        ("compare.symmetric_diff_s", "s"),
        ("compare.key_validation_s", "s"),
        ("compare.keyed_diff_cols_s", "s"),
        ("compare.diff_rows", "count"),
        ("compare.chunk_fingerprints_s", "s"),
        ("compare.chunks_nok_ratio", "ratio"),
        ("compare.merkle_levels_s", "s"),
        ("compare.merkle_leaf_diff_ratio", "ratio"),
        ("analytics.iblt_reconcile_s", "s"),
        ("analytics.iblt_decode_stalls", "ratio"),
        ("cache.builds", "count"),
        ("cache.hits", "count"),
    ]
    for key in CURATION_KEYS:
        names += [(f"dedup.{key}_s", "s"), (f"dedup.{key}_rows", "count")]
    for layer in tracing.STAGE_LAYERS:
        names += [(f"{layer}.spark.{m}", u) for m, u in tracing.STAGE_METRICS]
    return names


# -- inputs -------------------------------------------------------------------


def make_inputs(workload: str, seed: int, d: str) -> dict:
    w = WORKLOADS[workload]
    if workload == "curation":
        # the worker writes one corpus per pass (gen.write_corpus)
        manifest = {"docs": w["docs"], "seed": seed}
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(manifest, f)
    else:
        manifest = gen.write_compare_pair(d, seed, w["rows"], drift=w["drift"], bucket_rows=BUCKET_ROWS)
        spec = {
            "compare": {
                "source": {"db": {"type": "parquet", "path": os.path.join(d, "src.parquet")}, "name": "src"},
                "target": {"db": {"type": "parquet", "path": os.path.join(d, "tgt.parquet")}, "name": "tgt"},
                "keys": ["row_id"],
                "row_limit": 0,
            }
        }
        if w["drift"]:
            spec["compare"]["sort_keys"] = ["row_id"]
            spec["compare"]["bucket_rows"] = BUCKET_ROWS
        with open(os.path.join(d, "compare.yaml"), "w") as f:
            json.dump(spec, f)  # JSON is YAML
    return manifest


# -- processes ----------------------------------------------------------------


def worker_env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    for sub in ("warehouse", "local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    args = ["pyspark-shell"]
    if trace:
        args = [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
            "--conf spark.eventLog.compress=false",
        ] + args
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args)
    return env


def session_members(sid: int) -> list[int]:
    """Pids of live processes in session ``sid`` (a worker and everything
    it started: the JVM and any Python workers the JVM forks)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        state, _ppid, _pgrp, session = stat.rsplit(")", 1)[1].split()[:4]
        if int(session) == sid and state != "Z":
            out.append(int(name))
    return out


def pss_mb(pids: list[int]) -> float:
    """Total proportional set size: pages shared between processes (the
    forked Python workers of the JVM share most of theirs) count once."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


def run_worker(argv: list[str], env: dict, run_dir: str, timeout: float) -> tuple[dict, float]:
    """Start one worker in its own session, poll the session's memory
    until every process in it has ended, and return (the worker's JSON
    result, peak PSS in MB)."""
    out = os.path.join(run_dir, f"result-{time.monotonic_ns()}.json")
    env = dict(env, PERFBENCH_SPAWNED_AT=repr(time.time()))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out] + argv
    peak = 0.0
    deadline = time.monotonic() + timeout
    with open(os.path.join(run_dir, "worker.log"), "ab") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=log, stderr=log, start_new_session=True)
        try:
            while True:
                done = proc.poll() is not None
                members = session_members(proc.pid)
                if done and not members:
                    break
                peak = max(peak, pss_mb(members))
                if time.monotonic() > deadline:
                    raise RuntimeError(f"worker exceeded {timeout:.0f} s")
                time.sleep(0.25)
        finally:
            if session_members(proc.pid):
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "worker.log"), "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"worker exited {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f), peak


# -- curation oracle ----------------------------------------------------------


def oracle_failures(ops: list[dict], inputs: str) -> None:
    """Mark each curation pass failed unless every key's digest matches
    its DuckDB oracle on the same corpus."""
    import duckdb

    from scribedb_spark import queries as Q
    from worker import result_digest

    Q.load_extensions()
    for rec in ops:
        if not rec["ok"]:
            continue
        con = duckdb.connect()
        try:
            path = os.path.join(inputs, rec["corpus"], "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            bad = [
                k
                for k in CURATION_KEYS
                if result_digest(con.execute(Q.REGISTRY[k].oracle).df()) != rec["digests"][k]
            ]
        finally:
            con.close()
        if bad:
            rec["ok"] = False
            rec["error"] = f"wrong answer: oracle mismatch on {bad}"


# -- metrics ------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload: str, setups: list[dict], ops: list[dict]) -> dict:
    warm = ops[1:]
    if workload == "drift_drill":
        # one drill round: each CLI mode once, at its median warm time
        op_s = sum(_median([o["op_s"] for o in warm if o["kind"] == m]) for m in DRIFT_MODES)
    else:
        op_s = _median([o["op_s"] for o in warm])
    return {
        "setup_s": _median([s["setup_s"] for s in setups]),
        "op_s": op_s,
    }


def figures_table(
    workload: str, manifest: dict, e2e: dict, ops: list[dict], peak_mb: float
) -> list[tuple[str, str, object]]:
    """Every named user-facing figure; ``n/a`` where the workload has no
    op of that kind."""
    warm = ops[1:]

    def med(kind: str, field: str = "op_s"):
        xs = [o[field] for o in warm if o["kind"] == kind and field in o]
        return round(statistics.median(xs), 4) if xs else "n/a"

    compare = workload != "curation"
    rows = manifest.get("rows_src", 0) + manifest.get("rows_tgt", 0)
    warm_s = sum(o["op_s"] for o in warm)
    failed = sum(1 for o in ops if not o["ok"])
    return [
        ("setup_s", "s", round(e2e["setup_s"], 4)),
        ("first_op_s", "s", round(ops[0]["op_s"], 4)),
        ("verdict_s", "s", med("full", "verdict_s") if compare else "n/a"),
        ("rows_per_s", "1/s", round(rows * len(warm) / warm_s, 1) if compare and warm_s else "n/a"),
        ("report_s", "s", med("full") if workload == "drift_drill" else "n/a"),
        ("chunk_report_s", "s", med("hash")),
        ("drill_s", "s", med("merkle")),
        ("iblt_s", "s", med("iblt")),
        ("curation_s", "s", med("curation")),
        ("docs_per_s", "1/s", round(manifest["docs"] * len(warm) / warm_s, 1) if not compare and warm_s else "n/a"),
        ("peak_pss_mb", "MB", round(peak_mb, 1)),
        ("failed_ops", "ratio", round(failed / len(ops), 4)),
    ]


def per_layer(
    workload: str, manifest: dict, setups: list[dict], res: dict, events_dir: str, peak_mb: float
) -> dict:
    counts, ops = res["counts"], res["ops"]
    log = tracing.read_event_log(events_dir)
    spans = tracing.counted_spans(res["spans"], log, workload)
    st = tracing.span_times(spans)
    sm = tracing.stage_metrics(log, spans, workload)
    units = manifest["docs"] if workload == "curation" else manifest["rows_src"] + manifest["rows_tgt"]
    considered = ops[1:] if len(ops) > 1 else ops
    per_op = []
    for rec in considered:
        op = f"{rec['i']}-{rec['kind']}"
        s, c, g = st.get(op, {}), counts.get(op, {}), sm.get(op, {})
        v = {
            "config.load_config_s": s.get("config.load_config", 0.0),
            "config.iblt_guard_s": s.get("config.run_iblt_config:self", 0.0),
            "sources.scan_amplification": g.get("records_read", 0.0) / units,
            "sources.write_report_s": s.get("sources.write_report", 0.0),
            "sources.bytes_written": rec.get("bytes_written", 0),
            "compare.diff_rows": rec.get("diff_rows", 0),
            "compare.chunks_nok_ratio": rec.get("chunks_nok_ratio", 0.0),
            "compare.merkle_leaf_diff_ratio": rec.get("merkle_leaf_diff_ratio", 0.0),
            "cache.builds": c.get("cache.builds", 0),
            "cache.hits": c.get("cache.hits", 0),
        }
        for label in (
            "canonical.fp_unordered",
            "canonical.global_row_number",
            "compare.symmetric_diff",
            "compare.key_validation",
            "compare.keyed_diff_cols",
            "compare.chunk_fingerprints",
            "compare.merkle_levels",
            "analytics.iblt_reconcile",
        ):
            v[label + "_s"] = s.get(label, 0.0)
        for key, kv in rec.get("keys", {}).items():
            v[f"dedup.{key}_s"] = kv["s"]
            v[f"dedup.{key}_rows"] = kv["rows"]
        v.update({k: x for k, x in g.items() if k != "records_read"})
        per_op.append(v)
    out = {}
    for name, _unit in per_layer_names():
        if name == "session.import_s":
            out[name] = _median([x["import_s"] for x in setups])
        elif name == "session.get_spark_s":
            out[name] = _median([x["get_spark_s"] for x in setups])
        elif name == "session.peak_pss_mb":
            out[name] = peak_mb
        elif name == "analytics.iblt_decode_stalls":
            attempts = [o for o in ops if o["kind"] == "iblt"]
            stalls = sum(counts.get(f"{o['i']}-iblt", {}).get(name, 0) for o in attempts)
            out[name] = stalls / len(attempts) if attempts else 0.0
        else:
            # median over the ops that used the layer
            out[name] = _median([v[name] for v in per_op if v.get(name)])
    return out


def code_digest() -> str:
    """sha256 over the engine's and the benchmark's Python sources, so a
    sidecar can tell which code made it."""
    h = hashlib.sha256()
    for top in ("scribedb_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def tracing_overhead(base: str, workload: str, seed: int, code: str, e2e: dict) -> dict | None:
    """Traced minus untraced, per end-to-end metric, against the untraced
    run of the same workload and seed made by the same code; None when
    there is no such run."""
    path = os.path.join(base, "results", f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        ref = json.load(f)
    if ref.get("code") != code:
        return None
    return {k: e2e[k] - ref["end_to_end"][k] for k in e2e}


# -- main -----------------------------------------------------------------------


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "scribedb_spark", "__init__.py")):
        print(f"perfbench: no scribedb_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs, exist_ok=True)
    try:
        manifest = make_inputs(a.workload, a.seed, inputs)
        env = worker_env(run_dir, trace=False)
        setups = []
        for _ in range(SETUP_PROBES):
            r, _peak = run_worker(["--probe"], env, run_dir, timeout=60)
            setups.append(r)
        events = os.path.join(run_dir, "events")
        res, peak_mb = run_worker(
            [
                "--workload", a.workload,
                "--inputs", inputs,
                "--scratch", run_dir,
                "--seconds", str(a.seconds),
                "--min-ops", str(MIN_OPS[a.workload]),
                "--trace", str(a.trace),
            ],
            worker_env(run_dir, trace=bool(a.trace)),
            run_dir,
            timeout=a.seconds + WORKER_MARGIN_S,
        )
        setups.append(res)
        ops = res["ops"]
        if a.workload == "curation":
            oracle_failures(ops, inputs)
        e2e = end_to_end(a.workload, setups, ops)
        table = figures_table(a.workload, manifest, e2e, ops, peak_mb)
        side = {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "code": code_digest(),
            "inputs": WORKLOADS[a.workload],
            "end_to_end": e2e,
            "figures": {n: {"value": v, "unit": u} for n, u, v in table},
            "ops": [{k: v for k, v in o.items() if k != "digests"} for o in ops],
            "setups": [{k: s[k] for k in ("setup_s", "import_s", "get_spark_s")} for s in setups],
        }
        if a.trace:
            metrics = per_layer(a.workload, manifest, setups, res, events, peak_mb)
            units = dict(per_layer_names())
            side["per_layer"] = metrics
            side["tracing_overhead"] = tracing_overhead(base, a.workload, a.seed, side["code"], e2e)
        else:
            metrics = e2e
            units = dict(END_TO_END)
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(os.path.join(base, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(side, f, indent=1)

        failed = sum(1 for o in ops if not o["ok"])
        for n, u, v in table:
            print(f"{n:>16} {v!s:>14} {u}")
        for o in ops:
            if not o["ok"]:
                print(f"op {o['i']} {o['kind']} failed: {o.get('error')}")
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
