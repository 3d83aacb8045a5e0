"""One benchmark process: set up the engine, run a workload's ops in a
closed loop, check every op's answer, write a JSON result.

Started by ``run.py`` as a fresh interpreter per run (and per set-up
probe), with the checkout on ``PYTHONPATH`` and the run's own warehouse,
Spark local dirs and temp dir in the environment. Not meant to be run
by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import time
import traceback

#: curation registry keys, run in this order in every pass
CURATION_KEYS = (
    "pipeline_curation",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment_corpus",
    "join_similarity_topk",
    "text_decontaminate",
    "dedup_paragraph",
)

#: CLI mode of each drift_drill op, in rotation
DRIFT_MODES = ("full", "hash", "merkle", "iblt")


class WrongAnswer(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise WrongAnswer(what)


def result_digest(pdf) -> str:
    """Order-insensitive digest of a result frame: columns sorted by name,
    cells rendered canonically, rows sorted (the oracle harness's rule)."""
    import datetime
    import math
    from decimal import Decimal

    def cell(v) -> str:
        if v is None:
            return "\\N"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if isinstance(v, Decimal):
            return str(v.normalize())
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if hasattr(v, "item"):  # numpy scalar
            return cell(v.item())
        return str(v)

    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(cell(v) for v in row)
        for row in pdf[cols].astype(object).where(pdf[cols].notna(), None).itertuples(index=False)
    )
    h = hashlib.sha256(("\x1e".join(cols) + "\x1d").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


class Run:
    def __init__(self, args, spark, tracer):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.inputs = args.inputs
        with open(os.path.join(self.inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.ops: list[dict] = []

    def span(self, label):
        return self.tracer.span(label) if self.tracer else contextlib.nullcontext()

    # -- compare ops (the calls scribedb_spark.cli makes for each mode) ------
    def op_compare(self, mode: str, rec: dict) -> None:
        from scribedb_spark import config, sources

        m = self.manifest
        t0 = time.monotonic()
        cfg = config.load_config(os.path.join(self.inputs, "compare.yaml"))
        if mode in ("full", "hash"):
            # full: `--out DIR -a` (diff rows, reports, changed columns);
            # hash: the per-chunk OK/NOK report
            res = config.run_compare_config(self.spark, cfg, with_chunks=(mode == "hash"))
            rec["verdict_s"] = time.monotonic() - t0
            out = None
            if mode == "full":
                diff = res.diff.collect() if not res.equal else []
                if self.args.workload == "drift_drill":
                    out = os.path.join(self.args.scratch, f"report-{len(self.ops)}")
                    sources.write_report(res.diff, f"{out}/diff")
                    if res.changed_cols is not None:
                        sources.write_report(res.changed_cols, f"{out}/changed_cols")
                changed = res.changed_cols.collect() if res.changed_cols is not None else []
            else:
                chunks = res.chunk_status.collect()
            rec["op_s"] = time.monotonic() - t0
            # -- checks, outside the timed op --
            rec["diff_rows"] = res.diff_count
            expect(res.src_rows == m["rows_src"] and res.tgt_rows == m["rows_tgt"], "row counts")
            if not m["diffs"]:
                expect(res.equal and res.diff_count == 0 and not diff, "clean pair not equal")
                return
            expect(not res.equal, "drifted pair reported equal")
            expect(res.diff_count == m["diff_count"], f"diff_count {res.diff_count}")
            if mode == "full":
                got = {str(r["row_id"]): {"change": r["change"], "cols": r["changed_cols"]} for r in changed}
                expect(got == m["diffs"], "changed_cols classes differ from the planted drift")
                expect(len(diff) == m["diff_count"], f"{len(diff)} diff rows")
                n_src = sum(1 for v in m["diffs"].values() if v["change"] in ("changed", "removed"))
                expect(sum(1 for r in diff if r["side"] == "src") == n_src, "diff rows per side")
                rec["bytes_written"] = sum(
                    os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs
                )
                back = self.spark.read.parquet(f"{out}/diff").count()
                back_cc = self.spark.read.parquet(f"{out}/changed_cols").count()
                expect(back == m["diff_count"] and back_cc == len(m["diffs"]), "reports read back")
                shutil.rmtree(out)
            else:
                nok = sorted(r["chunk_id"] for r in chunks if r["status"] == "NOK")
                rec["chunks_nok_ratio"] = len(nok) / len(chunks)
                expect(len(chunks) == m["n_chunks"], f"{len(chunks)} chunks")
                expect(nok == m["dirty_chunks"], f"NOK chunks {nok}")
        elif mode == "merkle":
            rows = config.run_merkle_config(self.spark, cfg).collect()
            rec["op_s"] = time.monotonic() - t0
            got = sorted(r["chunk_id"] for r in rows)
            rec["merkle_leaf_diff_ratio"] = len(got) / m["n_chunks"]
            expect(got == m["dirty_chunks"], f"merkle chunks {got}")
        elif mode == "iblt":
            rows = config.run_iblt_config(self.spark, cfg).collect()
            rec["op_s"] = time.monotonic() - t0
            got = {str(r[0]): r["change"] for r in rows}
            expect(got == {k: v["change"] for k, v in m["diffs"].items()}, "iblt keys")

    # -- curation op: one pass over a fresh corpus -----------------------------
    def op_curation(self, rec: dict) -> None:
        import gen
        from scribedb_spark import queries as Q
        from tracing import layer_of_module

        n = len(self.ops)
        corpus = os.path.join(self.inputs, f"corpus-{n}")
        gen.write_corpus(corpus, self.manifest["seed"] * 1000 + n, self.manifest["docs"])  # untimed
        t0 = time.monotonic()
        if n == 0:
            Q.load_extensions()  # lazy set-up a one-shot user pays
            if self.tracer:
                self.tracer.wrap_session_cache()
        rec["corpus"] = os.path.basename(corpus)
        rec["keys"] = {}
        rec["digests"] = {}
        busy = time.monotonic() - t0
        for key in CURATION_KEYS:
            fn = Q.REGISTRY[key].fn
            t = time.monotonic()
            with self.span(f"{layer_of_module(fn.__module__)}.{key}"):
                pdf = fn(self.spark, corpus).toPandas()
            dt = time.monotonic() - t
            busy += dt
            rec["keys"][key] = {"s": dt, "rows": len(pdf)}
            rec["digests"][key] = result_digest(pdf)  # untimed
        rec["op_s"] = busy

    def run_op(self, kind: str) -> dict:
        rec = {"i": len(self.ops), "kind": kind, "ok": False}
        if self.tracer:
            self.tracer.op = f"{rec['i']}-{kind}"
        started = time.time()
        try:
            with self.span(f"op.{kind}"):
                if kind == "curation":
                    self.op_curation(rec)
                else:
                    self.op_compare(kind, rec)
            rec["ok"] = True
        except WrongAnswer as e:
            rec["error"] = f"wrong answer: {e}"
        except Exception as e:  # an op that raises counts as failed; the loop goes on
            rec["error"] = "".join(traceback.format_exception_only(type(e), e)).strip()
            traceback.print_exc(file=sys.stderr)
        rec["start"], rec["end"] = started, time.time()
        rec.setdefault("op_s", rec["end"] - started)
        self.ops.append(rec)
        return rec

    def loop(self) -> None:
        a = self.args
        if a.workload == "clean_verdict":
            kinds = ["full"]
        elif a.workload == "drift_drill":
            kinds = list(DRIFT_MODES)
        else:
            kinds = ["curation"]
        t0 = time.monotonic()
        i = 0
        while True:
            self.run_op(kinds[i % len(kinds)])
            i += 1
            if time.monotonic() - t0 >= a.seconds and i >= a.min_ops:
                break


def main() -> int:
    t_spawn = float(os.environ["PERFBENCH_SPAWNED_AT"])
    p = argparse.ArgumentParser()
    p.add_argument("--probe", action="store_true", help="set up, report, exit")
    p.add_argument("--workload")
    p.add_argument("--inputs")
    p.add_argument("--scratch")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--min-ops", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    t0 = time.monotonic()
    import scribedb_spark  # noqa: F401

    t1 = time.monotonic()
    spark = scribedb_spark.get_spark(app_name="scribedb-compare")
    t2 = time.monotonic()
    res = {
        "setup_s": time.time() - t_spawn,
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
    }
    if args.probe:
        spark.stop()
        with open(args.out, "w") as f:
            json.dump(res, f)
        return 0

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, args.workload)
        tracer.install()
    run = Run(args, spark, tracer)
    run.loop()
    res["ops"] = run.ops
    if tracer:
        tracer.uninstall()
        res["spans"] = tracer.spans
        res["counts"] = {op: dict(c) for op, c in tracer.counts.items()}
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
