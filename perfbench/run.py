#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see workloads.py and README.md) from the root of a
checkout, checks its outputs, and prints as the LAST stdout line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it, each starting with ``#``, give the
workload's detailed metrics by name, unit and sample count.

Everything the run writes goes under ``<checkout>/.perfbench/`` and is
removed at exit, except the span dump of a traced run
(``.perfbench/traces/``). Exits non-zero without a result when the run
fails, is signalled, or leaves a child process alive.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "build_cpu_s": "s",
    "query_cpu_ms": "ms",
}

# name -> unit; README.md lists the end-to-end metric and workload each
# one should move
PER_LAYER = {
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.cold_extra_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.build_jobs": "count",
    "spark.task_busy_frac": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "io.input_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "operators.model_writes.cold": "count",
    "operators.model_writes.warm": "count",
    "lsh.index.train_s": "s",
    "lsh.index.save_s": "s",
    "operators.scan_save_s": "s",
    "serve.reader_open_s": "s",
    "lsh.hasher.hash_ms": "ms/query",
    "lsh.hasher.probe_ms": "ms/query",
    "serve.pqindex.read_ms": "ms/query",
    "serve.pqindex.reads_per_query": "count/query",
    "serve.pqindex.rows_per_query": "rows/query",
    "serve.score_ms": "ms/query",
    "serve.rows_per_hit": "ratio",
    "serve.sharded.shard_max_ms": "ms/query",
    "serve.sharded.merge_ms": "ms/query",
    "streaming.drain_s": "s/cycle",
    "streaming.staleness_s": "s/cycle",
    "streaming.compact_s": "s/cycle",
    "streaming.actions.none": "count",
    "streaming.actions.compacted": "count",
    "streaming.actions.rebuilt": "count",
    "streaming.fragments.buckets": "count",
    "streaming.fragments.vectors": "count",
}


class Run:
    def __init__(self, args, harness, workloads) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = harness.cpu_count()
        self.session = harness.Session()
        self.tracer = harness.Tracer(self.trace)
        self.out = workloads.Outcome()
        self.dirs: dict[str, str] = {}


def _detail_metrics(run) -> list[dict]:
    """The workload's detailed metrics, by name and unit."""
    out, d = run.out, run.out.detail
    rows = [("setup_s", out.metrics.get("setup_s"), "s", None),
            ("pass_cpu_s", out.metrics["pass_cpu_s"], "s", None),
            ("error_rate", out.failed / max(1, out.attempted), "failed/attempted",
             out.attempted)]
    if "warm_pass_s" in d:
        rows += [("cold_pass_s", d["cold_pass_s"], "s", 1),
                 ("warm_pass_s", d["warm_pass_s"], "s", d["warm_passes"]),
                 ("warm_ann_s", d["warm_ann_s"], "s", d["warm_passes"]),
                 ("warm_curation_s", d["warm_curation_s"], "s", d["warm_passes"])]
    else:
        rows += [("build_s", d["build_s"]["wall"], "s", 1),
                 ("ingest_cycle_s", median(d["ingest_cycle_wall_s"]), "s",
                  len(d["ingest_cycle_wall_s"]))]
    for fam, st in d.get("latency_ms", {}).items():
        rows.append((f"{fam}_p50_ms", st["p50"], "ms", st["n"]))
        if st["tail"] is not None:
            p, v = st["tail"]
            rows.append((f"{fam}_p{p}_ms", v, "ms", st["n"]))
    if "batch_qps" in d:
        rows.append(("batch_qps", d["batch_qps"], "queries/s", None))
    if "ingest_rows_per_s" in d:
        rows.append(("ingest_rows_per_s", d["ingest_rows_per_s"], "rows/s", None))
    for fam, r in d.get("recall_at_10", {}).items():
        rows.append((f"{fam}_recall_at_10", r, "ratio", None))
    return [{"name": n, "value": v, "unit": u, "samples": s} for n, v, u, s in rows]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.dont_write_bytecode = True
    sys.path[:0] = [HERE, ROOT]
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    run = Run(args, harness, workloads)
    harness.install_signal_handlers(DEADLINE_S)
    ok = False
    try:
        run.dirs = harness.hermetic_env(ROOT, work, run.trace)
        os.chdir(work)  # stray relative writes land in the run's own root
        workloads.WORKLOADS[args.workload](run)
        ok = True
    except harness.Interrupted as exc:
        print(f"# run interrupted by {exc}", file=sys.stderr)
    except Exception:  # report any failure of the workload, then tear down
        traceback.print_exc()
    finally:
        harness.ignore_signals()
        run.session.teardown()
        os.chdir(ROOT)
        if run.trace:
            run.tracer.dump(os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    if run.session.survivors:
        print(f"# child processes survived teardown: {run.session.survivors}", file=sys.stderr)
        return 1
    if not ok:
        return 1

    out = run.out
    for e in out.errors:
        print(f"# check failed: {e}")
    print("# " + json.dumps({"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": run.trace,
                             "cores": run.cores, "metrics": _detail_metrics(run)}))
    print("# " + json.dumps({"detail": out.detail}, default=str))
    if run.trace:
        out.layers.update({k: 0 for k in PER_LAYER if k not in out.layers})
        print("# " + json.dumps({"end_to_end_traced": out.metrics}))
        metrics = {k: {"value": out.layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": out.metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": out.failed == 0 and not out.errors,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
