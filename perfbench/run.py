"""sema_spark end-to-end benchmark.

    python3 perfbench/run.py --workload {kg,serve} --seed N --seconds S --trace {0,1}

Runs one workload in a fresh process on ``local[nproc]`` with the
session defaults of ``sema_spark.session.get_spark``, checks every
output, prints each metric with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones from span-tagged Spark jobs (see ``spans.py``).  ``--smoke`` runs
the same code on tiny inputs.  See ``README.md`` for the workloads,
metrics and baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from spans import FIELDS, Tracer  # noqa: E402

WORKLOADS = ("serve", "kg")

END_TO_END = {"build_s": "s", "noop_s": "s", "query_s": "s", "setup_s": "s"}
TIMED = ("build_s", "noop_s", "query_s")

KG_LAYERS = ("pipeline", "mentions", "linking", "canonicalize.nodes", "canonicalize.edges")
FAMILIES = ("relational", "text", "dedup", "curation", "graph", "embed")
STAGE_COUNTS = (
    "mentions.triples",
    "linking.rows",
    "canonicalize.nodes.rows",
    "canonicalize.edges.rows",
    "materialize.cuts",
    "checkpoint.write_mb",
)


def layer_spans():
    """(span, fields) for every span the per-layer output reports."""
    spans = [f"{phase}.{layer}" for phase in ("build", "noop") for layer in KG_LAYERS]
    spans += ["who_imports", "ann_index.build", "ann_index.query", "ann_index.append", "ann_index.noop"]
    spans += ["encoder.query", *FAMILIES]
    return [(s, FIELDS) for s in spans]


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name and its unit."""
    import serve

    units = {"self_s": "s", "jobs": "count", "single_task_stages": "count", "executor_s": "s", "shuffle_mb": "MB"}
    out = {f"{span}.{f}": units[f] for span, fields in layer_spans() for f in fields}
    for c in STAGE_COUNTS:
        out[f"build.{c}"] = "MB" if c.endswith("_mb") else "count"
    out["noop.materialize.cuts"] = "count"
    out["noop.checkpoint.write_mb"] = "MB"
    out["ann_index.chunks"] = "count"
    out["ann_index.index_mb"] = "MB"
    out.update({f"{q}.s": "s" for q in sorted(serve.SUITE)})
    out["process.peak_rss_mb"] = "MB"
    out["trace.overhead_pct"] = "%"
    return out


class Context:
    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, inputs: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.inputs = inputs
        self.ledger = common.Ledger()
        self.metrics: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.details: dict = {}
        self.query_seconds: dict[str, list[float]] = defaultdict(list)
        # set-up a workload does inside its run, such as starting workers
        self.setup_extra_s = 0.0

    def record_stage_counts(self, phase: str, run, write_mb: float) -> None:
        self.counts[f"{phase}.mentions.triples"] = run.triples.output_rows
        self.counts[f"{phase}.linking.rows"] = run.linked.output_rows
        self.counts[f"{phase}.canonicalize.nodes.rows"] = run.nodes.output_rows
        self.counts[f"{phase}.canonicalize.edges.rows"] = run.edges.output_rows
        self.counts[f"{phase}.checkpoint.write_mb"] = round(write_mb, 4)


def _untraced_timed_sum(log: str) -> float | None:
    """Median, over the untraced runs recorded in this checkout, of the
    summed timed metrics — the base of the tracing overhead."""
    path = os.path.join(common.WORK, "results", f"{log}.jsonl")
    if not os.path.exists(path):
        return None
    sums = []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if not rec["trace"] and rec["correct"]:
                sums.append(sum(rec["metrics"][k] for k in TIMED))
    return common.median(sums) if sums else None


def _record(log: str, record: dict) -> None:
    path = os.path.join(common.work_dir("results"), f"{log}.jsonl")
    with open(path, "a") as f:
        f.write(json.dumps(record) + "\n")


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> dict:
    common.require_program()
    common.confine_scratch()
    steal0 = common.cpu_ticks()
    setup = common.Clock()
    tracer = Tracer(trace)
    tracer.patch_materialize()  # before any operator module is imported
    event_dir = common.work_dir("eventlog", fresh=True) if trace else None
    spark = common.start_session(event_dir)
    tracer.attach(spark)
    tracer.patch_pipeline()
    tracer.patch_encoder()
    session_s = setup.lap()

    import kg
    import serve

    module = {"kg": kg, "serve": serve}[workload]
    prep = []
    for _ in range(3):
        t = common.Clock()
        inputs = module.prepare(seed, smoke)
        prep.append(t.lap())
    ctx = Context(spark, tracer, seed, seconds, inputs)
    try:
        module.run(ctx)
        ctx.metrics["setup_s"] = session_s + common.median(prep) + ctx.setup_extra_s
        ctx.details["setup"] = {"session_s": session_s, "prepare_s": prep, "extra_s": ctx.setup_extra_s}
        ctx.details["query_seconds"] = dict(ctx.query_seconds)
        ctx.counts["process.peak_rss_mb"] = round(common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)]), 1)
        env = common.environment(spark, steal0)
    finally:
        common.stop_session(spark)

    log = f"{workload}-smoke" if smoke else workload
    result = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "correct": ctx.ledger.failed == 0,
        "attempted": ctx.ledger.attempted,
        "failed": ctx.ledger.failed,
        "failures": ctx.ledger.messages,
        "metrics": {k: round(v, 6) for k, v in ctx.metrics.items()},
        "env": env,
        "details": ctx.details,
    }
    if trace:
        names = per_layer_names()
        layers = tracer.layer_metrics(event_dir, layer_spans())
        for phase in ("build", "noop"):
            layers[f"{phase}.materialize.cuts"] = tracer.counts.get(f"{phase}.materialize.cuts", 0)
        layers.update(ctx.counts)
        for q, secs in ctx.query_seconds.items():
            layers[f"{q}.s"] = round(common.median(secs), 6)
        base = _untraced_timed_sum(log)
        timed = sum(ctx.metrics[k] for k in TIMED)
        layers["trace.overhead_pct"] = round(100.0 * (timed / base - 1.0), 3) if base else 0.0
        result["layers"] = {name: layers.get(name, 0) for name in names}
        result["tracing"] = {"traced_timed_s": timed, "untraced_timed_s": base}
    _record(log, result)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same code paths")
    args = ap.parse_args(argv)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    except common.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for msg in res["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    print(f"# {res['workload']} seed={res['seed']} trace={int(res['trace'])} env={json.dumps(res['env'])}")
    print(f"fail_ratio {res['failed'] / res['attempted']:.4f} ({res['failed']}/{res['attempted']} operations)")
    if args.trace:
        units = per_layer_names()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
