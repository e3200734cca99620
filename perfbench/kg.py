"""``kg`` workload: the knowledge-graph batch job.

1. ``build`` — a cold ``run_pipeline`` into an empty base: the first
   job of a fresh session, as a scheduled batch build runs;
2. ``noop``  — ``run_pipeline(incremental_link=True)`` again on the same
   input, five times: the change-set counts, fingerprints and skips
   every scheduled re-run pays;
3. ``query`` — seven ``who_imports`` lineage lookups on the built graph.

Every output is checked against ``sema_spark.corpus``'s construction-time
truth.  Cycles repeat, each on a fresh base, until ``--seconds`` pass.
"""

from __future__ import annotations

import hashlib
import random
import shutil

import corpus_input
from common import Clock, dir_mb, median, work_dir

NOOPS, LOOKUPS = 5, 7


def prepare(seed: int, smoke: bool) -> dict:
    from sema_spark.corpus import generate_corpus

    corpus_input.register_scale()
    scale = corpus_input.SMOKE_SCALE if smoke else corpus_input.SCALE
    rows, triples = generate_corpus(scale)
    return {"scale": scale, "rows": rows, "triples": triples, "src_dir": corpus_input.write_table(rows, seed, "kg")}


def check_build(spark, base, inp, expected, ledger, op) -> None:
    from sema_spark.plans.pipeline import read_edges, read_triples

    edges = {tuple(r) for r in read_edges(spark, base).select("src", "pred", "dst").distinct().collect()}
    ledger.check(op, edges == expected, "edges != corpus.expected_edges(scale)")
    rows = read_triples(spark, base).select("subj", "pred", "obj", "repo", "path", "content_sha").collect()
    got = {(r.subj, r.pred, r.obj) for r in rows}
    want = inp["triples"]
    hit = len(got & want)
    precision, recall = hit / max(len(got), 1), hit / max(len(want), 1)
    ledger.check(op, precision >= 0.95 and recall >= 0.95, f"triples P={precision:.4f} R={recall:.4f}")
    sha = {(r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest() for r in inp["rows"]}
    bad = {(r.repo, r.path) for r in rows if sha.get((r.repo, r.path)) != r.content_sha}
    ledger.check(op, not bad, f"{len(bad)} files whose triples carry a wrong content_sha")


def run(ctx) -> None:
    from sema_spark.corpus import expected_edges
    from sema_spark.plans.pipeline import run_pipeline, who_imports

    spark, tracer, ledger, inp = ctx.spark, ctx.tracer, ctx.ledger, ctx.inputs
    expected = expected_edges(inp["scale"])
    imported = sorted({d for _, p, d in expected if p == "imports" and not d.startswith("ext:")})
    timings = {k: [] for k in ("build", "noop", "query")}
    clock = Clock()
    cycle = 0
    while cycle == 0 or clock.lap() < ctx.seconds:
        base = work_dir("kg-base", fresh=True)
        rng = random.Random(ctx.seed * 1000 + cycle)
        src = spark.read.parquet(inp["src_dir"])

        tracer.phase = "build"
        op = ledger.begin("build")
        t = Clock()
        with tracer.span("build.pipeline"):
            r = run_pipeline(spark, src, base)
        timings["build"].append(t.lap())
        ctx.record_stage_counts("build", r, dir_mb(base))
        check_build(spark, base, inp, expected, ledger, op)

        tracer.phase = "noop"
        for _ in range(NOOPS):
            op = ledger.begin("noop")
            before = dir_mb(base)
            t = Clock()
            with tracer.span("noop.pipeline"):
                r = run_pipeline(spark, src, base, incremental_link=True)
            timings["noop"].append(t.lap())
            ctx.counts["noop.checkpoint.write_mb"] = round(dir_mb(base) - before, 4)
            ledger.check(op, not r.any_work, "no-op rerun did work")

        tracer.phase = "query"
        for module in rng.sample(imported, LOOKUPS):
            op = ledger.begin("who_imports")
            t = Clock()
            with tracer.span("who_imports"):
                got = {row.src for row in who_imports(spark, base, module).collect()}
            timings["query"].append(t.lap())
            want = {s for s, p, d in expected if p == "imports" and d == module}
            ledger.check(op, got == want, f"who_imports({module}) mismatch")

        tracer.phase = None
        cycle += 1

    shutil.rmtree(work_dir("kg-base"), ignore_errors=True)
    ctx.metrics.update({f"{k}_s": median(v) for k, v in timings.items()})
    ctx.details["cycles"] = cycle
    ctx.details["timings"] = timings
