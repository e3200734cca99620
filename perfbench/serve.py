"""``serve`` workload: the stored semantic index and the operator suite.

1. ``build``  — ``build_semantic_index`` over the corpus, after the
   Python worker pool has been started (set-up, as a serving process
   does before it builds or serves);
2. ``query``  — a closed loop with one client issuing seeded
   ``semantic_search_stored(k=25)`` queries until ``--seconds`` pass;
   the first three warm the query path and are not timed, and at least
   five are timed.  Even queries are the text of a stored file's
   first chunk, which must come back at score 1.0; odd queries are
   short identifiers.  Every tenth operation, starting with the third,
   is instead a ``semantic_index_append`` of the corpus with a seeded
   ~1% of files changed, so queries pay the growing filestate log;
3. ``noop``   — ``semantic_index_append`` of the unchanged corpus, nine
   times;
4. ``suite``  — traced runs only: one pass over operator queries from
   ``__spark_entry__``, one per operator family, for the per-layer
   family metrics; every output is compared with its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import sys

import corpus_input
from common import ROOT, Clock, dir_mb, median, warm_workers, work_dir

# query -> family; each family's queries run operators of its layer
SUITE = {
    "tpch_q1_pricing": "relational",
    "a4_bm25_search": "text",
    "dedup_exact": "dedup",
    "dedup_passages": "curation",
    "triangle_count": "graph",
    "j2_cosine_topk": "embed",
}
TABLES = ("documents", "embeddings", "lineitem")
IDENTIFIERS = ("dup_fn", "f3_0", "C12", "def m1", "import os", "f10_2 helper", "class C4", "return y")
K = 25
NOOPS = 9
WARM_QUERIES, MIN_TIMED_QUERIES = 3, 5


def prepare(seed: int, smoke: bool) -> dict:
    import optables

    from sema_spark.corpus import generate_corpus

    corpus_input.register_scale()
    scale = corpus_input.SMOKE_SCALE if smoke else corpus_input.SCALE
    rows, _ = generate_corpus(scale)
    return {
        "rows": rows,
        "docs_dir": corpus_input.write_table(rows, seed, "serve"),
        "tables_dir": optables.write_tables(seed, smoke),
    }


def _docs(spark, path):
    return spark.read.parquet(path).select("repo", "path", "content")


def _live_generations_ok(spark, index_dir) -> bool:
    from pyspark.sql import functions as F

    from sema_spark.sources.ann_index import live_chunks

    return (
        live_chunks(spark, index_dir)
        .groupBy("repo", "path")
        .agg(F.countDistinct("_gen").alias("g"))
        .where(F.col("g") != 1)
        .limit(1)
        .count()
        == 0
    )


def run(ctx) -> None:
    from sema_spark.operators.chunker import chunk_and_embed, chunk_python
    from sema_spark.plans.pipeline import semantic_search
    from sema_spark.sources.ann_index import (
        build_semantic_index,
        live_chunks,
        semantic_index_append,
        semantic_search_stored,
    )

    spark, tracer, ledger, inp = ctx.spark, ctx.tracer, ctx.ledger, ctx.inputs
    rng = random.Random(ctx.seed)
    rows = list(inp["rows"])
    first_chunks = {}
    for r in rows:
        chunks = chunk_python(r.content)
        # semantic_search answers queries of <= 2 non-blank chars with no rows
        if chunks and len(chunks[0][3].strip()) > 2:
            first_chunks[(r.repo, r.path)] = chunks[0][3]
    n_chunks = sum(len(chunk_python(r.content)) for r in rows)
    index_dir = work_dir("index", fresh=True)
    timings = {k: [] for k in ("build", "query", "update", "noop")}

    t = Clock()
    warm_workers(spark)
    ctx.setup_extra_s = t.lap()

    tracer.phase = "build"
    op_id = ledger.begin("build")
    docs = _docs(spark, inp["docs_dir"])
    t = Clock()
    with tracer.span("ann_index.build"):
        build_semantic_index(docs, index_dir)
    timings["build"].append(t.lap())
    live = live_chunks(spark, index_dir).count()
    ledger.check(op_id, live == n_chunks, f"{live} live chunks, expected {n_chunks}")
    ctx.counts["ann_index.chunks"] = live

    docs_dir = inp["docs_dir"]
    touched: set = set()
    clock = Clock()
    op = 0
    queries_run: list[str] = []
    while len(timings["query"]) < MIN_TIMED_QUERIES or clock.lap() < ctx.seconds:
        if op % 10 == 2:
            tracer.phase = "update"
            rows, picked = corpus_input.touch_rows(rows, ctx.seed * 100 + op)
            touched.update((rows[i].repo, rows[i].path) for i in picked)
            docs_dir = corpus_input.write_table(rows, ctx.seed, "serve-current")
            op_id = ledger.begin("append")
            docs = _docs(spark, docs_dir)
            t = Clock()
            with tracer.span("ann_index.append"):
                n = semantic_index_append(docs, index_dir)
            timings["update"].append(t.lap())
            ledger.check(op_id, n == len(picked), f"append indexed {n} files, {len(picked)} changed")
            ledger.check(op_id, _live_generations_ok(spark, index_dir), "a file has != 1 live generation")
        else:
            tracer.phase = "query"
            if op % 2 == 0:
                key = rng.choice(sorted(k for k in first_chunks if k not in touched))
                query = first_chunks[key]
            else:
                query = rng.choice(IDENTIFIERS)
            op_id = ledger.begin("query")
            queries_run.append((op_id, query))
            t = Clock()
            with tracer.span("ann_index.query"):
                out = semantic_search_stored(spark, index_dir, query, k=K).collect()
            if len(queries_run) > WARM_QUERIES:
                timings["query"].append(t.lap())
            ledger.check(op_id, 0 < len(out) <= K, f"{len(out)} rows for k={K}")
            if op % 2 == 0 and out:
                ledger.check(
                    op_id, abs(out[0].score - 1.0) < 1e-9, f"self-text query scored {out[0].score}"
                )
        op += 1

    tracer.phase = "noop"
    for _ in range(NOOPS):
        op_id = ledger.begin("noop")
        docs = _docs(spark, docs_dir)
        t = Clock()
        with tracer.span("ann_index.noop"):
            n = semantic_index_append(docs, index_dir)
        timings["noop"].append(t.lap())
        ledger.check(op_id, n == 0, f"unchanged corpus appended {n} files")

    # one sampled query must equal in-plan search over a fresh chunk+embed
    tracer.phase = None
    op_id, query = rng.choice(queries_run)
    cols = ["repo", "path", "chunk_idx", "start_line", "end_line", "score", "matches_in_file"]
    stored = [tuple(r) for r in semantic_search_stored(spark, index_dir, query, k=K).select(*cols).collect()]
    fresh = chunk_and_embed(_docs(spark, docs_dir))
    in_plan = [tuple(r) for r in semantic_search(spark, fresh, query, k=K).select(*cols).collect()]
    ledger.check(op_id, stored == in_plan, "stored search differs from in-plan search")
    ctx.counts["ann_index.index_mb"] = dir_mb(index_dir)

    if tracer.enabled:
        tracer.phase = "suite"
        run_suite(ctx, inp["tables_dir"])
        tracer.phase = None

    ctx.metrics.update({f"{k}_s": median(timings[k]) for k in ("build", "noop", "query")})
    ctx.details["ops"] = op
    ctx.details["timings"] = timings


def run_suite(ctx, tables_dir: str) -> None:
    """One pass over :data:`SUITE`, timing each query (collecting its
    result as pandas) into ``ctx.query_seconds``."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry
    from check_oracles import rowset

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{tables_dir}/{t}.parquet')")
    for name in SUITE:
        # the registry's plain functions: queries() also ships a package
        # zip outside the checkout, which get_spark's PYTHONPATH makes moot
        fn = entry._REGISTRY[name]
        op_id = ctx.ledger.begin(name)
        t = Clock()
        try:
            with ctx.tracer.span(SUITE[name]):
                got = fn(ctx.spark, tables_dir).toPandas()
        except Exception as e:  # a failing query is counted, the suite goes on
            ctx.ledger.fail(op_id, f"raised {type(e).__name__}: {e}")
            continue
        ctx.query_seconds[name].append(t.lap())
        want = con.execute(oracles[name]).df()
        same = sorted(got.columns) == sorted(want.columns) and rowset(got) == rowset(want)
        ctx.ledger.check(op_id, same, "output differs from its DuckDB oracle")
    con.close()
