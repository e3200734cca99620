"""The generated ``(repo, path, commit, lang, content)`` input table.

Rows come from ``sema_spark.corpus`` at a scale registered here; the
seed only permutes how rows are laid out across the parquet files.
Input directories are named by a digest of the rows and the layout, so
a generator change can never be served a stale table.
"""

from __future__ import annotations

import math
import os
import random

from common import tables_digest, work_dir

# (n_repos, base_modules_per_repo, monorepo_factor, body_factor)
SCALE = "perfbench"
SCALE_PARAMS = (10, 32, 4, 2)
SMOKE_SCALE = "xs"

_COMMENT = {"py": "# perfbench touch\n"}


def register_scale() -> None:
    from sema_spark import corpus

    corpus.SCALES.setdefault(SCALE, SCALE_PARAMS)


def write_table(rows, seed: int, name: str) -> str:
    """Write ``rows`` (FileRow-like) as parquet files in a seeded order
    and return the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = list(range(len(rows)))
    random.Random(seed).shuffle(order)
    cols = ("repo", "path", "commit", "lang", "content")
    schema = pa.schema([pa.field(c, pa.string(), nullable=(c == "content")) for c in cols])
    table = pa.table({c: [getattr(rows[i], c) for i in order] for c in cols}, schema=schema)
    out = work_dir("inputs", f"{name}-{tables_digest({name: table})}", fresh=True)
    n_files = max(8, min(128, table.num_rows // 400))
    per = math.ceil(table.num_rows / n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per), os.path.join(out, f"part-{k:05d}.parquet"))
    return out


def touch_rows(rows, seed: int, share: float = 0.01):
    """Append a trailing comment line to a seeded ``share`` of the
    module files.  The comment changes ``content_sha`` but no triple.
    Returns (new rows, indexes of the touched rows)."""
    from dataclasses import replace

    from sema_spark.corpus import _EDGE_FILES

    edge_paths = {p for p, _ in _EDGE_FILES}
    candidates = [
        i for i, r in enumerate(rows) if r.path not in edge_paths and r.content.endswith("\n")
    ]
    n = max(1, round(len(rows) * share))
    picked = sorted(random.Random(seed * 7919 + 1).sample(candidates, n))
    out = list(rows)
    for i in picked:
        r = rows[i]
        out[i] = replace(r, content=r.content + _COMMENT.get(r.lang, "// perfbench touch\n"))
    return out, picked
