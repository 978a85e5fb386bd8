"""Seeded input generator for the benchmark.

Everything a run feeds the library is derived here from `--seed` and the
vendored base tables in `data/sf0.01` (a copy of the repository's sf0.01
synthetic tables, see TESTDATA.md):

  tables/   every base table with its rows permuted by the seed
  arrivals.txt  the stream's Poisson due times in seconds, at
            STREAM_RATE docs/s

Schemas pass through unchanged (pyarrow, so events.ts keeps its
timestamp unit), and every table is written as one file with one row
group, the layout `Tables.unsplittable` gates on.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
# generated inputs are cached per seed and version of this file
with open(os.path.abspath(__file__), "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
BASE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# the batch workload's queries, and the ETL queries the traced run probes
# (see README.md)
INGEST_PROBE = ["q01_reddit_filter", "q02_keyword_filter", "q12_orders_customer",
                "q26_quality_score", "q31_html_articles", "q33_zst_ndjson",
                "q40_multi_keyword", "q46_csv_header"]
CURATE = ["q18_exact_dedup", "q22_ann_cosine_topk", "q67_neardup_keepers"]
WORKLOADS = {"curate": CURATE, "stream": []}
# nominal seconds of one warm pass on 4 cores: a run makes
# floor(--seconds / PASS_S) timed passes (at least one), the same number
# whatever the host's speed, after WARM_PASSES untimed ones
PASS_S = {"curate": 3.0}
WARM_PASSES = 3
STREAM_RATE = 32.0     # offered docs/s of the stream's open-loop phase
STREAM_ARRIVALS = 4096  # Poisson offsets drawn (more than the corpus)


def generate(seed, out):
    """Write the inputs of `seed` under `out`
    (idempotent: a complete directory is left as it is)."""
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        return out
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "tables"), exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        table = table.take(pa.array(rng.permutation(table.num_rows), type=pa.int64()))
        pq.write_table(table, os.path.join(out, "tables", f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    arrivals = np.cumsum(rng.exponential(1.0 / STREAM_RATE, STREAM_ARRIVALS))
    with open(os.path.join(out, "arrivals.txt"), "w") as f:
        f.write(" ".join(f"{x:.6f}" for x in arrivals) + "\n")
    open(done, "w").close()
    return out
