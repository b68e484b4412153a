"""Input tables for the corpus_ops workload.

`data/documents.parquet` (5000 rows: doc_id, text, lang, source, n_chars) and
`data/embeddings.parquet` (2000 rows: vec_id, embedding float[64], label) are
byte-for-byte copies of the `documents` and `embeddings` tables of the sf0.1
test corpus the corpus queries are written against. Their content is fixed.
The run's seed only permutes the row order and chooses how the rows are split
over files, so every seed must give the same query results.
"""
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
TABLES = ("documents", "embeddings")


def write(out_dir, seed):
    """Writes `<out_dir>/<table>.parquet/part-*.parquet`: the rows in a
    seed-chosen order, split over 1 to 4 files."""
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = pq.read_table(DATA / f"{name}.parquet")
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        perm = rng.permutation(t.num_rows)
        parts = np.array_split(perm, int(rng.integers(1, 5)))
        for k, idx in enumerate(parts):
            pq.write_table(t.take(pa.array(idx)), os.path.join(d, f"part-{k:05d}.parquet"))
    return out_dir
