"""Seeded input generation for the benchmark workloads.

The base corpora in ``data/`` are byte copies of the repo's synthetic
``documents.parquet`` test tables (seed 42) at sf0.001 (500 docs),
sf0.01 (500 docs) and sf0.1 (5,000 docs), the inputs the repo's tests
and ``bench.py`` read.  They ship with the benchmark so that a run reads
nothing outside its checkout.

What the seed changes, and what it does not:

- every document's text is the base corpus's, so every seed does the
  same work;
- the seed chooses a doc_id replica offset ``(seed % 16) * 1e6`` (as
  ``bench.py``'s ``SPARK_GRAFT_REPLICATE`` offsets replicas) and a
  permutation of the rows, which move every id-derived value (planted
  entity pairs, candidate hashes, cluster ids) and every partition's
  contents.

The input is written as ``N_FILES`` parquet files, so a scan has
parallelism without a repartition inside the program.
"""

from __future__ import annotations

import os
import random

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
N_FILES = 16
REPLICA_STRIDE = 1_000_000


def doc_id_offset(seed: int) -> int:
    return (seed % 16) * REPLICA_STRIDE


def write_documents(out_dir: str, corpus: str, seed: int) -> tuple[str, int]:
    """Write ``{out_dir}/documents.parquet/`` (a directory of ``N_FILES``
    part files) from base corpus ``corpus``; return ``(out_dir, n_docs)``,
    ``out_dir`` being the ``sf_dir`` the pipeline reads."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(DATA, f"{corpus}_documents.parquet"))
    n_docs = base.num_rows
    base = base.set_column(
        base.schema.get_field_index("doc_id"),
        "doc_id",
        pc.add(base["doc_id"], doc_id_offset(seed)),
    )
    order = list(range(n_docs))
    random.Random(seed).shuffle(order)
    table_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(table_dir, exist_ok=True)
    chunk = -(-n_docs // N_FILES)
    for f in range(N_FILES):
        rows = pa.array(order[f * chunk:(f + 1) * chunk], pa.int64())
        pq.write_table(base.take(rows), os.path.join(table_dir, f"part-{f:05d}.parquet"))
    return out_dir, n_docs
