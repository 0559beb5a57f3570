"""MinHash signature-stage microbench: md5 (oracle-parity) vs xxhash64
(integer, at-scale) backends on the replicated corpus.

Signature cost is n_hashes × |shingle set| hash calls per document —
THE constant factor of the near-dup stack — so the backend knob is
benchmarked head-to-head and the table lands in BENCH/BASELINE.md's
companion section.  Forced via an aggregation over the signature array
(no write path, no candidate join: isolates the projection).

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
CPUs this process may run on), SPARK_GRAFT_REPLICATE (default 1: the
whole run takes under a minute on 4 CPUs), SPARK_GRAFT_RUNS (default
3).  Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    repl = int(os.environ.get("SPARK_GRAFT_REPLICATE", "1"))
    runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))
    # replicated_documents sizes its partitions from this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from pyspark.sql import functions as F

    from bench import replicated_documents
    from snorkel_spark.operators.dedup import minhash_signatures
    from snorkel_spark.session import get_spark

    spark = get_spark(app_name="bench_minhash", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs = replicated_documents(spark, sf_dir, repl).select("doc_id", "text")
    n_docs = docs.count()  # also warms the scan

    out: dict = {"n_docs": n_docs, "cpus": cpus, "replicate": repl}
    for backend in ("md5", "xxhash64"):
        walls = []
        for _ in range(runs):
            t0 = time.time()
            sigs = minhash_signatures(docs, n_hashes=128, shingle_n=3,
                                      hash_backend=backend)
            # force every signature element; result is a tiny scalar
            sigs.select(
                F.sum(F.expr("size(sig)")).alias("s")
            ).collect()
            walls.append(round(time.time() - t0, 3))
        out[f"{backend}_walls"] = walls
        out[f"{backend}_min"] = min(walls)
        out[f"{backend}_docs_per_sec"] = round(n_docs / min(walls), 1)
    out["speedup_xxhash64_vs_md5"] = round(out["md5_min"] / out["xxhash64_min"], 2)
    print(json.dumps(out))
    # persist for tools/bench_scaling.py's companion section
    bench_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "minhash.json"), "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
