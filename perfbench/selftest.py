"""Benchmark self-test: on a tiny seeded ``batch`` corpus, the clusters the
benchmark's batch unit writes must equal the single-node reference pipeline
(``dedup.reference_impl.reference_pipeline``) exactly, and pass the same
output checks as a timed unit.

    python3 perfbench/selftest.py [--seed N]

Prints one JSON line and exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT]

from dedup.config import DedupConfig  # noqa: E402

# small enough for the reference's pure-Python LSH; band_bucket_cap is
# scaled down with it so one licence family still outgrows the cap and one
# takes the salted path, as the full-size batch corpus does at the default
TINY = dict(n_docs=80, exact=0.10, near=0.20, giant=0.30, hot=80, capped=120)
TINY_CONFIG = DedupConfig(band_bucket_cap=100)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args(argv)

    from dedup.reference_impl import reference_pipeline
    from perfbench import corpus
    from perfbench.run import WORK, start_spark, stop_spark
    from perfbench.workloads import Batch

    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pdf, truth, _ = corpus.build("batch", args.seed, TINY)
        layout = dict(corpus=os.path.join(work, "corpus"),
                      truth=os.path.join(work, "truth.parquet"))
        os.makedirs(layout["corpus"])
        pdf.to_parquet(os.path.join(layout["corpus"], "part-0.parquet"),
                       index=False)
        truth.to_parquet(layout["truth"], index=False)
        want = reference_pipeline(pdf, TINY_CONFIG)
        wl = Batch(layout, work, TINY_CONFIG)
        spark = start_spark("perfbench-selftest")
        try:
            d = wl.unit_dir()
            wl.unit(spark, d)
            verdict = wl.check(spark, d)
            from dedup.warehouse import Warehouse

            got = {r["doc_key"]: r["cluster_id"] for r in
                   Warehouse(spark, os.path.join(d, "wh"))
                   .read("clusters").collect()}
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    equal = got == want["clusters"]
    multi = sum(1 for k, c in want["clusters"].items() if k != c)
    print(json.dumps(dict(
        seed=args.seed, docs=len(pdf), clustered_docs=multi,
        dropped_buckets=want["dropped_buckets"],
        clusters_equal_reference=equal, checks_ok=verdict.ok,
        recall=verdict.recall, problems=verdict.problems)))
    return 0 if equal and verdict.ok else 1


if __name__ == "__main__":
    sys.exit(main())
