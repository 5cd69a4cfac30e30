#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
timing + explain("formatted") capture.  NOT part of the driver contract —
bench.py stays the frozen measurement harness; this file exists so plan/
timing evidence in OPTIMIZATION_r07.md is reproducible.

Usage:
  python bench_extra.py --queries q11_minhash_shingle,q18_lsh_candidate_pairs \
      --passes 3 --explain-dir plans/r07 --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, HEADLINE, SF_DIR  # noqa: E402 — one HEADLINE list


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    from deltoid_spark.queries import queries
    from deltoid_spark.session import get_spark

    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    spark = get_spark(cores=CPUS, app="bench-extra", shuffle_partitions=CPUS)
    catalog = queries()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # untimed warmup (JVM/codegen/python-worker startup), same as bench.py
    noop(catalog["q08_for_bitwidth"](spark, args.sf_dir))

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            df = catalog[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            noop(catalog[name](spark, args.sf_dir))
            samples[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    spark.stop()
    best = {n: min(v) for n, v in samples.items()}
    print(json.dumps({"sf_dir": args.sf_dir, "best": best, "samples": samples}))


if __name__ == "__main__":
    main()
