"""Compute the kept-set digests that corpus_dedup pins per seed: the
doc_ids the streaming ingest sink keeps from the warm-up files of the
seed's corpus. Run from the root of a checkout and paste the printed
object into ``spec.json`` (corpus_dedup.stream.pinned_kept_digests):

    python3 perfbench/pin_digests.py --seeds 0-45
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import workloads
    from spark_setup import cold_setup, shutdown, spark_env
    from stability import seeds_arg
    from trace import Tracer

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    args = ap.parse_args()
    work = os.path.join(os.getcwd(), ".bench_work", f"pin-{os.getpid()}")
    spark = None
    try:
        spark_env(work)
        digests = {}
        for seed in args.seeds:
            seed_work = os.path.join(work, str(seed))
            workloads.generate("corpus_dedup", seed, seed_work)
            if spark is None:
                spark, _ = cold_setup(os.path.join(seed_work, "inputs"), work)
            out = workloads.Outcome()
            ctx = workloads.Ctx(spark, seed, 0, False, seed_work, Tracer(spark), {})
            ingest = workloads.Ingest(ctx, out)
            failure = ingest.warm_up()
            if failure is not None:
                raise RuntimeError(failure)
            digests[str(seed)] = ingest.kept()[1]
            print(f"seed {seed}: {digests[str(seed)]}", file=sys.stderr, flush=True)
        print(json.dumps(digests))
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
