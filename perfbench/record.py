"""Record the reference outputs the benchmark checks against.

    python3 perfbench/record.py --seeds 0-31

For every listed seed, crawls the `crawl_floor` world once and stores its
per-wave (scheduled, new_urls, deduped) counters, order and seen-set
digests and result count; for the pipeline, stores each query's row count
and order-insensitive hash. Writes perfbench/expected.json. Re-record only
when a workload definition changes, and only from a commit whose outputs
are known to be right.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-31", help="inclusive range a-b")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    sys.path.insert(0, ROOT)
    from perfbench import common, crawl, pipeline

    work = os.path.join(ROOT, ".perfbench_work", f"record-{os.getpid()}")
    common.prepare_env(ROOT, work)
    try:
        spark = common.start_session(work)
        common.warm_python_workers(spark)
        out = {"pipeline_sf0.01": pipeline.check_pass(spark, list(pipeline.QUERIES))}
        common.log("pipeline recorded")

        cfg = crawl.workload_config()
        seeds = {}
        for seed in range(lo, hi + 1):
            spark.catalog.clearCache()
            world = crawl.World(spark, cfg, seed)
            op = crawl.crawl_once(spark, world, work, common.Spans())
            obs = crawl.observe(spark, op)
            crawl.release(spark, op)
            if crawl.check(obs, None):
                raise SystemExit(f"seed {seed}: {crawl.check(obs, None)}")
            obs.pop("bad_pixels")
            seeds[str(seed)] = obs
            common.log(f"seed {seed}: wall {op.wall_s:.2f}s urls {op.urls}")
        out["crawl_floor"] = {"config": cfg, "seeds": seeds}
        spark.stop()
    finally:
        common.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
