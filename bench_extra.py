"""Ad-hoc per-query timing harness for optimization work (guide §1.4).

NOT the driver bench (bench.py is frozen — its methodology and query set
are the measured contract); this runs an arbitrary subset of registry
queries through the same noop-sink methodology, with optional repeats,
so A/B experiments can be run back-to-back inside one window:

    python bench_extra.py [-r N] query [query ...]

Prints one JSON line per run: {"queries": {name: [sec, ...]}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = [a for a in sys.argv[1:]]
    reps = 1
    if "-r" in args:
        i = args.index("-r")
        reps = int(args[i + 1])
        del args[i:i + 2]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dataquality_spark import queries as Q
    from dataquality_spark.session import get_spark

    spark = get_spark(app_name="dq_bench_extra", master=f"local[{cpus}]")

    out: dict[str, list[float]] = {}
    for rep in range(reps):
        for name in args:
            fn = Q.QUERIES[name]
            spark.sparkContext.setJobDescription(f"extra:{name}#{rep}")
            t0 = time.time()
            res = fn(spark, sf_dir)
            obs = Observation()
            (res.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            dt = round(time.time() - t0, 3)
            n = obs.get["n"]
            Q.release_cached(res)
            out.setdefault(name, []).append(dt)
            log(f"[{rep}] {name}: {dt}s ({n} rows)")
    print(json.dumps({"queries": out, "sf_dir": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
