"""Fixed cost of one Python task: N one-partition ``mapInArrow`` jobs whose
kernel imports ``miru_spark``, against N JVM-only one-partition jobs.

    python tools/python_task_cost.py [--jobs 10] [--cores N]

Run from the root of the checkout, so the Python workers import this
checkout's ``miru_spark``. Prints one JSON line: the median (and quartiles)
wall time of each kind of job, their difference (the per-task cost of
Python), the first Python job on its own (it also boots the worker
process), and, from one ``zipcache.probe`` task, the archive re-reads a
repeated ``importlib.invalidate_caches()`` costs in a worker and the number
of zipimporters it holds. A host probe (``tools/host_probe.py``) is taken
before and after.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _kernel(batches):
    import miru_spark  # noqa: F401  the import every engine kernel triggers

    yield from batches


def _wall(job) -> float:
    t = time.perf_counter()
    job()
    return time.perf_counter() - t


def _quartiles(xs: list[float]) -> dict:
    q1, q2, q3 = np.percentile(xs, [25, 50, 75])
    return {"p50": round(q2, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def main() -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=10, help="jobs of each kind (default 10)")
    ap.add_argument("--cores", type=int, default=None, help="local[N] (default: all)")
    args = ap.parse_args()

    import pyspark

    from miru_spark import zipcache
    from miru_spark.session import get_spark
    from tools.host_probe import BW_HEALTHY_GBPS, probe

    before = probe()
    spark = get_spark("python_task_cost", cores=args.cores)
    cores = spark.sparkContext.defaultParallelism
    one = spark.range(1, numPartitions=1)

    def python_job():
        one.mapInArrow(_kernel, one.schema).collect()

    def jvm_job():
        one.selectExpr("id + 1 AS id").collect()

    first = _wall(python_job)
    jvm_job()
    walls, order = {python_job: [], jvm_job: []}, [python_job, jvm_job]
    for _ in range(args.jobs):
        for job in order:
            walls[job].append(_wall(job))
        order.reverse()  # alternate which kind runs first, so drift hits both alike
    row = one.mapInArrow(zipcache.probe, zipcache.PROBE_SCHEMA).collect()[0]
    spark.stop()
    after = probe()

    py, jvm = _quartiles(walls[python_job]), _quartiles(walls[jvm_job])
    result = {
        "jobs": args.jobs,
        "cores": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "first_python_job_s": round(first, 3),
        "python_job_s": py,
        "jvm_job_s": jvm,
        "python_task_cost_s": round(py["p50"] - jvm["p50"], 3),
        "worker_re_reads": row.re_reads,
        "worker_zipimporters": row.zipimporters,
        "host_probe": {"before": before, "after": after},
        "host_healthy": min(before["bw_gbps"], after["bw_gbps"]) >= BW_HEALTHY_GBPS,
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
