"""Self-test of the span recorder's Spark counters.

    python3 perfbench/selftest.py

Starts its own local session with ``spark.ui.retainedJobs`` and
``spark.ui.retainedStages`` set to 20, runs more than that many jobs
first, then checks that spans report exact job, stage and task counts
for plans whose shape is known, that nesting sums children into
parents, and that jobs started from a plain thread inside a span are
reported as unattributed rather than dropped or misattributed. Prints
one JSON line and exits 0 only if every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import spans  # noqa: E402

RETAINED = 20


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedJobs", str(RETAINED))
             .config("spark.ui.retainedStages", str(RETAINED))
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .getOrCreate())
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    checks = {}
    try:
        for _ in range(RETAINED * 2):  # evict: more than retainedJobs jobs
            sc.parallelize(range(4), 1).count()
        rec = spans.Recorder(spark)
        with rec.span("known") as known:
            for _ in range(3):  # 3 jobs x 1 stage x 2 tasks
                sc.parallelize(range(8), 2).count()
        checks["jobs_after_eviction"] = (known.jobs, 3)
        checks["stages"] = (known.stages, 3)
        checks["tasks"] = (known.tasks, 6)
        with rec.span("outer") as outer:
            sc.parallelize(range(8), 2).count()
            with rec.span("inner") as inner:
                sc.parallelize(range(8), 2).count()
                # a shuffle: one job, two stages, 2 + 3 tasks
                sc.parallelize(range(8), 2).map(lambda x: (x % 3, 1)) \
                    .reduceByKey(lambda a, b: a + b, 3).collect()
        checks["inner_jobs"] = (inner.jobs, 2)
        checks["inner_stages"] = (inner.stages, 3)
        checks["outer_jobs_inclusive"] = (outer.jobs, 3)
        checks["outer_self_s_le_s"] = (outer.self_s <= outer.s, True)
        with rec.span("pool") as pool:
            sc.parallelize(range(8), 2).count()
            t = threading.Thread(
                target=lambda: [sc.parallelize(range(4), 1).count()
                                for _ in range(2)])
            t.start()
            t.join()
        checks["pool_span_jobs"] = (pool.jobs, 1)
        checks["unattributed"] = (rec.finish(), 2)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    ok = all(got == want for got, want in checks.values())
    print(json.dumps({"ok": ok, "checks": {k: {"got": g, "want": w}
                                           for k, (g, w) in checks.items()}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
