"""Per-query profiler for the optimization rounds: wall time, Spark job
count, task count, and shuffle volume per declared query, via a job group
per query and the status tracker REST-free API.

Usage: python tools/profile_queries.py [query ...]   (default: the headline entries)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
Writes JSON to $SPARK_GRAFT_PROFILE_OUT (default /tmp/profile_queries.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from slice_db_spark.plans import queries as Q
from slice_db_spark.session import get_spark


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    spark = get_spark("profile", cpus=cpus)
    sc = spark.sparkContext

    import bench

    names = sys.argv[1:] or Q.headline()
    qs = Q.queries()
    bench.warm_up(spark, cpus)

    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        group = f"prof:{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # keep profiling the rest
            out[name] = {"err": f"{type(e).__name__}: {e}"}
            continue
        finally:
            sc.setJobGroup(None, None)
        dt = time.time() - t0
        job_ids = tracker.getJobIdsForGroup(group)
        n_tasks = 0
        n_stages = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        out[name] = {
            "sec": round(dt, 3),
            "jobs": len(job_ids),
            "stages": n_stages,
            "tasks": n_tasks,
        }
        print(
            f"# {name}: {dt:.2f}s jobs={len(job_ids)} stages={n_stages} "
            f"tasks={n_tasks}",
            file=sys.stderr,
        )

    path = os.environ.get("SPARK_GRAFT_PROFILE_OUT", "/tmp/profile_queries.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"profiled": len(out), "out": path}))


if __name__ == "__main__":
    main()
