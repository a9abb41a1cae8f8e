#!/usr/bin/env python
"""Per-query isolation bench + plan capture (guide §1.4) — NOT the driver
bench. bench.py stays frozen; this file exists so optimization-round
measurements (noop-sink isolation, repeated minima, .explain capture)
never touch the timed protocol.

Usage:
  python bench_extra.py time <query> [<query> ...] [--passes N]
  python bench_extra.py explain <query> [...]   # writes plans/r06/<q>_<tag>.txt
  python bench_extra.py explain --tag after <query> [...]
  python bench_extra.py jobs <query> [<query> ...]

``jobs`` runs each query once (noop sink, one job group per query) and
prints, from ``sc.statusTracker()``, the jobs it launched (its own driver
actions included), the stages that ran (skipped stages not counted) and
how many of those ran as a single task, per query and in total.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the usable cores, session.default_cpus), SPARK_GRAFT_PLAN_TAG
(default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    args = sys.argv[1:]
    mode = args.pop(0)
    passes = 2
    tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i : i + 2]
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    names = args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from butterfly_osm_spark.fixtures.generate import ensure_fixtures
    from butterfly_osm_spark.queries import QUERIES
    from butterfly_osm_spark.session import default_cpus, get_spark

    cpus = default_cpus()

    sf = os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf")
    ensure_fixtures(sf)
    spark = get_spark(
        app_name=f"butterfly-osm-extra-{cpus}",
        master=f"local[{cpus}]",
    )
    from pyspark.sql import functions as F

    # same warm-up as bench.py (JIT, codegen, python worker pool)
    spark.range(100000).select(F.sum(F.hash("id"))).collect()
    spark.range(64, numPartitions=32).groupBy("id").applyInPandas(lambda p: p, "id long").count()

    if mode == "explain":
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"explain {name}")
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            path = f"plans/r06/{name}_{tag}.txt"
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)", file=sys.stderr)
        spark.stop()
        return

    if mode == "jobs":
        sc = spark.sparkContext
        st = sc.statusTracker()
        counts: dict[str, dict[str, int]] = {}
        for name in names:
            spark.catalog.clearCache()
            sc.setJobGroup(f"jobs-{name}", f"jobs {name}")
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            jobs = st.getJobIdsForGroup(f"jobs-{name}")
            stage_ids = {sid for j in jobs for sid in st.getJobInfo(j).stageIds}
            ran = [i for i in map(st.getStageInfo, stage_ids) if i is not None and i.numCompletedTasks > 0]
            counts[name] = {
                "jobs": len(jobs),
                "stages": len(ran),
                "single_task_stages": sum(i.numTasks == 1 for i in ran),
            }
            print(f"  {name}: {counts[name]}", file=sys.stderr)
        counts["total"] = {k: sum(c[k] for c in counts.values()) for k in ("jobs", "stages", "single_task_stages")}
        print(json.dumps(counts))
        spark.stop()
        return

    times: dict[str, list[float]] = {}
    for p in range(passes):
        for name in names:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"time {name} pass{p}")
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
            times.setdefault(name, []).append(t)
            print(f"  pass{p} {name}: {t}s", file=sys.stderr)
    out = {n: {"min": min(v), "samples": v} for n, v in times.items()}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
