"""spark-submit entry point: the checkpointed build pipeline + flagship query.

Ship:  scripts/submit.sh  (zips the package, runs spark-submit --py-files)

    spark-submit --py-files butterfly_osm_spark.zip \
        butterfly_osm_spark/main.py --sf 0.01 --build-dir /tmp/butterfly_build

Runs the step-1..3-analog resumable build (checkpoint.reference_pipeline)
over the deterministic fixtures, whose last stages are the flagship PIP
join of every image (``pip_pairs``) and the turn-restriction arcs, and
prints one JSON line of per-stage lineage and the PIP pair count, both
read from the stage metadata (no Spark job). Re-running resumes from the
checkpoint (fingerprint-chained skip).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--build-dir", default="/tmp/butterfly_build")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from butterfly_osm_spark.checkpoint import Build, reference_pipeline
    from butterfly_osm_spark.fixtures.generate import ensure_fixtures
    from butterfly_osm_spark.session import get_spark

    spark = get_spark(app_name="butterfly-osm-spark-build", master=args.master)
    fix = ensure_fixtures(args.sf)
    build = Build(spark, args.build_dir)
    stats = build.run(reference_pipeline(fix))
    pip_rows = next(m["row_count"] for m in stats if m["stage"] == "pip_pairs")
    print(
        json.dumps(
            {
                "stages": [
                    {
                        "stage": m["stage"],
                        "row_count": m["row_count"],
                        "n_files": len(m["files"]),
                        "resumed": m["resumed"],
                        "wall_s": m["wall_s"],
                    }
                    for m in stats
                ],
                "pip_pairs": pip_rows,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
