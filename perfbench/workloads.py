"""The workloads, one pass each, and the check of their outputs.

Every workload is a closed loop: one client issues the operator calls of
a pass back to back and receives each result (Arrow ``toPandas``). The
rows received are what the check compares with the oracles.

- ``snap_build``: the read-side spatial joins (kNN snap, radius
  prefilter, way cover, region and image tile covers), then the
  checkpointed build ``main.py`` ships, run into an empty build dir and
  resumed over the finished one. The build's ``pip_pairs`` stage is the
  point-in-polygon join of every image and its ``edges`` stage the
  extraction joins, so the pass covers candidate joins, the broadcast
  refine, parquet/bucketed writes and per-partition recounts.
- ``raster_dedup``: raster stamp -> trace contours, MinHash LSH near-dup
  pairs and brute-force cosine top-k: Python-group gathers. No kNN, PIP,
  tile, extract or checkpoint call runs, so a change to those layers must
  leave it flat.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

# workload -> (registered queries of a pass, whether the pass ends with the build)
WORKLOADS = {
    "snap_build": (["knn_nodes", "radius_join", "way_cover", "region_tiles", "image_tiles"], True),
    "raster_dedup": (["raster_contour", "minhash_lsh", "ann_cosine_topk"], False),
}
# published build stages checked against an oracle: stage -> registered query
BUILD_CHECKS = {"edges": "extract_edges", "pip_pairs": "pip_images"}


@dataclass
class Pass:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    build_s: float = 0.0
    resume_s: float = 0.0
    outputs: dict = field(default_factory=dict)  # query -> received pandas frame
    stats: list = field(default_factory=list)  # build stage metadata


def rows_of(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns by name, values as the
    ``str`` of the Python value."""
    cols = sorted(columns)
    return sorted(tuple(str(_py(r[c])) for c in cols) for r in rows)


def _py(v):
    return v.item() if hasattr(v, "item") else v


def frame_rows(pdf) -> list[tuple]:
    return rows_of(list(pdf.columns), pdf.to_dict("records"))


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def _report_error(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def run_pass(spark, workload: str, sf_dir: str, build_dir: str, tracer, idx: int) -> Pass:
    from butterfly_osm_spark import checkpoint
    from butterfly_osm_spark.queries import QUERIES

    steps, build = WORKLOADS[workload]
    spark.catalog.clearCache()
    shutil.rmtree(build_dir, ignore_errors=True)
    p = Pass()
    t0 = time.perf_counter()
    for name in steps:
        p.attempted += 1
        with tracer.step(name, idx):
            try:
                p.outputs[name] = QUERIES[name](spark, sf_dir).toPandas()
            except Exception:  # noqa: BLE001 - one failed call must not end the run
                p.failed += 1
                _report_error(name)
    if build:
        # build into an empty dir, then run the same build over it: every
        # stage must resume after its fingerprint and recount check
        n_stages = len(checkpoint.reference_pipeline(sf_dir))
        p.attempted += 2 * n_stages
        try:
            t1 = time.perf_counter()
            with tracer.step("build", idx):
                p.stats = checkpoint.Build(spark, build_dir).run(checkpoint.reference_pipeline(sf_dir))
            t2 = time.perf_counter()
            with tracer.step("resume", idx):
                resumed = checkpoint.Build(spark, build_dir).run(checkpoint.reference_pipeline(sf_dir))
            p.build_s, p.resume_s = t2 - t1, time.perf_counter() - t2
        except Exception:  # noqa: BLE001
            _report_error("build")
            p.failed += 2 * n_stages
            resumed = []
        built = {m["stage"]: m["row_count"] for m in p.stats}
        for m in resumed:
            if not m.get("resumed") or built.get(m["stage"]) != m["row_count"]:
                print(f"perfbench: stage {m['stage']} did not resume: {m}", file=sys.stderr)
                p.failed += 1
    p.wall_s = time.perf_counter() - t0
    return p


def output_rows(spark, p: Pass, build_dir: str) -> dict[str, list[tuple]]:
    """Canonical rows of every query result received in pass ``p`` and of
    the published build stages that have an oracle."""
    from butterfly_osm_spark import checkpoint

    out = {name: frame_rows(pdf) for name, pdf in p.outputs.items()}
    if p.stats:
        b = checkpoint.Build(spark, build_dir)
        for stage, query in BUILD_CHECKS.items():
            df = b.output(stage)
            out[f"build:{stage}"] = rows_of(df.columns, df.collect())
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


def published_bytes(build_dir: str) -> int:
    """Bytes of the published stage tables (checkpoint metadata excluded)."""
    return sum(
        dir_bytes(os.path.join(build_dir, d))
        for d in os.listdir(build_dir)
        if d != "_checkpoint" and os.path.isdir(os.path.join(build_dir, d))
    )


def build_input_bytes(fix: str) -> int:
    from butterfly_osm_spark import checkpoint

    raw = {i[4:] for s in checkpoint.reference_pipeline(fix) for i in s.inputs if i.startswith("raw:")}
    return sum(os.path.getsize(p) for p in raw)


# ---------------------------------------------------------------------------
# expected outputs
# ---------------------------------------------------------------------------


def expected(names: list[str], sf_dir: str, cache_dir: str) -> dict[str, tuple[int, str]]:
    """(row count, digest) of each output's DuckDB oracle over the seeded
    inputs, cached on disk by oracle text + input bytes. ``build:<stage>``
    names use the oracle of the registered query in ``BUILD_CHECKS``."""
    import duckdb

    from butterfly_osm_spark.queries import ORACLES
    from inputs import SF

    inputs_tag = hashlib.sha256()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(sf_dir, f), "rb") as fh:
                inputs_tag.update(f.encode() + hashlib.sha256(fh.read()).digest())
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name in names:
        query = BUILD_CHECKS[name.split(":", 1)[1]] if name.startswith("build:") else name
        sql = ORACLES[query](SF)
        key = hashlib.sha256(sql.encode() + inputs_tag.digest()).hexdigest()
        path = os.path.join(cache_dir, f"{query}-{key[:24]}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = tuple(json.load(f))
            continue
        if con is None:
            con = duckdb.connect()
            for view in ("documents", "embeddings"):
                con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM '{sf_dir}/{view}.parquet'")
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = rows_of(cols, [dict(zip(cols, r)) for r in rel.fetchall()])
        out[name] = (len(rows), digest(rows))
        with open(path + ".tmp", "w") as f:
            json.dump(out[name], f)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def mismatches(got: dict[str, list[tuple]], want: dict[str, tuple[int, str]]) -> list[str]:
    bad = []
    for name, rows in got.items():
        if (len(rows), digest(rows)) != want[name]:
            print(
                f"perfbench: {name} output differs from its oracle "
                f"({len(rows)} rows vs {want[name][0]} expected)",
                file=sys.stderr,
            )
            bad.append(name)
    return bad
