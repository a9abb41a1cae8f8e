"""Resume semantics: rerun skips, corruption re-runs stage + downstream,
outputs identical (the reference's lock-file + lazy-CRC contract)."""

import ast
import datetime
import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import butterfly_osm_spark
from butterfly_osm_spark.checkpoint import Build, reference_pipeline
from butterfly_osm_spark.session import part_files, read_parquet

from .conftest import group_job_ids


def _run(spark, fix, build_dir):
    b = Build(spark, build_dir)
    stats = b.run(reference_pipeline(fix))
    return b, stats


@pytest.fixture(scope="module")
def built(spark, fix001, tmp_path_factory):
    """One finished build shared read-only by this module's tests: its dir,
    its stage stats and its final pip pairs. Tests that resume or corrupt
    a build work on a copy (``_copy``)."""
    bd = str(tmp_path_factory.mktemp("ckpt") / "build")
    b, stats = _run(spark, fix001, bd)
    pairs = sorted(map(tuple, b.output("pip_pairs").collect()))
    return bd, stats, pairs


def _copy(built, tmp_path):
    bd = str(tmp_path / "build")
    shutil.copytree(built[0], bd)
    return bd


def test_resume_skips_everything(spark, fix001, built, tmp_path):
    """A resume over a finished build skips every stage with identical
    counts and launches no Spark job: counts and schemas come from the
    recorded metadata and the parquet footers."""
    bd = _copy(built, tmp_path)
    s1 = built[1]
    assert all(not m["resumed"] for m in s1)
    sc = spark.sparkContext
    group = f"resume-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "resume pass")
    try:
        _, s2 = _run(spark, fix001, bd)
        jobs = group_job_ids(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(m["resumed"] for m in s2)
    assert [m["row_count"] for m in s1] == [m["row_count"] for m in s2]
    assert list(jobs) == [], f"resume launched Spark jobs {list(jobs)}"


def _remove_dir(d):
    shutil.rmtree(d)


def _truncate_part(d):
    p = os.path.join(d, part_files(d)[0])
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) // 2)


def _delete_part(d):
    os.remove(os.path.join(d, part_files(d)[0]))


def _add_stray_part(d):
    stray = os.path.join(d, "part-99999-stray.c000.parquet")
    shutil.copy(os.path.join(d, part_files(d)[0]), stray)


def test_build_releases_stage_results(spark, fix001, tmp_path):
    """A build leaves no newly persisted RDD behind: ``pip_pairs`` returns
    pip_join's own cached frame, and ``run_stage`` unpersists every stage
    result once its write commits."""
    from .conftest import persistent_rdd_ids

    before = persistent_rdd_ids(spark)
    _run(spark, fix001, str(tmp_path / "build"))
    assert not (persistent_rdd_ids(spark) - before), "a stage result stayed cached"


@pytest.mark.parametrize(
    "stage,corrupt,downstream",
    [
        ("edges", _remove_dir, []),
        ("image_cells", _truncate_part, ["pip_pairs"]),
        ("image_cells", _delete_part, ["pip_pairs"]),
        ("image_cells", _add_stray_part, ["pip_pairs"]),
    ],
    ids=[
        "edges-dir-removed",
        "image_cells-part-truncated",
        "image_cells-part-deleted",
        "image_cells-stray-part",
    ],
)
def test_corruption_recomputes_stage(spark, fix001, built, tmp_path, stage, corrupt, downstream):
    """Lazy verify must catch a damaged published table, recompute it and
    everything downstream of it, and reproduce the same final pairs."""
    bd = _copy(built, tmp_path)
    corrupt(os.path.join(bd, stage))
    b2, s2 = _run(spark, fix001, bd)
    redone = {m["stage"] for m in s2 if not m["resumed"]}
    assert redone == {stage, *downstream}
    final2 = sorted(map(tuple, b2.output("pip_pairs").collect()))
    assert built[2] == final2


def test_version_bump_invalidates_downstream(spark, fix001, built, tmp_path):
    bd = _copy(built, tmp_path)
    stages = reference_pipeline(fix001)
    for s in stages:
        if s.name == "nodes_sorted":
            s.version = s.version + ".bump"  # logic change -> fingerprint change
    b = Build(spark, bd)
    stats = b.run(stages)
    by = {m["stage"]: m for m in stats}
    assert not by["nodes_sorted"]["resumed"]
    assert not by["edges"]["resumed"], "downstream of changed stage must recompute"
    assert by["way_attrs"]["resumed"] and by["image_cells"]["resumed"]


def test_bucket_change_invalidates_downstream(spark, fix001, built, tmp_path):
    """The bucket count is part of a stage's fingerprint: a resume after
    ``nodes_sorted``'s count changes (its input grew, the split size
    changed) recomputes it and ``edges`` instead of joining two layouts,
    and the stages off its lineage resume."""
    bd = _copy(built, tmp_path)
    stages = reference_pipeline(fix001)
    for s in stages:
        if s.name == "nodes_sorted":
            n, key = s.bucket
            s.bucket = (n + 1, key)
    b = Build(spark, bd)
    by = {m["stage"]: m for m in b.run(stages)}
    assert not by["nodes_sorted"]["resumed"] and len(by["nodes_sorted"]["files"]) == n + 1
    assert not by["edges"]["resumed"], "downstream of a re-bucketed stage must recompute"
    assert by["way_attrs"]["resumed"] and by["image_cells"]["resumed"]
    assert by["way_nodes_sorted"]["resumed"]
    assert sorted(map(tuple, b.output("pip_pairs").collect())) == built[2]


def test_per_partition_lineage_recorded(spark, built):
    """The recorded per-file lineage (footer counts) agrees with Spark's
    own count of each published table, total and per file."""
    bd, stats, _ = built
    for m in stats:
        d = os.path.join(bd, m["stage"])
        assert sorted(m["files"]) == sorted(
            os.path.basename(u) for u in spark.read.parquet(d).inputFiles()
        )
        assert m["row_count"] == sum(m["files"].values())
        assert m["row_count"] == spark.read.parquet(d).count()
        per_file = (
            spark.read.parquet(d).groupBy(F.input_file_name().alias("f")).count().collect()
        )
        assert {os.path.basename(r["f"]): r["count"] for r in per_file} == {
            f: n for f, n in m["files"].items() if n
        }
        with open(os.path.join(bd, "_checkpoint", f"{m['stage']}.json")) as f:
            meta = json.load(f)
        assert meta["fingerprint"] == m["fingerprint"] and meta["files"] == m["files"]


def test_read_parquet_schema_matches_spark_inference(spark, fix001, built, tmp_path):
    """``read_parquet`` (schema from the first footer, no job) gives the
    schema Spark's inference gives: every sf0.001 fixture table, every
    published stage, and a table with zoned and zone-less timestamps and
    an unsigned int written by pyarrow and by Spark."""
    ts = datetime.datetime(2020, 1, 2, 3, 4, 5)
    pq.write_table(
        pa.table(
            {
                "naive": pa.array([ts], pa.timestamp("us")),
                "zoned": pa.array([ts], pa.timestamp("us", tz="UTC")),
                "tags": pa.array([["a"]], pa.list_(pa.string())),
                "n": pa.array([1], pa.uint32()),
            }
        ),
        str(tmp_path / "arrow_ts.parquet"),
    )
    spark.read.parquet(str(tmp_path / "arrow_ts.parquet")).write.parquet(str(tmp_path / "spark_ts"))
    paths = [os.path.join(fix001, f) for f in sorted(os.listdir(fix001)) if f.endswith(".parquet")]
    paths += [os.path.join(built[0], m["stage"]) for m in built[1]]
    paths += [str(tmp_path / "arrow_ts.parquet"), str(tmp_path / "spark_ts")]
    assert len(paths) > 30
    for p in paths:
        assert read_parquet(spark, p).schema == spark.read.parquet(p).schema, p


def test_package_reads_go_through_read_parquet():
    """The checkpoint layer and the query readers never call
    ``<spark>.read.parquet(...)`` directly, whose schema inference costs a
    Spark job per read; they use ``session.read_parquet``."""
    pkg = os.path.dirname(butterfly_osm_spark.__file__)
    for mod in ("checkpoint.py", "queries.py"):
        with open(os.path.join(pkg, mod)) as f:
            tree = ast.parse(f.read())
        direct = [
            n.lineno
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parquet"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "read"
        ]
        assert direct == [], f"{mod} reads parquet without read_parquet at lines {direct}"


def test_result_cache_warm_hit_skips_compute(spark, fix001, tmp_path):
    """C1 (avoid.rs:27-135): second request with the same canonical
    polygon-set key must answer from the keyed result table without
    invoking the PIP/refine compute at all."""
    import time as _time

    from pyspark.sql import functions as F

    from butterfly_osm_spark.checkpoint import ResultCache, cached_pip_join, polyset_key

    points = spark.read.parquet(os.path.join(fix001, "image_geo.parquet"))
    polygons = spark.read.parquet(os.path.join(fix001, "polygons.parquet"))
    cache = ResultCache(spark, str(tmp_path / "rescache"))

    calls = {"n": 0}
    import butterfly_osm_spark.operators.pip as pip_mod

    real_pip = pip_mod.pip_join

    def counting_pip(*a, **kw):
        calls["n"] += 1
        return real_pip(*a, **kw)

    pip_mod.pip_join = counting_pip
    try:
        t0 = _time.time()
        first = sorted(map(tuple, cached_pip_join(spark, cache, points, polygons).collect()))
        miss_s = _time.time() - t0
        t0 = _time.time()
        second = sorted(
            map(
                tuple,
                cached_pip_join(
                    spark, cache, points, polygons.orderBy(F.desc("polygon_id"))
                ).collect(),
            )
        )
        hit_s = _time.time() - t0
    finally:
        pip_mod.pip_join = real_pip

    assert calls["n"] == 1, "warm hit must not re-run the PIP compute"
    assert first == second and len(first) > 0
    assert cache.lineage[0]["hit"] is False and cache.lineage[1]["hit"] is True
    assert hit_s < miss_s, f"hit {hit_s:.2f}s not faster than miss {miss_s:.2f}s"


def test_polyset_key_ring_rotation_invariant(spark, fix001):
    """The cache key survives ring-start rotation (Booth canonicalisation):
    the same polygons with every ring rotated by one vertex share the key."""
    from pyspark.sql import functions as F

    from butterfly_osm_spark.checkpoint import polyset_key

    polygons = spark.read.parquet(os.path.join(fix001, "polygons.parquet")).limit(20)
    rotated = polygons.select(
        "polygon_id",
        F.expr("concat(slice(ring, 2, size(ring) - 1), slice(ring, 1, 1))").alias("ring"),
    )
    assert polyset_key(polygons) == polyset_key(rotated)


def test_result_cache_different_points_miss(spark, fix001, tmp_path):
    """Same polygons + different points must MISS (the points input
    participates in the key via the plan semantic hash by default)."""
    from pyspark.sql import functions as F

    from butterfly_osm_spark.checkpoint import ResultCache, cached_pip_join

    points = spark.read.parquet(os.path.join(fix001, "image_geo.parquet"))
    polygons = spark.read.parquet(os.path.join(fix001, "polygons.parquet"))
    cache = ResultCache(spark, str(tmp_path / "rc"))
    a = cached_pip_join(spark, cache, points, polygons).count()
    half = points.where(F.xxhash64("image_id") % 2 == 0)
    b = cached_pip_join(spark, cache, half, polygons).count()
    assert [x["hit"] for x in cache.lineage] == [False, False]
    assert b < a


def test_result_cache_lru_eviction_and_stats(spark, tmp_path):
    """Bounded LRU (avoid.rs:27-135): inserting cap+1 distinct keys evicts
    the least-recently-used entry; a hit refreshes recency so the next
    eviction picks the older untouched entry; hit/miss counters recorded."""
    import time as _time

    from butterfly_osm_spark.checkpoint import ResultCache

    cache = ResultCache(spark, str(tmp_path / "lru"), max_entries=2)

    def compute(n):
        return lambda: spark.range(n)

    cache.get_or_compute("k1", compute(1))
    _time.sleep(0.01)
    cache.get_or_compute("k2", compute(2))
    _time.sleep(0.01)
    cache.get_or_compute("k1", compute(1))  # hit — k1 now more recent than k2
    _time.sleep(0.01)
    cache.get_or_compute("k3", compute(3))  # insert past cap -> evict k2 (LRU)
    assert sorted(cache._entries()) == ["k1", "k3"]
    assert cache.evictions == 1
    # evicted key recomputes (miss), and the counters add up
    assert cache.get_or_compute("k2", compute(2)).count() == 2
    assert cache.hits == 1 and cache.misses == 4
    rec = [x for x in cache.lineage if "hit" in x]
    assert [x["hit"] for x in rec] == [False, False, True, False, False]
    assert rec[-1]["hits"] == 1 and rec[-1]["misses"] == 4


def test_result_cache_regenerated_points_miss(spark, tmp_path):
    """Durable-cache hazard (round-3 advice): regenerating the points
    parquet at the SAME path must miss — the default inputs_tag carries a
    content fingerprint (size+mtime) of the source files, not just the
    plan semantic hash (which keys on path+projection only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from butterfly_osm_spark.checkpoint import ResultCache, cached_pip_join

    pts_path = str(tmp_path / "pts.parquet")

    def write_points(ids):
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array([f"p{i}" for i in ids]),
                    "lon_e7": pa.array([43500000 + 1000 * i for i in ids], type=pa.int32()),
                    "lat_e7": pa.array([508500000 + 1000 * i for i in ids], type=pa.int32()),
                }
            ),
            pts_path,
        )

    ring = [
        {"lon_e7": 43000000, "lat_e7": 508000000},
        {"lon_e7": 44000000, "lat_e7": 508000000},
        {"lon_e7": 44000000, "lat_e7": 509000000},
        {"lon_e7": 43000000, "lat_e7": 509000000},
    ]
    polygons = spark.createDataFrame(
        [("pg0", ring)],
        "polygon_id STRING, ring ARRAY<STRUCT<lon_e7: INT, lat_e7: INT>>",
    )
    cache = ResultCache(spark, str(tmp_path / "rc2"))

    write_points(range(8))
    a = cached_pip_join(spark, cache, spark.read.parquet(pts_path), polygons).count()
    # regenerate AT THE SAME PATH with different contents (same schema)
    write_points(range(3))
    b = cached_pip_join(spark, cache, spark.read.parquet(pts_path), polygons).count()
    assert cache.misses == 2 and cache.hits == 0, "regenerated source must not hit"
    assert a == 8 and b == 3
