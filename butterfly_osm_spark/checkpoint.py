"""Checkpointed, resumable multi-stage builds with per-file lineage.

Mirrors the reference's lock-file protocol: every build step writes
``stepN.lock.json`` with input SHA-256s + row counts + bbox, and a failed
step leaves prior artifacts valid so the build resumes at step
granularity (route/src/validate/mod.rs:36-60; lazy CRC verification on
first access, route/src/formats/lazy_verify.rs:1-30).

Spark shape (SURVEY.md §7.1 step 7 / C5):
- each stage is a DataFrame job writing a parquet table under
  ``build_dir/<stage>`` (atomic tmp -> rename commit, the same
  write-then-publish discipline as the reference's .tmp lock files);
- the checkpoint "table" is ``build_dir/_checkpoint/<stage>.json`` with
  the stage fingerprint, the total row count and ``files``: every
  published part file with the row count its parquet footer holds
  (per-file lineage, the Iceberg manifest analog). The counts are read
  from the footers once the write has committed to ``.tmp``, so recording
  them runs no Spark job;
- a fingerprint chains the stage version, raw-input names + sizes and each
  upstream stage's fingerprint + file map (the lock-file input-SHA chain),
  so a stage that recomputes (new part-file names) invalidates everything
  downstream of it, in this run or a later one;
- resume = skip stages whose fingerprint matches AND whose published
  directory still holds exactly the recorded files with the recorded
  footer counts (the lazy-verify analog). The check reads footers only and
  runs no Spark job. Any mismatch (missing dir, missing, extra or renamed
  part file, unreadable footer, changed count, changed upstream)
  recomputes that stage and everything downstream of it.

Every parquet read here goes through ``session.read_parquet``, which takes
the schema from the first footer instead of running Spark's inference job:
raw stage inputs, non-bucketed stage outputs and ``ResultCache`` entries.
Bucketed stage outputs resolve through the catalog with the schema
recorded at write time, which runs no job either.

On a cluster the same protocol lands on an Iceberg checkpoint table
(snapshot ids instead of fingerprints); parquet-dir commits keep the
sandbox dependency-free.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import part_files, read_parquet

ENGINE_VERSION = "0.2.0"  # bump to invalidate all checkpoints (schema change)


@dataclass
class Stage:
    name: str
    # fn(spark, resolved_inputs: dict[name -> DataFrame]) -> DataFrame
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    inputs: list[str] = field(default_factory=list)  # upstream stage names or raw: paths
    version: str = "1"  # bump when stage logic changes
    # (n_buckets, key): publish as a bucketBy+sortBy table (catalog-backed,
    # Iceberg bucket-partitioning stand-in) — downstream equi-joins between
    # stages bucketed on the same key AND count plan with ZERO exchange
    # (PLANS.md round-2 evidence; reference sorted nodes.sa access,
    # route/src/nbg/mod.rs:260-313). Part of the stage fingerprint: a new
    # count or key recomputes the stage and everything downstream of it
    bucket: tuple[int, str] | None = None


def _ckpt_dir(build_dir: str) -> str:
    return os.path.join(build_dir, "_checkpoint")


def _ckpt_path(build_dir: str, stage: str) -> str:
    return os.path.join(_ckpt_dir(build_dir), f"{stage}.json")


def _raw_files(path: str) -> list[str]:
    """The files of an external input path: the path itself, or the
    entries of a directory in name order."""
    if os.path.isdir(path):
        return [os.path.join(path, f) for f in sorted(os.listdir(path))]
    return [path]


def _raw_fingerprint(path: str) -> str:
    """Fingerprint an external input path by file names + sizes (content
    hash would re-read TBs; size+name catches regeneration, and upstream
    stages chain their own fingerprints)."""
    h = hashlib.sha256()
    for f in _raw_files(path):
        h.update(f"{os.path.basename(f)}:{os.path.getsize(f)}".encode())
    return h.hexdigest()


def _footer_counts(table_dir: str) -> dict[str, int]:
    """``{part file name: row count}`` of a parquet table directory, read
    from the file footers (no Spark job). Raises OSError or ArrowException
    on an unreadable footer."""
    return {
        f: pq.read_metadata(os.path.join(table_dir, f)).num_rows for f in part_files(table_dir)
    }


def _publish(tmp: str, out: str) -> None:
    """Commit a stage write: swap the finished ``.tmp`` dir into the
    published location."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)


def _lineage_id(meta: dict) -> str:
    """Identity of a published stage output: its fingerprint and file map.
    Part-file names are unique per write, so a recomputed stage gets a new
    id even when its rows are the same."""
    blob = json.dumps([meta["fingerprint"], meta["files"]], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()


class Build:
    """Sequential stage runner with fingerprint-chained resume."""

    def __init__(self, spark: SparkSession, build_dir: str):
        self.spark = spark
        self.build_dir = build_dir
        os.makedirs(_ckpt_dir(build_dir), exist_ok=True)
        # stage -> lineage id of its published output this run
        self._lineage: dict[str, str] = {}
        self.stats: list[dict] = []

    def _stage_fingerprint(self, stage: Stage) -> str:
        h = hashlib.sha256()
        h.update(ENGINE_VERSION.encode())
        h.update(stage.name.encode())
        h.update(stage.version.encode())
        if stage.bucket:
            h.update(json.dumps(list(stage.bucket)).encode())
        for inp in stage.inputs:
            if inp.startswith("raw:"):
                h.update(_raw_fingerprint(inp[4:]).encode())
            else:
                h.update(self._lineage[inp].encode())
        return h.hexdigest()

    def _out_path(self, stage: str) -> str:
        return os.path.join(self.build_dir, stage)

    def _table_name(self, stage: str) -> str:
        return f"ckpt_{hashlib.sha256(self.build_dir.encode()).hexdigest()[:10]}_{stage}"

    def output(self, stage: str) -> DataFrame:
        """Stage output as a DataFrame. Bucketed stages resolve through the
        catalog (bucket metadata is what lets joins skip the exchange); a
        fresh session re-registers the external table from the checkpoint
        metadata before reading."""
        cpath = _ckpt_path(self.build_dir, stage)
        if os.path.exists(cpath):
            with open(cpath) as f:
                meta = json.load(f)
            if meta.get("bucket"):
                tbl = self._table_name(stage)
                if not self.spark.catalog.tableExists(tbl):
                    self._register_bucketed(stage, meta["schema_ddl"], meta["bucket"])
                return self.spark.table(tbl)
        return read_parquet(self.spark, self._out_path(stage))

    def _register_bucketed(self, stage: str, schema_ddl: str, bucket: tuple[int, str]) -> None:
        """Point the catalog's bucketed table for ``stage`` at its published
        directory (external table: dropping it later leaves the data)."""
        n, key = bucket
        self.spark.sql(
            f"CREATE TABLE {self._table_name(stage)} ({schema_ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n} BUCKETS "
            f"LOCATION '{self._out_path(stage)}'"
        )

    def _verify_published(self, stage: Stage, meta: dict) -> bool:
        """Lazy-verify analog: the published directory's footer file map
        must equal the recorded one. Reads footers only, no Spark job."""
        out = self._out_path(stage.name)
        if not os.path.isdir(out):
            return False
        try:
            return _footer_counts(out) == meta["files"]
        except (OSError, pa.ArrowException):
            return False

    def run_stage(self, stage: Stage) -> dict:
        fp = self._stage_fingerprint(stage)
        cpath = _ckpt_path(self.build_dir, stage.name)
        if os.path.exists(cpath):
            with open(cpath) as f:
                meta = json.load(f)
            if meta["fingerprint"] == fp and self._verify_published(stage, meta):
                meta["resumed"] = True
                self._lineage[stage.name] = _lineage_id(meta)
                self.stats.append(meta)
                return meta

        t0 = time.time()
        resolved = {}
        for inp in stage.inputs:
            if inp.startswith("raw:"):
                name = os.path.splitext(os.path.basename(inp[4:]))[0]
                resolved[name] = read_parquet(self.spark, inp[4:])
            else:
                resolved[inp] = self.output(inp)
        df = stage.fn(self.spark, resolved)

        out = self._out_path(stage.name)
        schema_ddl = None
        if stage.bucket:
            # same write-to-tmp -> rename commit discipline as the
            # non-bucketed path: a crash mid-write can only ever leave a
            # stale .tmp dir, never a partial dir at the published location
            n_buckets, key = stage.bucket
            tbl = self._table_name(stage.name)
            tmp_tbl = tbl + "_tmp"
            tmp = out + ".tmp"
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            # hash-partitioned on the bucket key (the bucket hash is the
            # same pmod-murmur3), so each task writes exactly one bucket;
            # the writer sorts within it
            (
                df.repartition(n_buckets, key)
                .write.bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", tmp)
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(tmp_tbl)
            )
            # catalog lookup, no job
            schema_ddl = self.spark.table(tmp_tbl)._jdf.schema().toDDL()
            files = _footer_counts(tmp)
            # commit: drop tmp metadata (external table — data stays),
            # swap dirs, re-point the catalog at the published location
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            _publish(tmp, out)
            self._register_bucketed(stage.name, schema_ddl, stage.bucket)
        else:
            tmp = out + ".tmp"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            df.write.mode("overwrite").parquet(tmp)
            files = _footer_counts(tmp)
            _publish(tmp, out)

        meta = {
            "stage": stage.name,
            "fingerprint": fp,
            "row_count": sum(files.values()),
            "files": files,
            "wall_s": round(time.time() - t0, 3),
            "engine_version": ENGINE_VERSION,
            "resumed": False,
            "bucket": list(stage.bucket) if stage.bucket else None,
            "schema_ddl": schema_ddl,
        }
        with open(cpath + ".tmp", "w") as f:
            json.dump(meta, f)
        os.rename(cpath + ".tmp", cpath)
        self._lineage[stage.name] = _lineage_id(meta)
        self.stats.append(meta)
        return meta

    def run(self, stages: list[Stage]) -> list[dict]:
        return [self.run_stage(s) for s in stages]


# ---------------------------------------------------------------------------
# The reference build pipeline expressed as checkpointed stages
# ---------------------------------------------------------------------------


def reference_pipeline(fix: str) -> list[Stage]:
    """Step 1-3-analog build over the fixtures: sorted nodes -> way attrs ->
    edges -> image cell index -> PIP pairs (each stage resumable)."""
    from . import cells
    from .functions.model import compile_way_attrs
    from .operators.extract import build_edges
    from .operators.pip import pip_join

    # id-ordered layout (ingest/mod.rs:201-207): published bucketed by id
    # + sorted within buckets (run_stage), so the J2 coordinate join
    # against the co-bucketed way_nodes stage, and the node-usage window
    # over its output, plan with zero exchange. The pair shares ONE bucket
    # count, sized like a scan of the larger raw input: its bytes over the
    # session's split size (spark.sql.files.maxPartitionBytes), rounded
    # up, at least 1 — one bucket (one write task, one-task reads) at
    # fixture scale instead of a cluster-sized constant
    node_inputs = [f"{fix}/osm_nodes.parquet", f"{fix}/way_nodes.parquet"]
    split = SparkSession.active()._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    input_bytes = max(sum(map(os.path.getsize, _raw_files(p))) for p in node_inputs)
    n_buckets = max(1, -(-input_bytes // split))

    def nodes_sorted(spark, ins):
        return ins["osm_nodes"]

    def way_nodes_sorted(spark, ins):
        return ins["way_nodes"]

    def way_attrs(spark, ins):
        return compile_way_attrs(ins["osm_ways"])

    def edges(spark, ins):
        return build_edges(ins["osm_ways"], ins["way_nodes_sorted"], ins["nodes_sorted"])

    def image_cells(spark, ins):
        # O2 layout: partition by coarse cell, Hilbert-sorted within — the
        # snap-index PackedPoint order (snap_index.rs:203-243), so range
        # scans inside a cell touch spatially-contiguous row groups
        g = ins["image_geo"]
        return (
            cells.with_hilbert(
                g.select(
                    "image_id",
                    "lon_e7",
                    "lat_e7",
                    cells.cell_col("lon_e7", "lat_e7", 7).alias("cell_r7"),
                    cells.cell_col("lon_e7", "lat_e7", 12).alias("cell_r12"),
                )
            )
            .repartition("cell_r7")
            .sortWithinPartitions("cell_r7", "hilbert")
        )

    def pip_pairs(spark, ins):
        return pip_join(ins["image_cells"], ins["polygons"], out_id="image_id")

    def restriction_arcs_stage(spark, ins):
        # S3: turn-restriction rules sorted by relation id (the reference's
        # relations.raw determinism contract, formats/relations.rs)
        from .operators.relations import restriction_arcs

        return restriction_arcs(ins["relations"], ins["way_nodes_sorted"]).orderBy(
            "relation_id"
        )

    return [
        Stage(
            "nodes_sorted",
            nodes_sorted,
            [f"raw:{node_inputs[0]}"],
            version="3",
            bucket=(n_buckets, "id"),
        ),
        Stage(
            "way_nodes_sorted",
            way_nodes_sorted,
            [f"raw:{node_inputs[1]}"],
            version="3",
            bucket=(n_buckets, "node_id"),
        ),
        Stage("way_attrs", way_attrs, [f"raw:{fix}/osm_ways.parquet"]),
        Stage(
            "edges",
            edges,
            [f"raw:{fix}/osm_ways.parquet", "way_nodes_sorted", "nodes_sorted"],
            version="3",
        ),
        Stage("image_cells", image_cells, [f"raw:{fix}/image_geo.parquet"], version="2"),
        Stage("pip_pairs", pip_pairs, ["image_cells", f"raw:{fix}/polygons.parquet"]),
        Stage(
            "restriction_arcs",
            restriction_arcs_stage,
            [f"raw:{fix}/relations.parquet", "way_nodes_sorted"],
        ),
    ]


# ---------------------------------------------------------------------------
# C1: keyed warm-result cache (reference route/src/server/avoid.rs:27-135 —
# LRU keyed by (mode, polygon_hash, exclude_mask); hit ~22 ms vs miss
# ~780 ms because the whole triangle-exclusion recompute is skipped)
# ---------------------------------------------------------------------------


class ResultCache:
    """Keyed result-table reuse: a request whose key (canonical polygon-set
    hash + params) was already answered reads the published parquet back
    instead of re-running the PIP/refine stages. Durable across sessions
    (the parquet dir is the cache entry), same commit discipline as stage
    outputs (write tmp -> rename).

    Bounded like the reference's LRU (avoid.rs:27-135 — O(cap) eviction,
    hit/miss stats surfaced in /health): at most ``max_entries`` entry
    dirs; inserting past the cap evicts the least-recently-used entries
    (recency = dir mtime, refreshed on every hit), and ``hits``/``misses``
    counters ride along in the lineage rows."""

    def __init__(self, spark: SparkSession, cache_dir: str, max_entries: int = 64):
        self.spark = spark
        self.cache_dir = cache_dir
        self.max_entries = max_entries
        os.makedirs(cache_dir, exist_ok=True)
        self.lineage: list[dict] = []
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    @staticmethod
    def request_key(**parts) -> str:
        blob = json.dumps(parts, sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(blob.encode()).hexdigest()[:32]

    def _entries(self) -> list[str]:
        return [
            e
            for e in os.listdir(self.cache_dir)
            if os.path.isdir(os.path.join(self.cache_dir, e)) and not e.endswith(".tmp")
        ]

    def _evict_lru(self) -> None:
        ents = self._entries()
        if len(ents) <= self.max_entries:
            return
        by_age = sorted(ents, key=lambda e: os.stat(os.path.join(self.cache_dir, e)).st_mtime_ns)
        for e in by_age[: len(ents) - self.max_entries]:
            shutil.rmtree(os.path.join(self.cache_dir, e), ignore_errors=True)
            self.evictions += 1
            self.lineage.append({"key": e, "evicted": True})

    def _record(self, key: str, hit: bool, t0: float) -> None:
        self.hits += hit
        self.misses += not hit
        self.lineage.append(
            {
                "key": key,
                "hit": hit,
                "wall_s": round(time.time() - t0, 4),
                "hits": self.hits,
                "misses": self.misses,
                "entries": len(self._entries()),
            }
        )

    def get_or_compute(self, key: str, compute: Callable[[], DataFrame]) -> DataFrame:
        path = os.path.join(self.cache_dir, key)
        t0 = time.time()
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            df = read_parquet(self.spark, path)
            os.utime(path)  # refresh LRU recency
            self._record(key, True, t0)
            return df
        df = compute()
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)  # writes _SUCCESS on commit
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        self._record(key, False, t0)
        self._evict_lru()
        return read_parquet(self.spark, path)


def polyset_key(polygons: DataFrame) -> str:
    """Order-independent canonical hash of a polygon set: per-ring Booth
    canonical key (P10 — rotation/translation-of-start invariant), sorted
    and chained. Two requests with the same polygons — in any row order,
    with rings rotated to any starting vertex — share a key."""
    from .operators.geometry import canonical_hash

    row = (
        canonical_hash(polygons)
        .select(F.sha2(F.col("canon_key"), 256).alias("h"))
        .agg(F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))), 256).alias("k"))
        .collect()
    )
    return row[0]["k"]


def _source_files_tag(df: DataFrame) -> str:
    """Content tag of a frame's file-backed sources: sorted (uri, size,
    mtime_ns) of ``df.inputFiles()``. Regenerating a parquet at the same
    path changes the tag (mtime always moves, usually size too) — the
    plan semantic hash alone cannot see that, it keys on path+projection
    only. Empty string for non-file sources (in-memory frames)."""
    files = sorted(df.inputFiles())
    if not files:
        return ""
    h = hashlib.sha256()
    for uri in files:
        p = uri.removeprefix("file:")
        try:
            st = os.stat(p)
            h.update(f"{uri}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(uri.encode())
    return h.hexdigest()[:20]


def cached_pip_join(
    spark: SparkSession, cache: ResultCache, points: DataFrame, polygons: DataFrame,
    inputs_tag: str | None = None,
) -> DataFrame:
    """PIP answered through the warm cache: key = (op, canonical polygon-set
    hash, points-input tag). A hit skips cover generation, the cell join
    and the ray-cast refine entirely.

    The points input MUST participate in the key — otherwise a second
    request with the same polygons but different points would silently
    return the first request's pairs. Callers with a stable input
    identity (a checkpoint fingerprint, a snapshot id) should pass it as
    ``inputs_tag``; the default combines (a) the analyzed-plan semantic
    hash (same source + same projection/filter -> same plan tag) with
    (b) a content fingerprint of the points source files (name + size +
    mtime), so regenerating the points parquet at the same path — which
    the plan hash cannot see, the cache being durable across sessions —
    still misses and recomputes."""
    from .operators.pip import pip_join

    if inputs_tag is None:
        plan_h = points._jdf.queryExecution().analyzed().semanticHash()
        inputs_tag = f"plan:{plan_h}/data:{_source_files_tag(points)}"
    key = ResultCache.request_key(op="pip", polyset=polyset_key(polygons), inputs=inputs_tag)
    return cache.get_or_compute(key, lambda: pip_join(points, polygons))
