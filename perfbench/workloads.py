"""The three pipelines, one pass each, through the engine's public functions.

A pass is the whole pipeline of one workload. Each operation in it is run
through ``Pass.op``: the public call (``build``) and the action that
materializes its result (``act``) are timed as spans, and the action's
output is reduced to a digest. An exception counts the operation as
failed and the pass goes on.
"""

from __future__ import annotations

import os
import shutil
import traceback

from pyspark.sql import functions as F

from . import checks, inputs

HARVEST_MD_MODIFIED = "2024-06-01T00:00:00+00:00"


class Pass:
    """One pass of a workload: runs operations, collects digests."""

    def __init__(self, spark, tracer, out_dir: str, inputs_: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.out_dir = out_dir
        self.inputs = inputs_
        self.digests: dict[str, tuple[int, str] | None] = {}
        self.errors: dict[str, str] = {}
        self.deferred: list[tuple[str, str, str]] = []  # written outputs
        self.files_written = self.bytes_written = 0

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def op(self, name: str, build, act=checks.spark_digest):
        """Run build() then act(result); the digest of act is recorded."""
        try:
            with self.tracer.span(f"{name}.build"):
                result = build()
            if act is not None:
                with self.tracer.span(f"{name}.act"):
                    self.digests[name] = act(result)
            return result
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.errors[name] = traceback.format_exc(limit=4)
            self.digests[name] = None
            return None

    def write(self, name: str, fn, fmt: str = "parquet", outputs: dict | None = None) -> None:
        """An operation whose result is files under ``path(name)``, or under
        the directories ``outputs`` names by digest; digested after the pass."""
        self.op(name, fn, act=None)
        if name not in self.errors:
            for out, sub in (outputs or {name: name}).items():
                self.deferred.append((out, self.path(sub), fmt))

    def finish(self) -> None:
        """Untimed: digest written outputs, count the sinks' files and
        bytes, then delete them."""
        for name, path, fmt in self.deferred:
            for d, _, files in os.walk(path) if name.startswith("sinks.") else ():
                data = [f for f in files if not f.startswith((".", "_"))]
                self.files_written += len(data)
                self.bytes_written += sum(os.path.getsize(os.path.join(d, f)) for f in data)
            try:
                self.digests[name] = checks.file_digest(path, fmt)
            except Exception:  # noqa: BLE001
                self.errors[name] = traceback.format_exc(limit=4)
                self.digests[name] = None
        shutil.rmtree(self.out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# harvest_tiles — mirrors jobs/harvest.py, then the tile tables
# ---------------------------------------------------------------------------
def load_harvest(spark, stage_dir: str) -> dict:
    return {"pages": os.path.join(stage_dir, "pages.parquet")}


def harvest_pass(p: Pass) -> None:
    from geoharvest_spark import sinks, sources, tiles
    from geoharvest_spark.checkpoint import CheckpointStore
    from geoharvest_spark.normalize import split_failed
    from geoharvest_spark.pipeline import harvest_pages_fused

    spark = p.spark

    def scan():
        pages = spark.read.parquet(p.inputs["pages"])
        pages = sources.modified_date_filter(pages, *inputs.HARVEST_WINDOW)
        if sources.is_empty(pages):
            raise RuntimeError("date window selected no pages")
        return pages

    pages = p.op("sources.scan", scan, act=None)

    def pending():
        store = CheckpointStore(spark, p.path("lineage"))
        work = pages.withColumn(
            "partition_id", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int")
        )
        return store.pending(work, "harvest", "snap0")

    todo = p.op("checkpoint.pending", pending, act=None)

    def harvest():
        normalized = harvest_pages_fused(todo, HARVEST_MD_MODIFIED).join(
            todo.select("url", "partition_id"), "url"
        )
        return normalized.cache()

    normalized = p.op("pipeline.harvest", harvest, act=lambda df: (df.count(), ""))
    # with the harvest failed, the ops below fail (and are counted) too
    ok, failed = split_failed(normalized) if normalized is not None else (None, None)
    p.write("sinks.normalized", lambda: ok.drop("partition_id").write.parquet(p.path("sinks.normalized")))
    p.write("sinks.errors", lambda: failed.select("url", "identifier", "error").write.parquet(p.path("sinks.errors")))
    p.write("sinks.jsonl", lambda: sinks.write_combined_jsonl(ok, p.path("sinks.jsonl")), fmt="text")
    p.write("sinks.events", lambda: sinks.pooled_events(ok).write.parquet(p.path("sinks.events")))

    def stats():
        s = sinks.run_stats(normalized)
        return (s["processed"], f"{s['successful']}/{s['failed']}")

    p.op("sinks.run_stats", stats, act=lambda s: s)

    def tile_tables():
        assigned = tiles.assign_tiles(tiles.records_with_centroid(ok))
        tiles.write_tile_tables(assigned, p.path("tiles"))

    p.write("tiles.assign", tile_tables,
            outputs={"tiles.assignments": "tiles/tile_assignments",
                     "tiles.rollup": "tiles/tile_rollup"})
    if normalized is not None:
        normalized.unpersist()


# ---------------------------------------------------------------------------
# spatial_join — north-rule spatial operators on one point table
# ---------------------------------------------------------------------------
def load_spatial(spark, stage_dir: str) -> dict:
    def rd(name):
        return spark.read.parquet(os.path.join(stage_dir, f"{name}.parquet"))

    polygons = rd("polygons").select(
        "poly_id", "wkt", F.struct("w", "e", "n", "s").alias("bbox")
    )
    return {"points": rd("points"), "polygons": polygons, "rasters": rd("rasters")}


def spatial_pass(p: Pass) -> None:
    from geoharvest_spark import joins, raster, tiles

    i = p.inputs
    p.op("joins.pip", lambda: joins.pip_join(i["points"], i["polygons"])
         .select("point_id", "poly_id"))
    p.op("tiles.rollup", lambda: tiles.tile_pyramid_counts_rollup(i["points"]))
    p.op("raster.zonal", lambda: raster.raster_zonal_stats(i["rasters"], i["polygons"]))


# ---------------------------------------------------------------------------
# webtext_dedup — corpus-cleaning chain
# ---------------------------------------------------------------------------
def load_webtext(spark, stage_dir: str) -> dict:
    return {"docs": spark.read.parquet(os.path.join(stage_dir, "docs.parquet"))}


def webtext_pass(p: Pass) -> None:
    from geoharvest_spark import textops

    docs = p.inputs["docs"]
    pairs = p.op("textops.minhash", lambda: textops.minhash_lsh_pairs(docs).cache())
    p.op("textops.cc", lambda: textops.connected_components(pairs.select("id_a", "id_b")))
    p.op("textops.substring", lambda: textops.substring_span_dedup(docs, k=8))


WORKLOADS = {
    "harvest_tiles": (load_harvest, harvest_pass, inputs.N_PAGES),
    "spatial_join": (load_spatial, spatial_pass, inputs.N_POINTS),
    "webtext_dedup": (load_webtext, webtext_pass, inputs.N_DOCS),
}
