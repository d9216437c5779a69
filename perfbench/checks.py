"""Output digests and independent references.

Every operation's result is reduced to ``(rows, hash)`` where the hash is
order-independent: the sum of one 64-bit hash per row. Spark results are
hashed by Spark's own ``xxhash64`` in the action that materializes them;
files the harvest pipeline writes are read back with pyarrow and hashed in
Python, outside the timed pass. Doubles are rounded to 9 decimals first so
a different summation order in an aggregate cannot flip the digest.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.dataset as ds
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK = (1 << 64) - 1


def _hashable(col, dtype):
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col, 9)
    return col


def spark_digest(df) -> tuple[int, str]:
    """(rows, sum of xxhash64 over every column) in one aggregate job."""
    cols = [_hashable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"] if row["h"] is not None else 0)


def _canon(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _row_hash(row) -> int:
    raw = json.dumps(_canon(row), sort_keys=True, default=str).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "little")


def file_digest(path: str, fmt: str = "parquet") -> tuple[int, str]:
    """(rows, order-independent hash) of a directory Spark wrote."""
    if fmt == "text":
        n = h = 0
        for name in sorted(os.listdir(path)):
            if name.startswith("part-"):
                with open(os.path.join(path, name), encoding="utf-8") as f:
                    for line in f:
                        n += 1
                        h = (h + _row_hash(line.rstrip("\n"))) & _MASK
        return n, str(h)
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    h = 0
    for row in table.to_pylist():
        h = (h + _row_hash(row)) & _MASK
    return table.num_rows, str(h)


# ---------------------------------------------------------------------------
# DuckDB reference for pip_join: the float ray cast of the engine's Arrow
# refine kernel, x < (x2 - x1) * (y - y1) / (y2 - y1) + x1, as an even-odd
# count over (candidate, polygon edge) rows; candidates are the points
# inside a polygon's bounding box.
# ---------------------------------------------------------------------------
_PIP_SQL = """
WITH poly AS (
  SELECT poly_num, w, e, n, s,
         string_split(trim(replace(replace(wkt, 'POLYGON ((', ''), '))', '')), ', ') AS pts
  FROM read_parquet('__POLYGONS__')
),
v AS (
  SELECT poly_num, generate_subscripts(pts, 1) AS i, unnest(pts) AS p FROM poly
),
xy AS (
  SELECT poly_num, i, CAST(string_split(p, ' ')[1] AS DOUBLE) AS x,
         CAST(string_split(p, ' ')[2] AS DOUBLE) AS y FROM v
),
edges AS (
  SELECT a.poly_num, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM xy a JOIN xy b ON a.poly_num = b.poly_num AND b.i = a.i + 1
),
cand AS (
  SELECT p.point_id, q.poly_num, p.lon, p.lat
  FROM read_parquet('__POINTS__') p JOIN poly q
    ON p.lon BETWEEN q.w AND q.e AND p.lat BETWEEN q.s AND q.n
)
SELECT c.point_id, c.poly_num
FROM cand c JOIN edges e ON c.poly_num = e.poly_num
GROUP BY c.point_id, c.poly_num
HAVING sum(CASE WHEN ((e.y1 > c.lat) <> (e.y2 > c.lat))
                 AND c.lon < (e.x2 - e.x1) * (c.lat - e.y1) / (e.y2 - e.y1) + e.x1
           THEN 1 ELSE 0 END) % 2 = 1
"""


def pip_reference(stage_dir: str) -> dict:
    """(point_id, poly_num) pairs DuckDB finds inside each polygon."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        sql = _PIP_SQL.replace(
            "__POLYGONS__", os.path.join(stage_dir, "polygons.parquet")
        ).replace("__POINTS__", os.path.join(stage_dir, "points.parquet"))
        return con.execute(sql).fetchnumpy()
    finally:
        con.close()


PINNED_SEED = 1
_PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_digests.json")


def reference_failures(workload: str, seed: int, stage_dir: str, manifest: dict, p) -> dict[str, str]:
    """First-pass digests that disagree with an independent reference:
    DuckDB for pip_join, the generator's own counts for run_stats, and
    digests pinned from the seed commit for the default seed."""
    bad: dict[str, str] = {}
    got = p.digests
    if workload == "spatial_join" and got.get("joins.pip"):
        import pandas as pd

        try:
            pairs = pip_reference(stage_dir)
            ref = p.spark.createDataFrame(pd.DataFrame({
                "point_id": pairs["point_id"].astype("int64"),
                "poly_id": [f"poly{b:05d}" for b in pairs["poly_num"]],
            }), "point_id long, poly_id string")
            want = spark_digest(ref)
        except Exception as ex:  # noqa: BLE001 - no reference is a failed check
            want = f"reference failed: {ex!r}"
        if want != got["joins.pip"]:
            bad["joins.pip"] = f"DuckDB reference {want} != {got['joins.pip']}"
    if workload == "harvest_tiles" and got.get("sinks.run_stats"):
        props = manifest["properties"]
        n, bad_n = props["pages_in_window"], props["malformed_in_window"]
        want = (n, f"{n - bad_n}/{bad_n}")
        if tuple(got["sinks.run_stats"]) != want:
            bad["sinks.run_stats"] = f"generator counts {want} != {got['sinks.run_stats']}"
    if seed == PINNED_SEED and os.path.exists(_PINNED):
        with open(_PINNED) as f:
            pinned = json.load(f).get(workload, {})
        for op, want in pinned.items():
            d = got.get(op)
            if d is not None and list(d) != want:
                bad[op] = f"pinned digest {want} != {list(d)}"
    return bad
