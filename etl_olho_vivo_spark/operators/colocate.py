"""Grid-bucketed radius self-join over position streams — co-location
pairs ("bus bunching"): every pair of vehicles that pinged within
``radius_m`` of each other inside one tumbling time bucket.

Relation to the reference (JonasMarma/etl-olho-vivo): composes the
reference's own primitives — the haversine semantics of
``etl-olho-vivo-velocidades-medias.py:34-58`` (functions/geo.py
``haversine_m``, byte-parity constant R = 6 371 000) and the 30-minute
tumbling bucket of its interval labeling (functions/timeops.py, F2) —
into the proximity analytics the reference's per-vehicle lag pipeline
cannot express (its window partitions by vehicle; proximity is
BETWEEN vehicles).

Plan shape: a naive radius theta-join is a per-bucket cross product —
quadratic in pings per bucket.  Instead each ping gets one home cell on
a fixed lat/lon grid sized so that any two points within ``radius_m``
land in the same or adjacent cells: cell height = ``radius_m`` meters of
latitude exactly; cell width uses the conservative ``MIN_COS_LAT`` bound
so the guarantee holds for any |lat| ≤ 60° without a per-row
transcendental (the grid stays pure rational arithmetic, so the same
floats fall in the same cells everywhere).  The (bucket, cell) pairing
is ``operators/pairs.blocked_pairs`` with the cells as half-plane
``near`` keys; the exact residual filter is the ROUNDED haversine
(round 2 dp — the engine-wide transcendental parity rule; the grid is a
candidate generator, the rounded haversine is the spec), and one
partial-aggregated rollup per (bucket, pair) gives the ping-pair count
and min distance.  Candidates per cell are bounded by physical vehicle
density (a cell is ~radius² meters), so cost is linear in pings at
fixed density; hot cells (depots, terminals) are AQE skew-split work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_olho_vivo_spark.functions.geo import haversine_m
from etl_olho_vivo_spark.operators.pairs import blocked_pairs

M_PER_DEG_LAT = 111320.0  # meters per degree of latitude (spherical)
MIN_COS_LAT = 0.5         # correctness bound: grid valid for |lat| <= 60 deg


def grid_project(
    pos: DataFrame,
    radius_m: float,
    *,
    key: str = "prefixo_veiculo",
    lat: str = "py",
    lon: str = "px",
    ts: str = "timestamp",
    bucket_s: int = 1800,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """The shared grid assignment both the batch and the streaming
    co-location paths build on — ONE definition of the cell sizes and
    the bucket, so batch/stream parity is by construction (the
    streaming twin passes ``extra=("event_time",)`` to carry its
    watermarked column through)."""
    if radius_m <= 0:
        raise ValueError(f"radius_m must be positive, got {radius_m}")
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")
    d_lat = radius_m / M_PER_DEG_LAT
    d_lon = d_lat / MIN_COS_LAT
    return pos.select(
        F.col(key).alias("k"),
        F.col(lat).alias("la"),
        F.col(lon).alias("lo"),
        F.expr(f"(`{ts}` div {bucket_s}) * {bucket_s}").alias("bucket"),
        F.floor(F.col(lat) / F.lit(d_lat)).alias("cy"),
        F.floor(F.col(lon) / F.lit(d_lon)).alias("cx"),
        *[F.col(c) for c in extra],
    )


def within_radius(radius_m: float):
    """The pair verify shared by batch and stream: ``dist_m`` =
    round(haversine, 2) over the carried (la, lo) columns, kept when
    within ``radius_m``."""
    dist = F.round(
        haversine_m(
            F.col("la_a"), F.col("lo_a"), F.col("la_b"), F.col("lo_b")
        ),
        2,
    )
    return lambda p: p.withColumn("dist_m", dist).filter(
        F.col("dist_m") <= radius_m
    )


def colocation_pairs(
    pos: DataFrame,
    radius_m: float = 500.0,
    *,
    key: str = "prefixo_veiculo",
    lat: str = "py",
    lon: str = "px",
    ts: str = "timestamp",
    bucket_s: int = 1800,
) -> DataFrame:
    """(bucket, vehicle_a, vehicle_b, n_close, min_dist_m) — one row
    per unordered vehicle pair with at least one ping-pair within
    ``radius_m`` meters in the same ``bucket_s``-second tumbling
    bucket; ``n_close`` counts the qualifying ping pairs, and
    ``min_dist_m`` is the minimum ROUNDED distance (2 dp — rounding is
    what makes min() engine-deterministic over transcendental-derived
    doubles).  ``key_a < key_b`` orders the pair (self pairs excluded
    by the strict inequality).  A ping with a NULL coordinate never
    pairs — its NULL cell never equi-joins and its haversine NULL-
    propagates past the threshold — which is the semantics a missing
    position deserves, and what a naive all-pairs SQL oracle computes
    too (NULL <= R is not true in either engine)."""
    pairs = blocked_pairs(
        grid_project(
            pos, radius_m, key=key, lat=lat, lon=lon, ts=ts,
            bucket_s=bucket_s,
        ),
        id="k", pair=("vehicle_a", "vehicle_b"), keys=("bucket",),
        near=("cy", "cx"), carry=("la", "lo"),
        verify=within_radius(radius_m),
    )
    return pairs.groupBy("bucket", "vehicle_a", "vehicle_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_close"),
        F.min("dist_m").alias("min_dist_m"),
    )
