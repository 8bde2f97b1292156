"""Spatial operators: grid-bucketed radius join and bounded nearest
neighbor over point coordinates.

The reference's data model carries geolocation per pin (README.md:224-233:
the geo table's latitude/longitude, assembled into a coordinates array by
the cleaning contract F4). These operators add the QUERY side of that
model — "which points lie within r of each other", "which is the nearest
point to each probe" — with the scale discipline of every LSH join in
this repo: candidates come from a GRID-cell equality join (shuffle = cell
histogram, never |points|²), then only candidates pay the exact distance.

Exactness contract (the repo's engine-portable discipline): coordinates
are integer OFFSET MICRODEGREES — latitude in [0, 180e6] (= lat + 90°),
longitude in [0, 360e6] (= lon + 180°) — and distance is SQUARED
EUCLIDEAN in degree space, all in bigint, so Spark and a SQL oracle agree
bit-for-bit and no libm trig enters the verified path. Offsets keep every
value non-negative, which sidesteps the floor-vs-truncate integer
division divergence between engines for the grid-cell assignment.
Production geodesic semantics (haversine) swap one expression — the plan
shape (grid join + bounded verify) is identical; planar degree-space is
itself the standard approximation for city-scale radii away from the
poles.

Scale: cell size = radius, so a point's true neighbors lie in its 3×3
cell neighborhood; the left side replicates ×9 (a constant), the right
side stays home, and the join shuffles on (cell_lat, cell_lon). Dense
cells are the skew mode — cap with dedup.cap_bucket_size on the cell
key exactly like LSH band buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

LAT_RANGE = 180_000_000  # offset microdegrees: [0, 180e6]
LON_RANGE = 360_000_000  # offset microdegrees: [0, 360e6]


def synth_point(id_col: Column | str) -> tuple[Column, Column]:
    """Deterministic synthetic coordinates for an id — the portable
    md5-prefix hash mapped into offset microdegrees, so an oracle
    regenerates the identical points (the pinterest_driver fixture
    discipline). Returns (lat_micro, lon_micro) bigint columns."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    lat = portable_hash32(
        F.concat(F.lit("geo-lat:"), c.cast("string"))
    ) % F.lit(LAT_RANGE + 1)
    lon = portable_hash32(
        F.concat(F.lit("geo-lon:"), c.cast("string"))
    ) % F.lit(LON_RANGE + 1)
    return lat.cast("bigint"), lon.cast("bigint")


def grid_radius_pairs(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_micro: int,
) -> DataFrame:
    """All point pairs within ``radius_micro`` (planar degree-space,
    squared-distance compare — no sqrt, no trig): candidates from a 3×3
    grid-neighborhood equality join at cell size = radius, exact d² ≤ r²
    verification riding the join. Returns (id_a, id_b, d2_micro) with
    id_a < id_b, each pair exactly once (the left side explodes to its
    9 neighbor cells, the right side keeps its home cell, so a given
    ordered (l, r) meets on exactly one cell key).

    Scale: shuffle volume is 9×|points| + the cell histogram; pair work
    per cell is bounded by cell density (cap hot cells with
    cap_bucket_size on ["cell_lat","cell_lon"] for degenerate pile-ups,
    e.g. a null-island artifact)."""
    r = int(radius_micro)
    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(lat_col).cast("bigint").alias("__lat"),
        F.col(lon_col).cast("bigint").alias("__lon"),
    )
    home = pts.select(
        "__id",
        "__lat",
        "__lon",
        F.expr(f"__lat div {r}").alias("cell_lat"),
        F.expr(f"__lon div {r}").alias("cell_lon"),
    )
    exploded = home.select(
        F.col("__id").alias("__id_l"),
        F.col("__lat").alias("__lat_l"),
        F.col("__lon").alias("__lon_l"),
        F.explode(
            F.expr("array(cell_lat - 1, cell_lat, cell_lat + 1)")
        ).alias("cell_lat"),
        F.col("cell_lon").alias("__cl"),
    ).select(
        "__id_l",
        "__lat_l",
        "__lon_l",
        "cell_lat",
        F.explode(F.expr("array(__cl - 1, __cl, __cl + 1)")).alias("cell_lon"),
    )
    d2 = (F.col("__lat_l") - F.col("__lat")) * (
        F.col("__lat_l") - F.col("__lat")
    ) + (F.col("__lon_l") - F.col("__lon")) * (F.col("__lon_l") - F.col("__lon"))
    return (
        exploded.join(home, ["cell_lat", "cell_lon"])
        .filter(F.col("__id_l") < F.col("__id"))
        .withColumn("d2_micro", d2.cast("bigint"))
        .filter(F.col("d2_micro") <= F.lit(r * r))
        .select(
            F.col("__id_l").alias("id_a"),
            F.col("__id").alias("id_b"),
            "d2_micro",
        )
    )


def nearest_within_radius(
    probes: DataFrame,
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_micro: int,
) -> DataFrame:
    """For each probe point, the nearest OTHER point within
    ``radius_micro`` — (probe_id, nn_id, d2_micro), probes with no
    neighbor in range omitted (callers left-join back for NULL rows).
    The spatial twin of the as-of join's nearest direction: candidates
    from the probe's 3×3 grid neighborhood, then one argmax window
    (min d², id ASC tiebreak — a total order, so both engines pick the
    identical neighbor).

    Scale: probes explode ×9 and join the points' home-cell layout —
    cost is |probes| + matched-cell volume, independent of |points|
    outside the probed cells."""
    r = int(radius_micro)
    pts = points.select(
        F.col(id_col).alias("__id"),
        F.col(lat_col).cast("bigint").alias("__lat"),
        F.col(lon_col).cast("bigint").alias("__lon"),
    ).select(
        "__id",
        "__lat",
        "__lon",
        F.expr(f"__lat div {r}").alias("cell_lat"),
        F.expr(f"__lon div {r}").alias("cell_lon"),
    )
    pr = probes.select(
        F.col(id_col).alias("__pid"),
        F.col(lat_col).cast("bigint").alias("__plat"),
        F.col(lon_col).cast("bigint").alias("__plon"),
    ).select(
        "__pid",
        "__plat",
        "__plon",
        F.expr(f"__plat div {r}").alias("__cl0"),
        F.expr(f"__plon div {r}").alias("__cn0"),
    )
    exploded = pr.select(
        "__pid",
        "__plat",
        "__plon",
        F.explode(F.expr("array(__cl0 - 1, __cl0, __cl0 + 1)")).alias(
            "cell_lat"
        ),
        F.col("__cn0"),
    ).select(
        "__pid",
        "__plat",
        "__plon",
        "cell_lat",
        F.explode(F.expr("array(__cn0 - 1, __cn0, __cn0 + 1)")).alias(
            "cell_lon"
        ),
    )
    d2 = (F.col("__plat") - F.col("__lat")) * (
        F.col("__plat") - F.col("__lat")
    ) + (F.col("__plon") - F.col("__lon")) * (F.col("__plon") - F.col("__lon"))
    cand = (
        exploded.join(pts, ["cell_lat", "cell_lon"])
        .filter(F.col("__pid") != F.col("__id"))
        .withColumn("d2_micro", d2.cast("bigint"))
        .filter(F.col("d2_micro") <= F.lit(r * r))
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("d2_micro").asc(), F.col("__id").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__pid").alias("probe_id"),
            F.col("__id").alias("nn_id"),
            "d2_micro",
        )
    )
