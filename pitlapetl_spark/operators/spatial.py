"""Spatial operators: grid-cell bucketed radius join (haversine).

The reference has no geo surface (SURVEY.md §2 — the closest thing is
the schedule's location-free event rows, scheduledag.py:42-60); this
family is a north-star extension: the "find all (customer, supplier)
pairs within R km" shape is the canonical spatial join every
logistics / geo-analytics warehouse runs, and the naive form is a
cross join with a trig filter — quadratic, banned.

Spark-first scale design (the grid-file / cover-join pattern):

- Each point is assigned an integer grid CELL ``(floor(lat/CELL),
  floor(lon/CELL))`` with CELL sized so that any two points within
  RADIUS_KM are in the same or 8-neighboring cells (CELL degrees
  must exceed the radius in both axes at the worst latitude in
  range — see the derivation at ``_CELL_DEG``).
- The probe side explodes into its 3x3 neighbor ring (a bounded 9x
  fan-out), and the join is a pure EQUI-join on the two cell ints —
  it shuffles on cell keys, broadcasts when one side is small (AQE
  decides), and never degenerates to a cartesian. The exact
  haversine predicate then filters the bounded candidate set.
- At 100 TB: pair space is bounded by cell occupancy (sum over cells
  of |probe∩cell-ring| x |build∩cell|), the spatial analog of the
  dedup family's DF cap. Hot cells (a dense city) are the skew case:
  AQE skew-join splits them, or salt the cell key. The 9x explode is
  the standard trade for not needing any special join strategy —
  the plan stays a vanilla shuffled equi-join Catalyst understands.

Coordinates: the synthetic tables carry no lat/lon, so both engines
derive deterministic pseudo-coordinates from the keys with the SAME
integer arithmetic (documented, replayable — no RNG): lat in
[-45, 45), lon in [-20, 20), two-decimal precision. The derivation is
part of the registered query's semantics, exactly like the synthetic
timestamps other queries derive from keys.

Determinism contract: the haversine is the same IEEE double
expression on both engines; the radius predicate compares
``round(dist, 6) <= RADIUS_KM`` on BOTH sides so a boundary pair
cannot flip between engines, and the emitted distance is rounded to
3 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

RADIUS_KM = 150.0
EARTH_R_KM = 6371.0088  # IUGG mean Earth radius

# Cell sizing: lat spans RADIUS_KM/111.045 = 1.35 deg; lon spans
# RADIUS_KM/(111.045*cos(45 deg)) = 1.91 deg at the worst latitude in
# the derived range (|lat| < 45). CELL = 2.0 deg > both, so the 3x3
# neighbor ring is a complete cover for any pair within RADIUS_KM.
_CELL_DEG = 2.0


def _lat(key: Column) -> Column:
    return -45.0 + (key * 7919 % 9000) / 100.0


def _lon(key: Column) -> Column:
    return -20.0 + (key * 104729 % 4000) / 100.0


_ORACLE_LAT = "(-45.0 + ({k} * 7919 % 9000) / 100.0)"
_ORACLE_LON = "(-20.0 + ({k} * 104729 % 4000) / 100.0)"


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km — pure JVM trig, codegen-friendly."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(
        dlon
    ) * F.sin(dlon)
    return 2 * EARTH_R_KM * F.asin(F.sqrt(a))


def _oracle_haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2 * {EARTH_R_KM} * asin(sqrt("
        f"sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)))"
    )


def with_cell(df: DataFrame, lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Attach the integer grid cell (cx, cy)."""
    return df.withColumn("cx", F.floor(F.col(lat) / _CELL_DEG)).withColumn(
        "cy", F.floor(F.col(lon) / _CELL_DEG)
    )


def cell_radius_join(
    probe: DataFrame, build: DataFrame, radius_km: float = RADIUS_KM
) -> DataFrame:
    """All (probe, build) pairs within ``radius_km``; inputs need
    (key, lat, lon) columns named ``p_key/lat/lon`` and
    ``b_key/lat/lon``. Probe explodes into its 3x3 cell ring; the
    join is an equi-join on the cell ints."""
    ring = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    p = (
        with_cell(probe)
        .withColumn("_d", F.explode(ring))
        .select(
            "p_key",
            F.col("lat").alias("p_lat"),
            F.col("lon").alias("p_lon"),
            (F.col("cx") + F.col("_d.dx")).alias("jx"),
            (F.col("cy") + F.col("_d.dy")).alias("jy"),
        )
    )
    b = with_cell(build).select(
        "b_key",
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    dist = haversine_km(F.col("p_lat"), F.col("p_lon"), F.col("b_lat"), F.col("b_lon"))
    return (
        p.join(b, ["jx", "jy"])
        .withColumn("_raw", dist)
        # filter on round(6) (the shared boundary fence) but emit
        # round(raw, 3) — rounding the RAW value once, exactly as the
        # oracle does; round(round(raw,6),3) would double-round and
        # diverge at 3-decimal half boundaries (review finding)
        .filter(F.round(F.col("_raw"), 6) <= radius_km)
        .select("p_key", "b_key", F.round(F.col("_raw"), 3).alias("dist_km"))
    )


_CLAT = _ORACLE_LAT.format(k="c_custkey")
_CLON = _ORACLE_LON.format(k="c_custkey")
_SLAT = _ORACLE_LAT.format(k="s_suppkey")
_SLON = _ORACLE_LON.format(k="s_suppkey")


def _customer_supplier_points(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Customers as (p_key, lat, lon) and suppliers as (b_key, lat,
    lon) points, placed by their keys: the two sides of
    cell_radius_join."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("p_key"),
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("b_key"),
        _lat(F.col("s_suppkey")).alias("lat"),
        _lon(F.col("s_suppkey")).alias("lon"),
    )
    return cust, supp


@query(
    "geo_cell_radius_join",
    oracle=f"""
    SELECT c.c_custkey AS custkey, s.s_suppkey AS suppkey,
           round({_oracle_haversine(_CLAT, _CLON, _SLAT, _SLON)}, 3) AS dist_km
    FROM customer c CROSS JOIN supplier s
    WHERE round({_oracle_haversine(_CLAT, _CLON, _SLAT, _SLON)}, 6) <= {RADIUS_KM}
    ORDER BY custkey, suppkey
    """,
)
def geo_cell_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers within RADIUS_KM of a supplier, via the grid-cell
    equi-join (module docstring). The DuckDB oracle runs the naive
    cross-join + filter — same result set, quadratic plan the Spark
    side exists to avoid (plan-gated: no CartesianProduct,
    tests/test_plan_hygiene.py)."""
    cust, supp = _customer_supplier_points(spark, sf_dir)
    return (
        cell_radius_join(cust, supp)
        .select(
            F.col("p_key").alias("custkey"),
            F.col("b_key").alias("suppkey"),
            "dist_km",
        )
        .orderBy("custkey", "suppkey")
    )


@query(
    "geo_nearest_supplier",
    oracle=f"""
    WITH pairs AS (
        SELECT c.c_custkey AS custkey, s.s_suppkey AS suppkey,
               round({_oracle_haversine(_CLAT, _CLON, _SLAT, _SLON)}, 3)
                   AS dist_km
        FROM customer c CROSS JOIN supplier s
        WHERE round({_oracle_haversine(_CLAT, _CLON, _SLAT, _SLON)}, 6)
              <= {RADIUS_KM}
    )
    SELECT custkey, suppkey, dist_km
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY custkey ORDER BY dist_km, suppkey) AS rk
        FROM pairs
    )
    WHERE rk = 1
    ORDER BY custkey
    """,
)
def geo_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial NEAREST-neighbor join: each customer's closest supplier
    within RADIUS_KM (the grid-cell cover makes the candidate set
    complete for that radius; customers with no supplier in range are
    absent — the documented bounded-search trade). Same cell
    machinery as the radius join plus one per-customer window;
    ordering fences on the 3-decimal distance with the supplier key
    as the total-order tiebreak, identical on both engines."""
    cust, supp = _customer_supplier_points(spark, sf_dir)
    from pyspark.sql import Window

    pairs = cell_radius_join(cust, supp)
    w = Window.partitionBy("p_key").orderBy("dist_km", "b_key")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("p_key").alias("custkey"),
            F.col("b_key").alias("suppkey"),
            "dist_km",
        )
        .orderBy("custkey")
    )
