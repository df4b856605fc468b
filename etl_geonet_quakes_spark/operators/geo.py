"""Geo operator kit: great-circle distance, proximity ranking and
grid-cell bucketing in pure column algebra.

The reference's whole domain is geospatial (GeoNet earthquake
features, lon/lat/depth coordinates — /root/reference/task.ts:228-233
rewrites the 3-D geometry), yet it computes nothing FROM the
coordinates. This module supplies the geo analytics a quake consumer
actually runs: how far is each event from a point of interest, which
events are nearest, and which coarse grid cell (the spatial
partitioning key) each falls in.

Determinism: haversine is sin/cos/atan2 over doubles — libm vs JVM
Math can drift by ~1 ulp, so distances are rounded to 4 decimal km
(0.1 m) for cross-engine display parity and ranking ties are broken
by the event id. All math is column algebra (whole-stage codegen);
no UDF.

At scale: distance + cell derivation are narrow per-row projections
(scan-stage, embarrassingly parallel); grid bucketing IS the spatial
shuffle key — a geo join at 100 TB equi-joins on the cell (plus
neighbor cells for radius queries) exactly like LSH bands bucket the
similarity join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.functions import knuth_mod32
from etl_geonet_quakes_spark.io import load_table

# Wellington, NZ — the reference feed's home audience.
POI_LAT = -41.2889
POI_LON = 174.7772
EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (haversine form — numerically stable
    for small angles, unlike the spherical law of cosines)."""
    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return 2 * EARTH_RADIUS_KM * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def grid_cell(lat: Column, lon: Column, cell_deg: float = 1.0) -> Column:
    """Integer grid-cell id from a (lat, lon) pair: floor-bucketed
    degrees packed as cell_lat * 360/cell + cell_lon — THE spatial
    partitioning/join key (radius queries probe the 3×3 neighbor
    block, the geo analog of LSH band buckets)."""
    n_lon = int(round(360 / cell_deg))
    cy = F.floor((lat + 90.0) / cell_deg).cast("long")
    cx = F.floor((lon + 180.0) / cell_deg).cast("long")
    return cy * n_lon + cx


def quake_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quake geo analytics over the GeoNet fixture: haversine
    distance from Wellington, proximity rank (nearest first, publicID
    tie-break), and the 1° grid cell — the columns a 'quakes near me'
    consumer derives from the reference's raw geometry
    (task.ts:228-233 ships lon/lat untouched; this computes with it).

    ``sf_dir`` is unused (the fixture is the geo source, as in
    q02/q03) but kept for the registry signature."""
    from etl_geonet_quakes_spark.io import read_geojson
    from etl_geonet_quakes_spark.quakes import GEONET_FIXTURE_JSON, GEONET_RESPONSE_SCHEMA
    from pyspark.sql import Window

    raw = read_geojson(spark, GEONET_FIXTURE_JSON, GEONET_RESPONSE_SCHEMA)
    f = raw.select(F.explode("features").alias("f")).select(
        F.col("f.properties.publicID").alias("public_id"),
        F.col("f.geometry.coordinates").getItem(0).alias("lon"),
        F.col("f.geometry.coordinates").getItem(1).alias("lat"),
        F.col("f.properties.magnitude").alias("magnitude"),
    )
    dist = haversine_km(
        F.col("lat"), F.col("lon"), F.lit(POI_LAT), F.lit(POI_LON)
    )
    w = Window.orderBy("dist_km", "public_id")
    return (
        f.select(
            "public_id",
            "magnitude",
            F.round(dist, 4).alias("dist_km"),
            grid_cell(F.col("lat"), F.col("lon")).alias("cell_id"),
        )
        .withColumn("proximity_rank", F.row_number().over(w))
        .orderBy("proximity_rank")
    )


def haversine_km_py(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Reference implementation for tests (same formula, python math)."""
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(rlat1) * math.cos(rlat2) * math.sin(dlon / 2) ** 2
    )
    return 2 * EARTH_RADIUS_KM * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _pseudo_coord(key: Column, mult: int, base: float, span: float) -> Column:
    """Deterministic pseudo-coordinate from an integer key: Knuth-style
    multiplicative hash → exact [0,1) rational → affine map. The
    division and affine arithmetic are doubles over exact integers, so
    every engine computes the identical coordinate."""
    # decimal-path hash: overflow-free at any bigint key (sf1.0 find)
    frac = knuth_mod32(key, mult) / F.lit(4294967296.0)
    return F.lit(base) + F.lit(span) * frac


def spatial_join(spark: SparkSession, sf_dir: str,
                 radius_km: float = 25.0, cell_deg: float = 0.5,
                 hot_chunks: int | None = None) -> DataFrame:
    """Spatial radius join: supplier–customer pairs within
    ``radius_km`` great-circle km — the geo join q138's grid cell
    exists to serve, in its scalable form:

    1. both point sets bucket into ``cell_deg`` grid cells;
    2. the smaller side EXPLODES to its 3×3 neighbor-cell block
       (bounded 9× fan-out) and equi-joins on the cell id — the geo
       analog of an LSH band join; NO cross join ever exists;
    3. the exact haversine predicate filters candidates.

    Completeness: at NZ latitudes (|lat| ≤ 47°) 25 km spans ≤ 0.34°
    of longitude (111.32·cos 47° ≈ 75.9 km/°) and ≤ 0.23° of
    latitude, both < cell_deg = 0.5, so any qualifying pair lands in
    the same or an adjacent cell — the 3×3 probe cannot miss
    (asserted in tests against the unblocked brute force).

    Coordinates are deterministic pseudo-locations hashed from the
    keys (the fixture ships no geography); the SAME hash runs in the
    oracle, so the join itself — blocking, probe, predicate — is what
    the cross-engine hash check certifies.

    At scale: the neighbor-explode side should be the smaller input
    (suppliers); the join is a plain equi-shuffle (or broadcast when
    the dim side fits). A HOT city-cell (both sides dense in one
    cell) is quadratic by nature; ``hot_chunks=C`` parallelizes it
    with the same deterministic fragment-replicate chunking as the
    interval join (q170): each point hashes to one of C chunks, each
    side replicates across the other side's C chunk ids, join key
    becomes (cell, chunk_s, chunk_c) — every pair meets exactly
    once, ×C shuffle for ×C² smaller max-task candidate work
    (pinned by test_hot_cell_chunking_*). ``hot_chunks=None``
    (default) AUTO-selects C from a pre-flight max per-cell
    supplier×customer pair-work aggregate (operators/chunking.py):
    C = 1 — the plain plan — unless a measured hot cell exceeds the
    per-task budget."""
    n_lon = int(round(360 / cell_deg))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        _pseudo_coord(F.col("c_custkey"), 2654435761, -47.0, 13.0).alias("clat"),
        _pseudo_coord(F.col("c_custkey"), 2246822519, 166.0, 13.0).alias("clon"),
    )
    cust = cust.withColumn(
        "cell", grid_cell(F.col("clat"), F.col("clon"), cell_deg)
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        _pseudo_coord(F.col("s_suppkey"), 2654435761, -47.0, 13.0).alias("slat"),
        _pseudo_coord(F.col("s_suppkey"), 2246822519, 166.0, 13.0).alias("slon"),
    )
    cy = F.floor((F.col("slat") + 90.0) / cell_deg).cast("long")
    cx = F.floor((F.col("slon") + 180.0) / cell_deg).cast("long")
    probe_cells = F.array(
        *[
            (cy + dy) * n_lon + (cx + dx)
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    supp = supp.withColumn("cell", F.explode(probe_cells))
    join_on = ["cell"]
    if hot_chunks is None:
        from etl_geonet_quakes_spark.operators.chunking import (
            auto_chunks_bipartite,
        )
        hot_chunks = auto_chunks_bipartite(supp, cust, ["cell"])
    if hot_chunks > 1:
        rep = F.explode(F.array(*[F.lit(i) for i in range(hot_chunks)]))
        supp = supp.withColumn(
            "cs", F.pmod(F.hash("suppkey"), F.lit(hot_chunks))
        ).withColumn("cc", rep)
        cust = cust.withColumn(
            "cc", F.pmod(F.hash("custkey"), F.lit(hot_chunks))
        ).withColumn("cs", rep)
        join_on += ["cs", "cc"]
    dist = haversine_km(
        F.col("slat"), F.col("slon"), F.col("clat"), F.col("clon")
    )
    # membership tests the 4dp-ROUNDED distance (both engines): the
    # raw double can drift ~1 ulp between JVM and libm trig, and a
    # pair sitting exactly on the radius must not flip between
    # engines — same compare-the-rounded-value policy as
    # token_entropy's flag
    return (
        supp.join(cust, join_on)
        .filter(F.round(dist, 4) <= radius_km)
        .select(
            "suppkey",
            "custkey",
            F.round(dist, 4).alias("dist_km"),
        )
        .orderBy("suppkey", "custkey")
    )


def getis_ord_hotspots(spark: SparkSession, sf_dir: str,
                       cell_deg: float = 0.5, top_n: int = 15) -> DataFrame:
    """Getis–Ord G*ᵢ hot-spot statistic over the customer point grid:
    for each occupied cell, the z-scored 3×3-neighborhood
    concentration of customer counts — the SPATIAL-STATISTICS member
    of the geo kit (q138 buckets, q142 joins; this one asks 'where is
    density significantly above random'). Convention: the statistic
    is taken over OCCUPIED cells (the fixture's hashed-uniform points
    occupy virtually the whole grid; absent cells carry no weight and
    are excluded from n_i — documented, mirrored in the oracle).

    G*ᵢ = (Σ_{j∈N(i)} x_j − x̄·nᵢ) / (S·√((N·nᵢ − nᵢ²)/(N−1))) with
    x = cell count, N(i) the 3×3 block including self. Everything
    folds from exact integers: cell counts, neighborhood sums and
    occupied-neighbor counts are longs (one 9× bounded explode +
    equi-join on the bounded cell frame — the q142 blocking pattern,
    never a distance join); x̄ and S come from exact Σx, Σx²; each
    z is one fixed-shape double expression, compared to the 1.959964
    two-sided 95% literal. Top-``top_n`` by (z desc, cell) — fully
    deterministic."""
    c = load_table(spark, sf_dir, "customer").select(
        _pseudo_coord(F.col("c_custkey"), 2654435761, -47.0, 13.0).alias("lat"),
        _pseudo_coord(F.col("c_custkey"), 2246822519, 166.0, 13.0).alias("lon"),
    )
    cells = c.groupBy(
        F.floor(F.col("lat") / cell_deg).cast("long").alias("cx"),
        F.floor(F.col("lon") / cell_deg).cast("long").alias("cy"),
    ).agg(F.count("*").alias("x"))
    tot = cells.agg(
        F.count("*").alias("n_cells"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # 9x bounded fan-out: each occupied cell contributes its count to
    # its 3x3 block, then an equi-join back onto the occupied frame
    off = F.explode(
        F.expr(
            "array(-1,0,1)"
        )
    )
    contrib = (
        cells.select("cx", "cy", "x", off.alias("dx"))
        .select("cx", "cy", "x", "dx", off.alias("dy"))
        .select(
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
            "x",
        )
    )
    nbr = contrib.groupBy("cx", "cy").agg(
        F.sum("x").alias("nb_sum"), F.count("*").alias("nb_cnt")
    )
    j = cells.join(nbr, ["cx", "cy"]).join(F.broadcast(tot))
    nd = F.col("n_cells").cast("double")
    xbar = F.col("sx").cast("double") / nd
    s = F.sqrt(F.col("sxx").cast("double") / nd - xbar * xbar)
    ni = F.col("nb_cnt").cast("double")
    z = (F.col("nb_sum").cast("double") - xbar * ni) / (
        s * F.sqrt((nd * ni - ni * ni) / (nd - F.lit(1.0)))
    )
    return (
        j.select(
            "cx",
            "cy",
            "x",
            F.col("nb_sum").alias("neighborhood_count"),
            F.col("nb_cnt").alias("n_neighbors"),
            F.round(z, 6).alias("g_star_z"),
            (F.abs(z) > F.lit(1.959964)).cast("long").alias("significant_95"),
        )
        .orderBy(F.desc("g_star_z"), "cx", "cy")
        .limit(top_n)
    )
