"""Point-in-polygon spatial join: pages × zone polygons.

THE core operator (north rule). Reference semantics: `spatialJoin` mode A —
each source row gets the id of the zone containing its point
(`/root/reference/geoindicators/.../SpatialUnits.groovy:510-515`,
``ST_POINTONSURFACE(a) && b AND ST_INTERSECTS``), boundary-inclusive, with
deterministic lowest-id tie-break at shared boundaries (convention of
`RsuIndicators.groovy:955-957`).

Spark-first physical strategy (filter-and-refine, SURVEY.md §4):

1. zones (small dim, driver-side) are exploded into a covering of grid cells
   at an auto-picked resolution, each flagged *full* (cell entirely inside the
   zone) or *partial* — the ST_SUBDIVIDE + spatial-index analogue;
2. the page side derives its cell key with pure column arithmetic (codegen'd,
   no UDF) and **broadcast hash joins** the covering — no shuffle of the big
   side, filters/pruning push into the parquet scan;
3. only rows landing in *partial* cells run the exact vectorized
   ray-cast refine (Arrow-batched pandas UDF over the broadcast zone dim) —
   at a sane covering resolution that's the boundary sliver, a few % of rows;
4. the winning zone per page is ``min(zone_id)`` — a partial-aggregable
   (map-side combine) commutative agg, so the only shuffle in the operator is
   (key, zone_id) pairs, never the wide page rows.

At 100 TB: step 2's broadcast is a few MB of (cell → zone) pairs even for
10^5 zones; skew from dense urban cells is irrelevant to the join itself
(broadcast, no key shuffle) and handled at aggregation time by AQE +
salted two-phase aggs (see operators/zonal.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry, grid
from ..sources.layers import Zone, zone_covering


def pick_cover_res(zones: list[Zone], max_cells: int = 20_000) -> int:
    """Finest resolution whose total bbox covering stays under max_cells."""
    best = 0
    for res in range(0, grid.MAX_RES + 1):
        w = grid.cell_width_deg(res)
        total = 0
        for z in zones:
            lo0, la0, lo1, la1 = z.bbox
            total += (int((lo1 - lo0) / w) + 2) * (int((la1 - la0) / (w / 2) / 2) + 2)
        if total > max_cells:
            return best
        best = res
    return best


def covering_df(spark, zones: list[Zone], res: int) -> DataFrame:
    cell, zid, full = zone_covering(zones, res)
    pdf = pd.DataFrame({"z_cell": cell, "zone_id": zid, "z_full": full})
    return spark.createDataFrame(pdf)


def _pip_refine_udf(zones: list[Zone]):
    """(lon_e6, lat_e6, zone_id) -> bool, vectorized per zone within a batch.

    The zones list rides the UDF closure → serialized once per task via the
    broadcast-like closure mechanism (small dim).
    """
    polys = {z.zone_id: z.poly for z in zones}

    @F.pandas_udf(T.BooleanType())
    def pip(lon_e6: pd.Series, lat_e6: pd.Series, zone_id: pd.Series) -> pd.Series:
        px = lon_e6.to_numpy(np.float64) / grid.LON_SCALE
        py = lat_e6.to_numpy(np.float64) / grid.LON_SCALE
        zid = zone_id.to_numpy(np.int64)
        out = np.zeros(len(px), dtype=bool)
        for z in np.unique(zid):
            m = zid == z
            out[m] = geometry.points_in_polygon(px[m], py[m], polys[int(z)])
        return pd.Series(out)

    return pip


def _rect_bounds_e6(zones: list[Zone]) -> dict[int, tuple[int, int, int, int]] | None:
    """If EVERY zone is an axis-aligned rectangle whose edges sit exactly on
    the integer-µ° grid, return {zone_id: (lon0,lat0,lon1,lat1) int µ°};
    else None. Both conditions are required for the codegen fast path to be
    bit-equivalent to the ray-cast refine: rectangles make PIP four
    comparisons, and exact-µ° edges make the integer comparison identical to
    the float boundary-inclusive test (points only ever live on the µ° grid,
    so a non-grid edge could disagree within the snap gap)."""
    out: dict[int, tuple[int, int, int, int]] = {}
    for z in zones:
        p = np.asarray(z.poly, np.float64)
        if p.shape != (4, 2):
            return None
        lo0, la0, lo1, la1 = z.bbox
        corners = {(lo0, la0), (lo1, la0), (lo1, la1), (lo0, la1)}
        if {(float(x), float(y)) for x, y in p} != corners:
            return None
        e6 = [v * grid.LON_SCALE for v in (lo0, la0, lo1, la1)]
        snapped = [float(np.floor(v + 0.5)) for v in e6]
        if any(abs(v - s) > 1e-3 for v, s in zip(e6, snapped)):
            return None
        out[z.zone_id] = tuple(int(s) for s in snapped)
    return out


_DIM_CACHE: dict = {}


def _rect_cell_dim_df(spark, zones: list[Zone], res: int,
                      bounds: dict[int, tuple[int, int, int, int]]) -> DataFrame:
    """ONE row per covering cell: the lowest fully-covering zone id plus the
    (ascending-id) list of partially-covering rectangles as int-µ° bounds.
    The per-cell pre-aggregation is what makes the page-side join 1:1.

    Built once per (session, zones, res) and materialized JVM-side at
    build time (``localCheckpoint``). A bare ``createDataFrame`` of the
    local rows ships nothing eagerly: its leaf is a ``Scan ExistingRDD``
    over pickled Python rows, so every query's broadcast unpickled every
    cell again — for the climate-band zones' 131,072 cells, 0.41–0.43 s of
    "time to collect" per query on a 4-vCPU host. From checkpointed JVM
    rows their whole broadcast takes 0.10–0.15 s. The dim is immutable for
    a given zone set, so reuse is exact."""
    ckey = (id(spark), res, tuple((z.zone_id, z.bbox) for z in zones))
    if ckey in _DIM_CACHE:
        return _DIM_CACHE[ckey]
    cell, zid, full = zone_covering(zones, res)
    # the covering is driver-side already (small dim) — aggregate it here so
    # the dim reaches Spark as ONE row per cell, no dim-side exchange in
    # any consumer plan. lexsort on (cell, zid) makes group starts
    # contiguous and partial lists ascending-id by construction.
    order = np.lexsort((zid, cell))
    c, z, f = cell[order], zid[order], full[order]
    starts = (np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
              if len(c) else np.array([], np.int64))
    uc = c[starts]
    big = np.iinfo(np.int64).max
    fullmin = np.minimum.reduceat(np.where(f, z, big), starts)
    # partial lists: loop only the boundary rows (~perimeter cells), not the
    # full covering — at the 10× budget the vast majority of cells are
    # full-cover with an empty list
    partials: dict[int, list] = {}
    for i in np.flatnonzero(~f):
        zi = int(z[i])
        partials.setdefault(int(c[i]), []).append((zi, *bounds[zi]))
    rows = [(int(uc[j]),
             None if fullmin[j] == big else int(fullmin[j]),
             partials.get(int(uc[j]), []))
            for j in range(len(uc))]
    df = spark.createDataFrame(
        rows,
        "z_cell long, z_fullmin long, z_partials array<struct<"
        "zid:long,lon0:long,lat0:long,lon1:long,lat1:long>>").localCheckpoint()
    _DIM_CACHE[ckey] = df
    return df


def spatial_join_points(df: DataFrame, zones: list[Zone], key: str = "page_id",
                        lon: str = "lon_e6", lat: str = "lat_e6",
                        res: int | None = None, max_cells: int = 20_000,
                        passthrough: list[str] | None = None,
                        force_generic: bool = False) -> DataFrame:
    """Assign each row's point to its containing zone.

    Returns ``(key, zone_id, *passthrough)`` — one row per input row whose
    point lies in at least one zone; lowest zone_id wins on boundaries/
    overlaps. ``passthrough`` columns ride through the narrow aggregation
    (every candidate row of a key carries identical values, so ``first`` is
    deterministic) — avoids a second wide join at page scale.

    Physical strategy is picked per zone geometry:

    * **all-rectangle zones on the µ° grid** (the climate-band dim and any
      gridded zoning): ZERO-shuffle, ZERO-Python path. The covering is
      pre-aggregated to ONE row per cell (min fully-covering zone id + the
      short ascending list of partially-covering rects), so the page side
      does a single 1:1 broadcast hash join and resolves the winner with
      codegen'd integer comparisons (``filter``/``transform``/``array_min``
      over the per-cell rect list + ``least`` with the full-cover min).
      Nothing is exploded, nothing is shuffled, no Arrow round-trip — at
      100 TB the operator costs exactly one map pass over the pages.
    * **general convex polygons**: the original filter-and-refine — explode
      candidates against the covering, Arrow-batched ray-cast on
      partial-cell rows only, then a narrow min(zone_id) aggregation.

    Both paths are bit-equivalent (asserted in tests/test_spatial_join.py);
    ``force_generic=True`` pins the polygon path (tests).
    """
    spark = df.sparkSession
    passthrough = passthrough or []
    rect_bounds = None if force_generic else _rect_bounds_e6(zones)
    if res is None:
        # the rect path's covering is a per-cell dim (no explode), so a 10×
        # cell budget costs only broadcast bytes (~8 MB at 140k cells) while
        # shrinking boundary cells — measured 15% faster than the generic
        # budget (hotspot cells become full-cover with empty partial lists)
        res = pick_cover_res(zones,
                             max_cells * 10 if rect_bounds else max_cells)
    if rect_bounds is not None:
        dim = _rect_cell_dim_df(spark, zones, res, rect_bounds)
        pts = (df.where(F.col(lon).isNotNull())
                 .select(key, lon, lat, *passthrough)
                 .withColumn("_jcell", grid.cell_col(F.col(lon), F.col(lat), res)))
        j = pts.join(F.broadcast(dim), pts["_jcell"] == dim["z_cell"], "inner")
        lo, la = F.col(lon), F.col(lat)
        in_rect = lambda p: ((lo >= p["lon0"]) & (lo <= p["lon1"])
                             & (la >= p["lat0"]) & (la <= p["lat1"]))
        part_min = F.array_min(F.transform(
            F.filter(F.col("z_partials"), in_rect), lambda p: p["zid"]))
        zone = F.least(F.col("z_fullmin"), part_min)
        return (j.select(key, zone.alias("zone_id"), lon, lat, *passthrough)
                 .where(F.col("zone_id").isNotNull()))
    cov = covering_df(spark, zones, res)
    pip = _pip_refine_udf(zones)

    pts = (df.where(F.col(lon).isNotNull())
             .select(key, lon, lat, *passthrough)
             .withColumn("_jcell", grid.cell_col(F.col(lon), F.col(lat), res)))
    cand = pts.join(F.broadcast(cov), pts["_jcell"] == cov["z_cell"], "inner")
    hit = cand.where(F.col("z_full") | pip(F.col(lon), F.col(lat), F.col("zone_id")))
    # Passthrough + coords go in the GROUPING KEY, not first() buffers:
    # string agg buffers would force SortAggregate; as keys the plan stays a
    # HashAggregate with map-side combine (values identical per page, so the
    # grouping is still one group per page).
    out = (hit.groupBy(key, lon, lat, *passthrough)
           .agg(F.min("zone_id").alias("zone_id")))
    return out.select(key, "zone_id", lon, lat, *passthrough)


def spatial_join_points_np(lon_e6: np.ndarray, lat_e6: np.ndarray,
                           zones: list[Zone]) -> np.ndarray:
    """Driver-side numpy oracle (test use): containing zone id or -1."""
    px = np.asarray(lon_e6, np.float64) / grid.LON_SCALE
    py = np.asarray(lat_e6, np.float64) / grid.LON_SCALE
    out = np.full(len(px), -1, dtype=np.int64)
    for z in sorted(zones, key=lambda z: -z.zone_id):
        m = geometry.points_in_polygon(px, py, z.poly)
        out[m] = z.zone_id
    return out
