"""Admin assignment — join J1: point/pixel -> admin polygon.

Two-stage spatial join (SURVEY.md §2.3 J1, replacing the reference's
exactextract call at src/geoglue/zonalstats.py:44-62):

  1. COARSE (shuffle-free): the fact table computes its grid cell id as a
     pure JVM arithmetic column and broadcast-hash-joins the compact
     ``cell_id -> (admin_id, interior)`` cover table. Interior-cell hits are
     final — no Python runs for them (the overwhelming majority: for
     1-degree admins on a 0.04-degree grid, ~95 % of cells are interior).
  2. REFINE (map-side, Arrow): boundary-cell candidates go through a
     vectorized NumPy ray-cast pandas UDF against the polygon set shipped
     once per executor as a Spark broadcast variable.

No shuffle anywhere in the join itself; the only shuffle in an
assignment+aggregation pipeline is the final groupBy — which Spark
partial-aggregates map-side. This is the property that holds at 100 TB:
cost is one scan + one broadcast + one partial-agg shuffle.
"""

from __future__ import annotations

import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geometry import wkb_to_rings
from ..grids import Grid
from ..pip import PreparedGeom, points_in_geom

# per-executor cache: stable UDF-construction token -> {admin_id: PreparedGeom}.
# Keyed by a uuid baked into each UDF closure, NOT id(bc): Python id() values
# are reused after GC, so on a long-lived executor a new broadcast could alias
# a dead one's entries and silently return the wrong prepared geometry.
# Bounded: each token maps a full polygon set (~47k PreparedGeoms at world
# scale), so only the most recent _PREP_CACHE_MAX tokens are kept — a
# long-lived executor serving many assign jobs evicts dead jobs' geometry
# instead of accumulating until OOM. dict preserves insertion order.
_PREP_CACHE: dict[str, dict[str, PreparedGeom]] = {}
_PREP_CACHE_MAX = 4


def _prepared(token: str, bc, admin_id: str) -> PreparedGeom:
    cache = _PREP_CACHE.get(token)
    if cache is None:
        while len(_PREP_CACHE) >= _PREP_CACHE_MAX:
            _PREP_CACHE.pop(next(iter(_PREP_CACHE)))
        cache = _PREP_CACHE[token] = {}
    prep = cache.get(admin_id)
    if prep is None:
        prep = PreparedGeom(wkb_to_rings(bc.value[admin_id]))
        cache[admin_id] = prep
    return prep


def make_keep_udf(spark: SparkSession, admin_wkb: dict[str, bytes]):
    """Boolean pandas UDF ``keep(admin_id, interior, lon, lat)`` — the
    single-pass assignment kernel.

    Interior-cell rows short-circuit to True without touching geometry;
    only the boundary subset of each Arrow batch runs the vectorized
    ray-cast, grouped by admin. The Arrow transfer carries just these four
    pruned columns — payload columns (image bytes, captions) never leave
    the JVM."""
    bc = spark.sparkContext.broadcast(admin_wkb)
    token = uuid.uuid4().hex

    @F.pandas_udf(T.BooleanType())
    def keep_udf(
        admin_id: pd.Series, interior: pd.Series, lon: pd.Series, lat: pd.Series
    ) -> pd.Series:
        out = interior.to_numpy(dtype=bool, copy=True)
        boundary = ~out
        if boundary.any():
            lon_np = lon.to_numpy(np.float64)
            lat_np = lat.to_numpy(np.float64)
            sub = admin_id[boundary]
            for aid, idx in sub.groupby(sub).groups.items():
                ii = np.asarray(idx)
                out[ii] = points_in_geom(
                    lon_np[ii], lat_np[ii], _prepared(token, bc, aid)
                )
        return pd.Series(out)

    return keep_udf


def with_cell_id(
    df: DataFrame, grid: Grid, lon_col: str = "lon", lat_col: str = "lat"
) -> DataFrame:
    return df.withColumn("cell_id", grid.cell_id_col(F.col(lon_col), F.col(lat_col)))


def assign_admin(
    points: DataFrame,
    cover: DataFrame,
    admin_wkb: dict[str, bytes],
    grid: Grid,
    lon_col: str = "lon",
    lat_col: str = "lat",
    unique_on: str | None = None,
    blocks: DataFrame | None = None,
    block_shift: int = 4,
) -> DataFrame:
    """Assign each point row to the admin polygon containing it.

    Returns the input columns + ``admin_id``. Points in no polygon are
    dropped (inner semantics, like exact_extract ignoring outside cells).

    ``unique_on``: optional point-id column; when set, a point that lands in
    several polygons (measure-zero shared-edge case) keeps the smallest
    admin_id — deterministic across parallelism levels. Costs one extra
    shuffle, so leave None for continuous coordinates.

    ``blocks``: optional compacted interior-block table from
    :func:`cover.compact_cover` (same ``block_shift``). The join becomes
    two-level — cell-level broadcast join for boundary/residual cells plus
    a block-level broadcast join for compacted interiors — which keeps the
    broadcast small on fine grids (interior rows compress ~(2^shift)^2x).
    Still ONE scan and zero shuffles; block hits are interior by
    construction so they skip the ray-cast entirely.

    Single-pass plan (scan -> BHJ -> one Arrow filter -> done): the source
    is scanned exactly ONCE (a unioned interior/boundary split would read a
    100 TB fact table twice), and the Arrow boundary carries only
    (admin_id, interior, lon, lat) — payloads stay JVM-side.
    """
    spark = points.sparkSession
    pts = with_cell_id(points, grid, lon_col, lat_col)
    out_cols = [c for c in points.columns] + ["admin_id"]
    keep_udf = make_keep_udf(spark, admin_wkb)

    if blocks is None:
        cov = F.broadcast(cover.select("cell_id", "admin_id", "interior"))
        cand = pts.join(cov, "cell_id", "inner")
    else:
        from ..cover import join_cover_two_level

        cand = join_cover_two_level(
            pts, cover.select("cell_id", "admin_id", "interior"),
            blocks, grid, block_shift,
        ).withColumn("interior", F.coalesce("interior", F.col("_block_hit")))

    assigned = cand.filter(
        keep_udf(F.col("admin_id"), F.col("interior"), F.col(lon_col), F.col(lat_col))
    ).select(*out_cols)

    if unique_on is not None:
        others = [c for c in out_cols if c != unique_on and c != "admin_id"]
        assigned = assigned.groupBy(unique_on, *others).agg(
            F.min("admin_id").alias("admin_id")
        )
    return assigned


def assign_tiles_fractional(
    tiles: DataFrame,
    cover: DataFrame,
    grid: Grid,
    tile_w_deg: float,
    tile_h_deg: float,
    id_cols: list[str] | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    blocks: DataFrame | None = None,
    block_shift: int = 4,
    max_fanout: int = 4096,
) -> DataFrame:
    """Fractional tile -> admin assignment for footprints that SPAN
    admin boundaries (north-rule 'tiling engine': a geocoded image tile is
    a bbox, not a point — BASELINE.json north_star; the reference's
    exactextract analog for *cells* is zonalstats.py:44-62).

    ``blocks``: optional compacted interior-block table from
    ``cover.compact_cover`` (same ``block_shift``) — the same two-level
    join assignment and zonal use, so fine-grid world covers stay
    broadcastable (block hits are fully interior: coverage 1).

    Each tile is the bbox ``[lon +/- w/2] x [lat +/- h/2]`` around its
    center. The tile explodes to its candidate grid cells (bounded
    fan-out: at most (w/dx+2) x (h/dy+2), independent of admin count
    — +2 because both bbox edges can land mid-cell), broadcast-
    equi-joins the cell cover, and per (tile, admin) sums
    ``coverage x area(cell INTERSECT tile) / area(tile)`` — all pure
    Column arithmetic inside codegen, one shuffle (the final groupBy).

    Output: ``id_cols + (admin_id, frac)``, one row per overlapped admin,
    ``frac`` in (0, 1]. Fractions are exact when admin boundaries align
    with cell edges (coverage is then 0/1 per cell) and carry the cover's
    supersampling resolution otherwise. Off-grid tile area finds no cover
    row and counts as unassigned — fractions never sum above 1.

    Cell indices are range-FILTERED, not clamped: an out-of-domain index
    must be dropped before forming ``cell_id`` (clamping would alias e.g.
    (ix=-1, iy=5) onto the edge cell of the previous row and mis-assign
    border tiles).

    ``max_fanout`` guards the explode volume: per-tile fan-out is
    (w/dx+2) x (h/dy+2) cells, so a 2-degree scene footprint on a
    0.01-degree grid would explode 40k+ rows per tile — at 10^9 tiles
    that is a 10^13-row intermediate, invisible at test scale and fatal
    at 100 TB. Over the cap the call raises with the arithmetic; fix by
    assigning on a coarser grid (fractions are grid-resolution exact
    anyway) or pre-aggregating footprints.
    """
    id_cols = id_cols or [c for c in tiles.columns if c not in (lon_col, lat_col)]
    if not id_cols:
        raise ValueError(
            "assign_tiles_fractional needs at least one tile-identifying "
            "column: with no id_cols the per-admin groupBy would sum "
            "_contrib across EVERY tile, silently violating the "
            "frac in (0, 1] contract — add a tile id or pass id_cols"
        )
    hw, hh = tile_w_deg / 2.0, tile_h_deg / 2.0
    fanout = (int(tile_w_deg / grid.dx) + 2) * (int(tile_h_deg / grid.dy) + 2)
    if fanout > max_fanout:
        raise ValueError(
            f"assign_tiles_fractional: per-tile fan-out {fanout} cells "
            f"(({tile_w_deg}/{grid.dx}+2) x ({tile_h_deg}/{grid.dy}+2)) exceeds "
            f"max_fanout={max_fanout}; at N tiles the explode is N x {fanout} "
            "rows — use a coarser assignment grid (fractions stay exact at "
            "cell-edge-aligned boundaries) or raise max_fanout deliberately"
        )
    x1 = F.col(lon_col) - F.lit(hw)
    x2 = F.col(lon_col) + F.lit(hw)
    y1 = F.col(lat_col) - F.lit(hh)
    y2 = F.col(lat_col) + F.lit(hh)
    ix_lo = F.floor((x1 - F.lit(grid.x0)) / F.lit(grid.dx)).cast("long")
    ix_hi = F.floor((x2 - F.lit(grid.x0)) / F.lit(grid.dx)).cast("long")
    iy_lo = F.floor((y1 - F.lit(grid.y0)) / F.lit(grid.dy)).cast("long")
    iy_hi = F.floor((y2 - F.lit(grid.y0)) / F.lit(grid.dy)).cast("long")

    ex = (
        tiles.select(
            *id_cols,
            x1.alias("_x1"), x2.alias("_x2"), y1.alias("_y1"), y2.alias("_y2"),
            F.explode(F.sequence(ix_lo, ix_hi)).alias("_ix"),
            F.sequence(iy_lo, iy_hi).alias("_iys"),
        )
        .select("*", F.explode("_iys").alias("_iy"))
        .drop("_iys")
        .filter(
            (F.col("_ix") >= 0) & (F.col("_ix") < grid.nx)
            & (F.col("_iy") >= 0) & (F.col("_iy") < grid.ny)
        )
        .withColumn("cell_id", F.col("_iy") * F.lit(int(grid.nx)) + F.col("_ix"))
    )
    cx1 = F.lit(grid.x0) + F.col("_ix") * F.lit(grid.dx)
    cy1 = F.lit(grid.y0) + F.col("_iy") * F.lit(grid.dy)
    ox = F.greatest(
        F.lit(0.0),
        F.least(F.col("_x2"), cx1 + F.lit(grid.dx)) - F.greatest(F.col("_x1"), cx1),
    )
    oy = F.greatest(
        F.lit(0.0),
        F.least(F.col("_y2"), cy1 + F.lit(grid.dy)) - F.greatest(F.col("_y1"), cy1),
    )
    cover_cols = cover.select("cell_id", "admin_id", "coverage")
    if blocks is None:
        joined = ex.join(F.broadcast(cover_cols), "cell_id")
    else:
        from ..cover import join_cover_two_level

        joined = join_cover_two_level(
            ex, cover_cols, blocks, grid, block_shift
        ).withColumn("coverage", F.coalesce("coverage", F.lit(1.0)))
    contrib = F.col("coverage") * ox * oy / F.lit(tile_w_deg * tile_h_deg)
    raw = joined.withColumn("_contrib", contrib).filter(F.col("_contrib") > 0)
    return raw.groupBy(*id_cols, "admin_id").agg(F.sum("_contrib").alias("frac"))


def assign_admin_sql_plan(points_with_admin: DataFrame) -> str:
    """Human-readable physical plan for tuning (BroadcastHashJoin check)."""
    return points_with_admin._jdf.queryExecution().explainString("formatted")
