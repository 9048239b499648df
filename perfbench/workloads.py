"""The benchmark's workloads: set-up, one timed job, output check and the
layer metrics read from each job's executed plans.

Every call into the engine goes through geoglue_spark's public functions;
the spans around them are the per-layer boundaries. A job is plan
construction plus its action(s), run under job groups named by ``tag`` so
the event log can be split by phase afterwards."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from geoglue_spark.cover import COVER_SCHEMA, build_cover, compact_cover
from geoglue_spark.geometry import wkb_to_rings
from geoglue_spark.grids import Grid
from geoglue_spark.operators.assign import assign_admin
from geoglue_spark.operators.timeagg import daily_reduce, with_local_time
from geoglue_spark.operators.zonal import raster_zonal_stats, zonal_stats
from geoglue_spark.pip import PreparedGeom, points_in_geom
from geoglue_spark.queries import QUERY_GRID
from geoglue_spark.streaming.incremental import CheckpointManifest, run_incremental
from geoglue_spark.synth import admin_wiggly_geoms, admins_df

from . import inputs
from .eventlog import Node

BLOCKS_SCHEMA = "block_id long, admin_id string"
COVER_COLS = ["cell_id", "admin_id", "interior", "coverage"]
ZONAL_OPS = ["count", "mean", "sum", "min", "max"]


def _keys(node: Node) -> str:
    return node.desc.split("keys=[", 1)[-1].split("]", 1)[0]


def _aggregates(plans: list[Node], zonal: bool) -> tuple[list[Node], list[Node]]:
    """(partial, final) HashAggregate nodes; ``zonal`` picks those keyed by
    admin_id, otherwise the pixel-level (lat, lon) time aggregation ones.
    Other aggregates (the manifest's committed-set scan) are ignored."""
    partial, final = [], []
    for plan in plans:
        for n in plan.walk():
            keys = _keys(n)
            if not n.name.endswith("HashAggregate"):
                continue
            if ("admin_id" in keys) != zonal or not (zonal or ("lat" in keys and "lon" in keys)):
                continue
            (partial if "partial_" in n.desc else final).append(n)
    return partial, final


def _agg_metrics(prefix: str, plans: list[Node], zonal: bool) -> dict[str, float]:
    partial, final = _aggregates(plans, zonal)
    out = {
        f"{prefix}.input_rows": sum(
            c.first_output_rows() for p in partial for c in p.children
        ),
        f"{prefix}.groups": sum(f.metrics.get("number of output rows", 0.0) for f in final),
        f"{prefix}.agg_s": sum(
            n.metrics.get("time in aggregation build", 0.0) for n in partial + final
        ) / 1e3,
    }
    if zonal:
        out[f"{prefix}.partial_rows"] = sum(
            p.metrics.get("number of output rows", 0.0) for p in partial
        )
    else:
        out[f"{prefix}.shuffle_bytes"] = sum(
            n.metrics.get("shuffle bytes written", 0.0)
            for f in final
            for n in f.walk()
            if n.name == "Exchange"
        )
    return out


def pip_points_per_s(tr, n: int = 100_000, reps: int = 3) -> float:
    """Direct ``points_in_geom`` call on a fixed batch of boundary points:
    every point lies within 0.03 degrees of a side of the 256-vertex wiggly
    admin ADM2-44 (lon 104-105, lat 14-15), the ray-cast kernel's worst
    case. Same batch on every run and seed."""
    prep = PreparedGeom(wkb_to_rings(admin_wiggly_geoms()[44][3]))
    rng = np.random.default_rng(44)
    along = rng.random(n)
    off = (rng.random(n) - 0.5) * 0.06
    side = rng.integers(0, 4, n)
    lon = np.select([side == 0, side == 1, side == 2], [104 + along, 105 + off, 104 + along], 104 + off)
    lat = np.select([side == 0, side == 1, side == 2], [14 + off, 14 + along, 15 + off], 14 + along)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        with tr.span("pip.points_in_geom"):
            points_in_geom(lon, lat, prep)
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


class AssignHotspot:
    """1 M points, 80 % inside one admin's interior cells: the cover
    broadcast join, the Arrow keep filter and partial aggregation."""

    name = "assign_hotspot"

    def __init__(self, work: str, seed: int):
        self.inp = inputs.prepare_hotspot(work, seed)
        self.rows_per_job = self.inp["rows"]
        self.scale_rows = self.inp["rows"]

    # ---- set-up ----------------------------------------------------------
    def setup_pass(self, spark, tr) -> dict:
        with tr.span("synth.admins_df"):
            admins = admins_df(spark)
            self.wkb = {r.admin_id: bytes(r.geometry) for r in admins.collect()}
        t0 = time.perf_counter()
        with tr.span("cover.build_cover"):
            cover = build_cover(admins, QUERY_GRID, supersample=8)
        with tr.span("cover.pin"):  # the action: the cover is built here
            self.cover_pd = cover.toPandas()[COVER_COLS]
            self.attach(spark)
        cover_s = time.perf_counter() - t0
        return {
            "cover.build_s": cover_s,
            "cover.cells": len(self.cover_pd),
            "cover.blocks": 0,
            "cover.boundary_frac": float((~self.cover_pd["interior"]).mean()),
        }

    def attach(self, spark) -> None:
        """Re-create the pinned cover in (another) session: a driver-side
        local relation, so the broadcast build costs no job per query (the
        engine's own idiom for covers)."""
        self.cover = spark.createDataFrame(self.cover_pd, COVER_SCHEMA)

    # ---- job ---------------------------------------------------------------
    def _plan(self, spark, path: str, tr):
        with tr.span("read.parquet"):
            pts = spark.read.parquet(path)
        with tr.span("operators.assign.assign_admin"):
            assigned = assign_admin(pts, self.cover, self.wkb, QUERY_GRID)
        with tr.span("operators.zonal.zonal_stats"):
            return zonal_stats(assigned, "value", ZONAL_OPS)

    def job(self, spark, unit: str, tag, tr) -> dict:
        tag("build")
        t0 = time.perf_counter()
        with tr.span("plan"):
            df = self._plan(spark, self.inp["points"], tr)
        t1 = time.perf_counter()
        tag("exec")
        with tr.span("action.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
        return {
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "rows": self.rows_per_job,
            "result": {r["admin_id"]: [r["count"], r["sum"], r["min"], r["max"], r["mean"]] for r in rows},
        }

    def scale_job(self, spark, tr, warmup: bool = False) -> float:
        """The timed job's plan and action on the same input, without
        checks; ``warmup`` runs it on the small input instead."""
        t0 = time.perf_counter()
        self._plan(spark, self.inp["small" if warmup else "points"], tr).collect()
        return time.perf_counter() - t0

    # ---- output check --------------------------------------------------------
    def check(self, job: dict) -> list[str]:
        """count/sum/min/max must equal the NumPy reference exactly (integer
        values, so sums are exact); mean = sum / count."""
        ref, got = self.inp["reference"], job["result"]
        errs = []
        if set(got) != set(ref):
            errs.append(f"admin set differs: {sorted(set(got) ^ set(ref))[:5]}")
        for aid, (cnt, tot, lo, hi) in ref.items():
            g = got.get(aid)
            if g is None:
                continue
            if [g[0], g[1], g[2], g[3]] != [cnt, tot, lo, hi] or g[4] != tot / cnt:
                errs.append(f"{aid}: got {g}, expected {[cnt, tot, lo, hi, tot / cnt]}")
        return errs

    @staticmethod
    def corrupt(job: dict) -> dict:
        res = {k: list(v) for k, v in job["result"].items()}
        aid = sorted(res)[0]
        res[aid][0] += 1
        return {**job, "result": res}

    def finish(self, spark, jobs: list[dict]) -> list[dict]:
        return []

    # ---- layer metrics from the job's executed plans -------------------------
    @staticmethod
    def plan_metrics(plans: list[Node]) -> dict[str, float]:
        nodes = [n for p in plans for n in p.walk()]
        cand = sum(
            n.metrics.get("number of output rows", 0.0)
            for n in nodes
            if n.name == "BroadcastHashJoin"
        )
        py = [n for n in nodes if n.name == "ArrowEvalPython"]
        out = _agg_metrics("zonal", plans, zonal=True)
        kept = out["zonal.input_rows"]
        out.update(
            {
                "assign.candidates": cand,
                "assign.kept": kept,
                "assign.keep_ratio": kept / cand if cand else 0.0,
                "assign.arrow_rows": sum(n.first_output_rows() for n in py),
                "assign.arrow_bytes": sum(
                    n.metrics.get("data sent to Python workers", 0.0) for n in py
                ),
                "assign.python_s": sum(
                    n.metrics.get("time to run Python workers", 0.0) for n in py
                ) / 1e3,
            }
        )
        return out


class RasterDaily:
    """Hourly raster -> local time -> pixel daily mean -> coverage-weighted
    raster zonal stats over the two-level cover -> one committed partition
    per job through run_incremental; after the timed phase each job's call
    is repeated and must skip the committed partition."""

    name = "raster_daily"
    BLOCK_SHIFT = 2  # 4 x 4-cell blocks: a one-degree admin is 5 x 5 blocks

    def __init__(self, work: str, seed: int, run_dir: str):
        self.inp = inputs.prepare_raster(work, seed)
        self.rows_per_job = self.inp["day_rows"]
        self.scale_rows = self.inp["day_rows"]
        self.grid = Grid(
            x0=100.0, dx=inputs.RASTER_DX, nx=inputs.RASTER_N,
            y0=10.0, dy=inputs.RASTER_DX, ny=inputs.RASTER_N,
        )
        self.out = os.path.join(run_dir, "raster_out")
        self.n_jobs = 0
        shutil.rmtree(self.out, ignore_errors=True)

    # ---- set-up ----------------------------------------------------------
    def setup_pass(self, spark, tr) -> dict:
        with tr.span("synth.admins_df"):
            admins = admins_df(spark)
        t0 = time.perf_counter()
        with tr.span("cover.build_cover"):
            cover = build_cover(admins, self.grid, supersample=8).cache()
        with tr.span("cover.compact_cover"):
            cells, blocks = compact_cover(cover, self.grid, block_shift=self.BLOCK_SHIFT)
        with tr.span("cover.pin"):  # the actions: cover and compaction run here
            self.cells_pd = cells.select(*COVER_COLS).toPandas()
            self.blocks_pd = blocks.select("block_id", "admin_id").toPandas()
            cover.unpersist()
            self.attach(spark)
        cover_s = time.perf_counter() - t0
        return {
            "cover.build_s": cover_s,
            "cover.cells": len(self.cells_pd),
            "cover.blocks": len(self.blocks_pd),
            "cover.boundary_frac": float((~self.cells_pd["interior"]).mean()),
        }

    def attach(self, spark) -> None:
        # driver-side local relations, as in AssignHotspot.attach
        self.cells = spark.createDataFrame(self.cells_pd, COVER_SCHEMA)
        self.blocks = spark.createDataFrame(self.blocks_pd, BLOCKS_SCHEMA)

    # ---- job ---------------------------------------------------------------
    def _plan(self, spark, day: str, tr):
        with tr.span("read.parquet"):
            px = spark.read.parquet(os.path.join(self.inp["root"], f"day={day}"))
        with tr.span("operators.timeagg.with_local_time"):
            px = with_local_time(px, inputs.UTC_SHIFT)
        with tr.span("operators.timeagg.daily_reduce"):
            daily = daily_reduce(px, "mean", keys=["lat", "lon"], vartype="instant")
        with tr.span("operators.zonal.raster_zonal_stats"):
            return raster_zonal_stats(
                daily, self.cells, self.grid, ops=["count", "mean"], by_dims=["date"],
                blocks=self.blocks, block_shift=self.BLOCK_SHIFT,
            )

    def job(self, spark, unit: str, tag, tr) -> dict:
        """Commit the next day (cycling through the seed's days) into an
        output and manifest of the job's own, so every job does the same
        work: an empty manifest, one partition, one manifest row."""
        day = self.inp["days"][self.n_jobs % len(self.inp["days"])]
        self.n_jobs += 1
        out = os.path.join(self.out, unit)
        build = [0.0]

        def process(day: str):
            # plan construction runs inside run_incremental; tag it apart
            tag("build")
            t = time.perf_counter()
            with tr.span("plan"):
                df = self._plan(spark, day, tr)
            build[0] += time.perf_counter() - t
            tag("exec")
            return df

        tag("exec")
        t0 = time.perf_counter()
        with tr.span("streaming.incremental.run_incremental"):
            done = run_incremental(
                spark, [day], process, os.path.join(out, "data"),
                CheckpointManifest(os.path.join(out, "manifest")),
            )
        wall = time.perf_counter() - t0
        return {
            "build_s": build[0],
            "exec_s": wall - build[0],
            "rows": self.rows_per_job,
            "result": {"day": day, "processed": done, "out": out},
        }

    def scale_job(self, spark, tr, warmup: bool = False) -> float:
        """One day through the timed job's plan, collected instead of
        committed."""
        t0 = time.perf_counter()
        self._plan(spark, self.inp["days"][0], tr).collect()
        return time.perf_counter() - t0

    # ---- output check --------------------------------------------------------
    def finish(self, spark, jobs: list[dict]) -> list[dict]:
        """Outside timing: read each job's committed partition and manifest
        back into its result, then repeat its run_incremental call, which
        must skip the committed day (a reprocessing attempt fails on the
        None "frame" and is recorded as such)."""
        for j in jobs:
            res = j["result"]
            data = os.path.join(res["out"], "data")
            manifest = CheckpointManifest(os.path.join(res["out"], "manifest"))
            rows = spark.read.parquet(data).collect()
            res["rows_out"] = len(rows)
            res["got"] = {
                # the partition column reads back type-inferred as a date
                r["admin_id"]: [r["count"], r["mean"], str(r["date"]), str(r["part"])]
                for r in rows
            }
            res["in_manifest"] = manifest.committed(spark) == {res["day"]}
            t0 = time.perf_counter()
            try:
                res["resume"] = run_incremental(spark, [res["day"]], lambda p: None, data, manifest)
            except Exception as e:
                res["resume"] = f"raised {type(e).__name__}"
            j["resume_s"] = time.perf_counter() - t0
        return []

    def check(self, job: dict) -> list[str]:
        """Per admin and day: the date and the set of admins exactly, the
        coverage-area count and the weighted mean within 1e-9 relative of
        the NumPy reference; plus the manifest and resume contract."""
        res = job["result"]
        if "got" not in res:
            return [f"{res['day']}: output was not read back"]
        day, got = res["day"], res["got"]
        ref = self.inp["reference"][day]
        errs = []
        if res["processed"] != [day]:
            errs.append(f"run_incremental processed {res['processed']}, expected [{day!r}]")
        if not res["in_manifest"]:
            errs.append(f"the manifest does not hold exactly {day}")
        if res["resume"]:
            errs.append(f"the resumed call reprocessed: {res['resume']}")
        if set(got) != set(ref) or res["rows_out"] != len(ref):
            errs.append(f"{day}: {res['rows_out']} rows for {len(got)} admins, expected {len(ref)}")
        for aid, (cnt, mean) in ref.items():
            g = got.get(aid)
            if g is None:
                continue
            if g[2:] != [day, day]:
                errs.append(f"{day} {aid}: date, partition {g[2:]}")
            for name, a, b in (("count", g[0], cnt), ("mean", g[1], mean)):
                if a is None or abs(a - b) > 1e-9 * abs(b):
                    errs.append(f"{day} {aid}: {name} {a!r} vs {b!r}")
        return errs

    @staticmethod
    def corrupt(job: dict) -> dict:
        got = {k: list(v) for k, v in job["result"]["got"].items()}
        aid = sorted(got)[0]
        got[aid][1] *= 1 + 1e-6
        return {**job, "result": {**job["result"], "got": got}}

    # ---- layer metrics from the job's executed plans -------------------------
    @staticmethod
    def plan_metrics(plans: list[Node]) -> dict[str, float]:
        out = _agg_metrics("zonal", plans, zonal=True)
        out.update(_agg_metrics("timeagg", plans, zonal=False))
        writes = [
            n for p in plans for n in p.walk() if "InsertIntoHadoopFsRelationCommand" in n.name
        ]
        out["incremental.files_written"] = sum(
            n.metrics.get("number of written files", 0.0) for n in writes
        )
        out["incremental.bytes_written"] = sum(
            n.metrics.get("written output", 0.0) for n in writes
        )
        return out
