"""The benchmark's workloads: set-up, one op, and the traced decomposition.

An op is one full pass over the workload's input (for ``incremental``,
one micro-batch) and returns whether its output matched the reference
digest that ``inputs.py`` computed for this seed.

The traced decomposition follows ``bench_extra.py``: a lazy layer's self
time is the time of a prefix plan run into the ``noop`` sink minus the
time of the prefix before it; an eager call's span is measured around
the call.  Counters (jobs, tasks, CPU, shuffle, spill) are differenced
the same way.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from spans import ADDITIVE, Span

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.operators import pip_join as PJ
from osmnightwatch_spark.sources import images as I
from osmnightwatch_spark.sources import polygons as P


def noop(df) -> int:
    """Run ``df`` into the noop sink; return its row count (observed in
    the same action, no extra job)."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def self_span(outer: Span, inner: Span | None) -> Span:
    """``outer`` minus the prefix ``inner`` it contains."""
    out = Span(outer.layer, task_skew=outer.task_skew, actions=outer.actions,
               rows_out=outer.rows_out, plan_rows=dict(outer.plan_rows))
    for k in ADDITIVE:
        setattr(out, k, getattr(outer, k) - (getattr(inner, k) if inner else 0))
    return out


def add_spans(a: Span, b: Span) -> Span:
    out = Span(a.layer, task_skew=max(a.task_skew, b.task_skew), actions=a.actions + b.actions,
               rows_out=b.rows_out, plan_rows=dict(b.plan_rows))
    for k in ADDITIVE:
        setattr(out, k, getattr(a, k) + getattr(b, k))
    return out


def dir_bytes(path: str) -> int:
    """On-disk size of the parquet files a scan lists.  The status store's
    ``inputBytes`` is not used: the vectorized parquet reader reports
    almost none of what it reads there."""
    return sum(e.stat().st_size for e in os.scandir(path) if e.name.endswith(".parquet"))


def cold_prepare():
    """``PreparedPolygons.build`` with its memo emptied, timed."""
    PJ._BUILD_CACHE.clear()
    t0 = time.perf_counter()
    prep = PJ.PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=inputs.COVER_RES)
    return prep, time.perf_counter() - t0


class Workload:
    name = ""
    uses_polygons = True

    def __init__(self, in_dir: str, meta: dict, work_dir: str):
        self.in_dir = in_dir
        self.meta = meta
        self.work_dir = work_dir
        self.spark = None
        self.prep = None

    def path(self, *parts) -> str:
        return os.path.join(self.in_dir, *parts)

    # -- untraced ------------------------------------------------------------
    def setup(self, spark, k: int) -> float:
        """Bind to a fresh session; returns the cold prepare time (0 if
        the workload joins no polygons)."""
        self.spark = spark
        if not self.uses_polygons:
            return 0.0
        self.prep, build_s = cold_prepare()
        return build_s

    def rows_per_op(self) -> int:
        raise NotImplementedError

    def op(self) -> bool:
        raise NotImplementedError

    def exhausted(self) -> bool:
        return False

    # -- traced --------------------------------------------------------------
    def traced_op(self, tracer) -> tuple[float, bool, dict[str, Span], dict[str, float]]:
        """Run one op with spans; returns (wall of the op's own calls,
        output correct, self span per layer, layer-specific metrics)."""
        raise NotImplementedError

    def extras(self) -> dict[str, float]:
        """Input-derived layer metrics (not read from the engine)."""
        return {}


class Flagship(Workload):
    """``plans.pipeline.flagship`` over the seeded images table."""

    name = "flagship"

    def rows_per_op(self) -> int:
        return self.meta["flagship"]["rows"]

    def images(self):
        return self.spark.read.parquet(self.path("images"))

    def _run(self) -> bool:
        from osmnightwatch_spark.plans.pipeline import flagship

        rows = flagship(self.images(), tile_res=inputs.TILE_RES, cover_res=inputs.COVER_RES,
                        prepared=self.prep).collect()
        got = inputs.digest_rows((r.polygon_id, r.tile, r.n_images, r.n_distinct_phash)
                                 for r in rows)
        return got == self.meta["flagship"]["digest"]

    def op(self) -> bool:
        return self._run()

    def traced_op(self, tracer):
        from osmnightwatch_spark.plans.pipeline import flagship

        with tracer.span("op") as s_op:
            ok = self._run()
        geo = lambda: I.with_geo(self.images().select("phash"))  # noqa: E731
        with tracer.span("sources.images") as s_img:
            s_img.rows_out = noop(geo())
        with tracer.span("functions.cells") as s_cell:
            s_cell.rows_out = noop(C.attach_cell(geo(), self.prep.res, out="_leaf"))
        with tracer.span("operators.pip_join") as s_pip:
            s_pip.rows_out = noop(PJ.pip_join(geo(), self.prep))
        with tracer.span("plans.pipeline") as s_all:
            s_all.rows_out = noop(flagship(self.images(), tile_res=inputs.TILE_RES,
                                           cover_res=inputs.COVER_RES, prepared=self.prep))
        # both pip branches join the broadcast covering: their output is
        # every FULL hit plus every boundary candidate the refine sees
        cand = s_pip.plan_rows.get("BroadcastHashJoin", 0)
        return s_op.wall_s, ok, {
            "sources.images": s_img,
            "functions.cells": self_span(s_cell, s_img),
            "operators.pip_join": self_span(s_pip, s_cell),
            "plans.pipeline": self_span(s_all, s_pip),
        }, {
            "operators.pip_join.candidate_rows": cand,
            "operators.pip_join.hit_ratio": s_pip.rows_out / cand if cand else 0.0,
            "operators.pip_join.udf_tasks": s_pip.udf_tasks,
        }

    def extras(self):
        return {"sources.images.input_bytes": dir_bytes(self.path("images"))}

    # -- operators.images_ops (bytes-bearing slice) --------------------------
    def decode_df(self, quarter: bool = False):
        df = self.spark.read.parquet(self.path("images_bytes"))
        return df.limit(self.meta["decode"]["rows"] // 4) if quarter else df

    def verified_op(self, quarter: bool = False) -> bool:
        from osmnightwatch_spark.operators.images_ops import verified_flagship

        rows = verified_flagship(self.decode_df(quarter), tile_res=inputs.TILE_RES,
                                 cover_res=inputs.COVER_RES, check_psnr=True).collect()
        if quarter:
            return len(rows) > 0
        got = inputs.digest_rows((r.polygon_id, r.tile, r.n_images) for r in rows)
        return got == self.meta["decode"]["digest"]

    def traced_decode(self, tracer) -> Span:
        """Self span of ``decode_verify`` over the bytes-bearing slice."""
        from osmnightwatch_spark.operators.images_ops import decode_verify

        with tracer.span("scan") as s_scan:
            s_scan.rows_out = noop(self.decode_df())
        with tracer.span("operators.images_ops") as s_dec:
            s_dec.rows_out = noop(decode_verify(self.decode_df(), check_psnr=True))
        return self_span(s_dec, s_scan)


class NeighborJoins(Workload):
    """``knn_join`` (k=5) and ``range_join`` of seeded probes against the
    full skewed point table."""

    name = "neighbor_joins"
    uses_polygons = False

    def rows_per_op(self) -> int:
        return self.meta["neighbors"]["rows"]

    def _geo(self, part: str, id_name: str):
        df = self.spark.read.parquet(self.path(part))
        return I.with_geo(df).select(F.col("id").alias(id_name), "lon", "lat")

    def _knn(self) -> bool:
        from osmnightwatch_spark.operators.knn import knn_join

        rows = knn_join(self._geo("probes", "probe_id"), self._geo("cands", "cand_id"),
                        k=inputs.KNN_K).select("probe_id", "cand_id", "rank").collect()
        return inputs.digest_rows(rows) == self.meta["neighbors"]["knn_digest"]

    def _range(self) -> bool:
        from osmnightwatch_spark.operators.range_join import range_join

        pairs = range_join(self._geo("probes", "probe_id"), self._geo("cands", "cand_id"),
                           radius=inputs.RANGE_RADIUS, left_id="probe_id", right_id="cand_id")
        mix = (F.col("probe_id") * inputs.PAIR_MULT + F.col("cand_id")) % inputs.PAIR_MOD
        r = pairs.agg(F.count(F.lit(1)), F.sum("probe_id"), F.sum("cand_id"),
                      F.sum(mix)).collect()[0]
        got = inputs.pair_digest(r[0], r[1] or 0, r[2] or 0, r[3] or 0)
        return got == self.meta["neighbors"]["range_digest"]

    def op(self) -> bool:
        ok_knn = self._knn()
        return self._range() and ok_knn

    def traced_op(self, tracer):
        from osmnightwatch_spark.operators.knn import auto_res

        res = auto_res(self.meta["neighbors"]["cands"], inputs.KNN_K)
        with tracer.span("operators.knn") as s_knn:
            ok_knn = self._knn()
        s_knn.rows_out = self.meta["neighbors"]["probes"] * inputs.KNN_K
        with tracer.span("operators.range_join") as s_rng:
            ok_rng = self._range()
        s_rng.rows_out = self.meta["neighbors"]["pairs"]
        with tracer.span("sources.images") as s_img:
            s_img.rows_out = noop(self._geo("cands", "cand_id"))
        with tracer.span("functions.cells") as s_cell:
            s_cell.rows_out = noop(C.attach_cell(self._geo("cands", "cand_id"), res, out="_c"))
        return s_knn.wall_s + s_rng.wall_s, ok_knn and ok_rng, {
            "sources.images": s_img,
            "functions.cells": self_span(s_cell, s_img),
            "operators.knn": self_span(s_knn, s_cell),
            "operators.range_join": self_span(s_rng, s_cell),
        }, {"operators.knn.actions": s_knn.actions - 1}  # less the benchmark's own collect

    def extras(self):
        return {"sources.images.input_bytes": dir_bytes(self.path("cands")),
                "operators.knn.exact_ratio": self.meta["neighbors"]["exact_ratio"],
                "operators.range_join.pairs_out": self.meta["neighbors"]["pairs"]}


class Incremental(Workload):
    """One seeded image changeset per op through
    ``incremental_tile_rollup``; merged snapshot and rollup committed to
    catalog tables and read back as the next batch's input.  Run as a
    traced leg of the flagship workload (see README)."""

    name = "incremental"

    def setup(self, spark, k: int) -> float:
        from osmnightwatch_spark.plans.pipeline import flagship_points
        from osmnightwatch_spark.sources.catalog import Table

        build_s = super().setup(spark, k)
        root = os.path.join(self.work_dir, f"incremental-{k}")
        shutil.rmtree(root, ignore_errors=True)
        self.pts, self.rollup = Table(os.path.join(root, "pts")), Table(os.path.join(root, "rollup"))
        base = spark.read.parquet(self.path("base"))
        self.pts.commit(base)
        self.rollup.commit(flagship_points(base, tile_res=inputs.TILE_RES, prepared=self.prep))
        self.batch = 0
        return build_s

    def exhausted(self) -> bool:
        return self.batch >= len(self.meta["incremental"]["batches"])

    def _plans(self):
        from osmnightwatch_spark.plans.incremental import incremental_tile_rollup
        from osmnightwatch_spark.streaming import cdc

        snap, prev = self.pts.read(self.spark), self.rollup.read(self.spark)
        changes = self.spark.read.parquet(self.path("changes", f"batch-{self.batch:03d}"))
        merged = cdc.apply_changeset(snap, cdc.compact_changeset(changes))
        out = incremental_tile_rollup(snap, changes, tile_res=inputs.TILE_RES,
                                      prepared=self.prep, prev_rollup=prev)
        return merged, out

    def _check(self) -> bool:
        rows = self.rollup.read(self.spark).collect()
        got = inputs.digest_rows((r.polygon_id, r.tile, r.n_images, r.n_distinct_phash)
                                 for r in rows)
        ok = got == self.meta["incremental"]["batches"][self.batch]["digest"]
        self.batch += 1
        return ok

    def op(self) -> bool:
        merged, out = self._plans()
        self.pts.commit(merged)
        self.rollup.commit(out)
        return self._check()

    def traced_op(self, tracer):
        with tracer.span("sources.catalog.read") as s_read:
            merged, out = self._plans()
        with tracer.span("streaming.cdc") as s_cdc:
            s_cdc.rows_out = noop(merged)
        with tracer.span("plans.incremental") as s_inc:
            s_inc.rows_out = noop(out)
        before = {t: t.current_snapshot() for t in (self.pts, self.rollup)}
        with tracer.span("sources.catalog") as s_cpts:
            self.pts.commit(merged)
        with tracer.span("sources.catalog") as s_croll:
            self.rollup.commit(out)
        with tracer.span("sources.catalog") as s_back:
            ok = self._check()
        written = [t.manifest()["metrics"] for t in before if t.current_snapshot() != before[t]]
        cat = add_spans(add_spans(self_span(s_cpts, s_cdc), self_span(s_croll, s_inc)),
                        add_spans(s_read, s_back))
        cat.rows_out = s_cdc.rows_out
        wall = s_read.wall_s + s_cpts.wall_s + s_croll.wall_s + s_back.wall_s
        return wall, ok, {"streaming.cdc": s_cdc,
                          "plans.incremental": self_span(s_inc, s_cdc),
                          "sources.catalog": cat}, {
            "sources.catalog.bytes_written": sum(m["total_bytes"] for m in written),
            "sources.catalog.files_written": sum(m["n_files"] for m in written),
            "sources.catalog.read_s": s_read.wall_s + s_back.wall_s,
        }

    def extras(self):
        done = self.meta["incremental"]["batches"][:max(1, self.batch)]
        mid = sorted(done, key=lambda b: b["dirty_tiles"])[len(done) // 2]
        return {"plans.incremental.dirty_tiles": mid["dirty_tiles"],
                "plans.incremental.recompute_ratio": mid["recompute_ratio"]}


WORKLOADS = {w.name: w for w in (Flagship, NeighborJoins)}
