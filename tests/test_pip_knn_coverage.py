"""Spatial operators vs brute-force oracles; broadcast vs shuffle join
equivalence; skewed input behavior."""

import numpy as np
import pandas as pd
import pytest

from osmnightwatch_spark.functions import geometry as G
from osmnightwatch_spark.operators import pip_join as PJ
from osmnightwatch_spark.operators.coverage import geometric_coverage, observed_coverage
from osmnightwatch_spark.operators.knn import knn_join, knn_join_brute
from osmnightwatch_spark.operators.pip_join import (
    PreparedPolygons, pip_join, pip_join_brute,
)
from osmnightwatch_spark.sources import polygons as P


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(11)
    base = pd.DataFrame({
        "pt_id": np.arange(3000),
        "lon": rng.uniform(-180, 180, 3000),
        "lat": rng.uniform(-85, 85, 3000),
    })
    # skew: 30% of points in one city cell
    hot = base.sample(900, random_state=2).index
    base.loc[hot, "lon"] = -100.0 + rng.uniform(0, 0.05, 900)
    base.loc[hot, "lat"] = 10.0 + rng.uniform(0, 0.05, 900)
    return base


@pytest.fixture(scope="module")
def prep():
    return PreparedPolygons.build(P.valid_polygon_list(), res=7)


def _pip_sets(df):
    return set(map(tuple, df[["pt_id", "polygon_id"]].to_numpy()))


def test_pip_join_matches_brute(spark, points_pdf, prep):
    pts = spark.createDataFrame(points_pdf)
    got = _pip_sets(pip_join(pts, prep).toPandas())
    exp = _pip_sets(pip_join_brute(pts, P.valid_polygon_list()).toPandas())
    assert got == exp and len(got) > 0


def test_pip_join_shuffle_strategy_equal(spark, points_pdf, prep):
    """A broadcast threshold of -1 turns pip_join's index broadcast
    off; the shuffled join finds the same pairs."""
    pts = spark.createDataFrame(points_pdf)
    bcast = _pip_sets(pip_join(pts, prep).toPandas())
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        out = pip_join(pts, prep)
        shuf = _pip_sets(out.toPandas())
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" not in plan
    assert bcast == shuf


def test_pip_boundary_points(spark, prep):
    # Westland bounds: (-150, -60, -30, 60) — edge and corner points count inside
    pts = spark.createDataFrame(pd.DataFrame({
        "pt_id": [1, 2, 3, 4],
        "lon": [-150.0, -30.0, -90.0, -150.0],
        "lat": [0.0, 0.0, 60.0, -60.0],
    }))
    got = pip_join(pts, prep).toPandas()
    hits = got[got.polygon_id == 100].pt_id.tolist()
    assert sorted(hits) == [1, 2, 3, 4]


def test_knn_matches_brute_on_skew(spark, points_pdf):
    probes = spark.createDataFrame(
        points_pdf.sample(150, random_state=3).rename(columns={"pt_id": "probe_id"})
    )
    cands = spark.createDataFrame(points_pdf.rename(columns={"pt_id": "cand_id"}))
    got = knn_join(probes, cands, k=4, res=6).toPandas().sort_values(
        ["probe_id", "rank"]).reset_index(drop=True)
    exp = knn_join_brute(probes, cands, k=4).toPandas().sort_values(
        ["probe_id", "rank"]).reset_index(drop=True)
    assert got[["probe_id", "cand_id", "rank"]].equals(exp[["probe_id", "cand_id", "rank"]])


def test_knn_fewer_candidates_than_k(spark):
    probes = spark.createDataFrame(pd.DataFrame(
        {"probe_id": [1], "lon": [0.0], "lat": [0.0]}))
    cands = spark.createDataFrame(pd.DataFrame(
        {"cand_id": [10, 11], "lon": [1.0, 2.0], "lat": [0.0, 0.0]}))
    got = knn_join(probes, cands, k=5, res=6).toPandas()
    assert len(got) == 2 and set(got.cand_id) == {10, 11}


def test_observed_coverage_consistent(spark, points_pdf, prep):
    pts = spark.createDataFrame(points_pdf)
    cov = observed_coverage(pts, prep, tile_res=3, fine_res=8).toPandas()
    hits = pip_join(pts, prep).toPandas()
    assert cov.n_images.sum() == len(hits)
    assert (cov.n_occupied_cells <= cov.n_images).all()


def test_geometric_coverage_approximates_area(spark):
    """Midpoint estimator: BOUNDARY cells weigh 0.5, so the error is
    bounded by half the boundary-cell area (∝ perimeter × cell size)
    and must shrink as the covering refines."""
    rect = [(1, P.rect_wkb(-180.0, -90.0, -135.0, -45.0))]
    truth = 1 / 8 * 1 / 4
    errs = []
    for res in (6, 8):
        prep = PreparedPolygons.build(rect, res=res)
        cov = geometric_coverage(spark, prep, tile_res=0).toPandas()
        bnd = prep.covering[prep.covering.kind == 1]
        bound = 0.5 * sum(4.0 ** -(int(c) >> 58) for c in bnd.cell)
        err = abs(cov.covered_fraction.sum() - truth)
        assert err <= bound + 1e-12
        errs.append(err)
    assert errs[1] < errs[0]  # finer covering → tighter estimate


def test_geometric_coverage_expands_coarse_cells(spark):
    """Leaf cells coarser than tile_res expand into their descendant
    tiles (ADVICE r01): a large aligned rect prepared at res 5 must
    still be fully counted at tile_res 6, and the total covered area
    must be identical at every tile_res."""
    rect = [(1, P.rect_wkb(-180.0, -90.0, -135.0, -45.0))]
    truth = 1 / 8 * 1 / 4
    prep = PreparedPolygons.build(rect, res=5)
    # the fixture really produces coarse cells
    assert (prep.covering.cell.to_numpy() >> 58).max() < 6
    cov5 = geometric_coverage(spark, prep, tile_res=6).toPandas()
    cov0 = geometric_coverage(spark, prep, tile_res=0).toPandas()
    total5 = float((cov5.covered_fraction * 4.0 ** -6).sum())
    total0 = float((cov0.covered_fraction * 4.0 ** -0).sum())
    assert abs(total5 - total0) < 1e-12
    bnd = prep.covering[prep.covering.kind == 1]
    bound = 0.5 * sum(4.0 ** -(int(c) >> 58) for c in bnd.cell)
    assert abs(total5 - truth) <= bound + 1e-12
    assert (cov5.covered_fraction <= 1.0 + 1e-9).all()


def _jobs_and_plans(spark, fn):
    """Run ``fn()`` and return ``(result, job_tags, plans)``: the tags
    (``|``-joined) of each Spark job and the physical plan description
    of each SQL execution started inside the call (selected by id, so a
    bounded status store cannot hide them)."""
    sc = spark.sparkContext
    jobs = sc._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()

    def job_tags():
        js = jobs.jobsList(None)
        return {js.apply(i).jobId(): js.apply(i).jobTags().mkString("|")
                for i in range(js.size())}

    def exec_ids():
        es = sql.executionsList()
        return [es.apply(i).executionId() for i in range(es.size())]

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    first_job = max(job_tags(), default=-1) + 1
    first_exec = max(exec_ids(), default=-1) + 1
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tags = [t for i, t in job_tags().items() if i >= first_job]
    plans = [sql.execution(i).get().physicalPlanDescription()
             for i in exec_ids() if i >= first_exec]
    return out, tags, plans


def _star_set(n, k, seed):
    rng = np.random.default_rng(seed)
    polys = []
    for pid in range(n):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
        r = rng.uniform(5, 20)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.6 * r, r, k)
        shell = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        polys.append((100 + pid, G.rings_to_wkb([np.vstack([shell, shell[:1]])])))
    return polys


def test_build_starts_no_spark_job(spark):
    """PreparedPolygons.build scans on the driver for any input: an
    8 × 6,001-vertex star set builds with an active session and starts
    no Spark job, and a second build is a memo hit."""
    stars = _star_set(8, 6001, seed=9)
    PJ._BUILD_CACHE.clear()
    prep, jobs, plans = _jobs_and_plans(spark, lambda: PreparedPolygons.build(stars, res=7))
    assert not jobs and not plans
    assert set(prep.leaf.polygon_id) == {pid for pid, _ in stars}
    again, jobs, _ = _jobs_and_plans(spark, lambda: PreparedPolygons.build(stars, res=7))
    assert again is prep and not jobs


def test_knn_probe_count_thread_keeps_job_tags(spark):
    """knn_join counts its probes on a driver thread; every job the
    call starts carries the job tag the caller added, so
    ``interruptTag`` reaches the count job too."""
    rng = np.random.default_rng(3)
    probes = spark.createDataFrame(pd.DataFrame({
        "probe_id": np.arange(40), "lon": rng.uniform(-10, 10, 40),
        "lat": rng.uniform(-10, 10, 40)}))
    cands = spark.createDataFrame(pd.DataFrame({
        "cand_id": np.arange(500), "lon": rng.uniform(-10, 10, 500),
        "lat": rng.uniform(-10, 10, 500)}))
    spark.addTag("knn-probe")
    try:
        _, tags, _ = _jobs_and_plans(
            spark, lambda: knn_join(probes, cands, k=3, res=5).collect())
    finally:
        spark.removeTag("knn-probe")
    assert len(tags) >= 2
    assert all("knn-probe" in t for t in tags), tags


def test_knn_empty_neighborhood_ring_expansion(spark, pre_checkpoint):
    """Probes whose 3×3 block is empty resolve via the ring-8
    expansion; when the expanded ring spans the whole grid the plan is
    provably exact with NO brute crossJoin node (VERDICT r01)."""
    rng = np.random.default_rng(17)
    # candidates clustered in one corner; probes far away in another
    cands = spark.createDataFrame(pd.DataFrame({
        "cand_id": np.arange(40),
        "lon": rng.uniform(100, 110, 40),
        "lat": rng.uniform(40, 50, 40),
    }))
    probes = spark.createDataFrame(pd.DataFrame({
        "probe_id": np.arange(1000, 1005),
        "lon": rng.uniform(-170, -160, 5),
        "lat": rng.uniform(-80, -70, 5),
    }))
    # the result plan knn_join checkpoints, read before the checkpoint
    lazy = pre_checkpoint(knn_join, probes, cands, k=3, res=3)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the ring-7 residue round is as native as the ring-1 round
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    out = knn_join(probes, cands, k=3, res=3)  # grid 8 → ring 8 covers it
    got = out.toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    exp = knn_join_brute(probes, cands, k=3).toPandas().sort_values(
        ["probe_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


def test_knn_auto_res_rule():
    """auto_res follows the documented occupancy heuristic and clamps."""
    from osmnightwatch_spark.operators.knn import auto_res

    # 200k candidates, k=5 → occ 20 → 10k cells → floor(log4) = 6
    # (the value the round-2 bench study measured as optimal at sf0.1)
    assert auto_res(200_000, 5) == 6
    assert auto_res(10, 5) == 2        # clamp low
    assert auto_res(10**12, 5) == 14   # clamp high (~268M cells)
    assert auto_res(200_000, 5) < auto_res(200_000 * 64, 5)


def test_knn_auto_res_degenerate_dense(spark):
    """res=None on a pathologically dense fixture (every point in one
    city block) still returns the exact brute answer — auto_res picks a
    coarse res for the tiny count, the single hot cell is trimmed to k
    per probe by the window, and the guarantee check keeps exactness."""
    rng = np.random.default_rng(23)
    n = 300
    pts = pd.DataFrame({
        "pt_id": np.arange(n),
        "lon": 13.40 + rng.uniform(0, 0.01, n),  # one ~1km square
        "lat": 52.52 + rng.uniform(0, 0.01, n),
    })
    probes = spark.createDataFrame(
        pts.sample(25, random_state=7).rename(columns={"pt_id": "probe_id"}))
    cands = spark.createDataFrame(pts.rename(columns={"pt_id": "cand_id"}))
    got = knn_join(probes, cands, k=4).toPandas().sort_values(
        ["probe_id", "rank"]).reset_index(drop=True)
    exp = knn_join_brute(probes, cands, k=4).toPandas().sort_values(
        ["probe_id", "rank"]).reset_index(drop=True)
    assert got[["probe_id", "cand_id", "rank"]].equals(
        exp[["probe_id", "cand_id", "rank"]])


def test_knn_ring1_plan_fully_native(spark, pre_checkpoint):
    """The exact kNN result plan has NO Python in it: the ring-1
    candidate round, the ring-8 expansion round and the brute residue
    all run native — every probe-side (2r+1)² expansion is
    ``cells.ring_cells_col``."""
    pts = pd.DataFrame({
        "probe_id": np.arange(50), "lon": np.linspace(-170, 170, 50),
        "lat": np.linspace(-80, 80, 50)})
    probes = spark.createDataFrame(pts)
    cands = spark.createDataFrame(pts.rename(columns={"probe_id": "cand_id"}))
    lazy = pre_checkpoint(knn_join, probes, cands, k=3, res=5)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    # the sparse diagonal fails ring-1, so the plan holds the ring-8
    # round and the brute residue beside the candidate round
    assert "Union" in plan and "BroadcastNestedLoop" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _plan_descriptions(spark, fn):
    """Run ``fn()`` and return ``(result, texts)``: the physical plan
    description of every SQL execution started inside the call — eager
    persists and checkpoints included, which a final-plan check cannot
    see. Read from the SQL status store: an execution's plan graph
    (``planGraph``) stops at ``InMemoryTableScan`` and never shows the
    plan a persist materializes."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    first = max(ids(), default=-1) + 1
    out = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    started = [i for i in ids() if i >= first]
    assert started, "no SQL execution recorded"
    return out, [store.execution(i).get().physicalPlanDescription()
                 for i in started]


def _python_nodes(spark, fn):
    """Run ``fn()`` and return ``(result, names)``: the Python
    operators in any SQL execution started inside the call."""
    import re

    out, texts = _plan_descriptions(spark, fn)
    names = set()
    for text in texts:
        names |= set(re.findall(r"\w*(?:EvalPython|InPandas|InArrow)\w*", text))
    return out, sorted(names)


def test_knn_haversine_matches_brute_high_latitude(spark):
    """metric=haversine: the ring ladder equals brute-force great-circle
    kNN at |lat| > 60°, where meridian convergence makes planar-degree
    ranking wrong and the haversine block guard does real work (many
    probes legitimately fail ring-1 there). Fixture: dense polar band +
    sparse mid-lat noise, with points straddling the antimeridian."""
    import numpy as np

    rng = np.random.default_rng(11)
    n = 800
    lon = ((rng.uniform(-180, 180, n) + 180) % 360) - 180
    lat = np.where(rng.random(n) < 0.7,
                   rng.uniform(62, 84, n) * rng.choice([-1, 1], n),
                   rng.uniform(-55, 55, n))
    pdf = pd.DataFrame({"pt_id": np.arange(n), "lon": lon, "lat": lat})
    cands = spark.createDataFrame(pdf.rename(columns={"pt_id": "cand_id"}))
    probes = spark.createDataFrame(
        pdf[pdf.lat.abs() > 60].sample(60, random_state=5)
        .rename(columns={"pt_id": "probe_id"})
    )
    # res 5: ring-1, then a persisted ring-8 round, then brute — and no
    # SQL execution of the ladder runs a Python operator
    out, python_nodes = _python_nodes(
        spark, lambda: knn_join(probes, cands, k=4, res=5, metric="haversine"))
    assert python_nodes == []
    got = out.toPandas()
    exp = knn_join_brute(probes, cands, k=4, metric="haversine").toPandas()
    key = ["probe_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert got[["probe_id", "cand_id", "rank"]].equals(
        exp[["probe_id", "cand_id", "rank"]]
    )
    assert np.allclose(got.dist_m, exp.dist_m)
    # planar ranking genuinely differs up here — the metric matters
    planar = knn_join_brute(probes, cands, k=4).toPandas().sort_values(
        key).reset_index(drop=True)
    assert not planar.cand_id.equals(exp.cand_id)


def test_pip_covering_antimeridian_polygon(spark):
    """VERDICT r3 #6: explicit dateline-crossing covering test. The
    two-part MultiPolygon convention (polygon 530 'Meridiana', parts
    [170,180] and [-180,-170]) must produce a covering whose cells hug
    both sides of the seam, and PIP through the covering must equal
    brute ray-casting on a point set DENSELY packed against ±180
    (uniform fixtures rarely stress the seam)."""
    from osmnightwatch_spark.functions import cells as C
    from osmnightwatch_spark.operators.pip_join import pip_join_brute

    prep = PreparedPolygons.build(P.valid_polygon_list(), res=7)
    cov = prep.covering[prep.covering.polygon_id == 530]
    assert len(cov) > 0
    lon0, _, lon1, _ = C.cell_bounds(cov.cell.to_numpy())
    # covering touches both edges of the seam and nothing in between
    assert lon0.min() <= -179.99 and lon1.max() >= 179.99
    interior = (lon1 < 169.9) & (lon0 > -169.9)
    assert not interior.any()

    rng = np.random.default_rng(23)
    n = 400
    seam_lon = np.concatenate([
        180.0 - rng.uniform(0, 0.2, n // 4),     # just west of the seam
        -180.0 + rng.uniform(0, 0.2, n // 4),    # just east of the seam
        rng.uniform(168.0, 172.0, n // 4),       # west part edge
        rng.uniform(-172.0, -168.0, n // 4),     # east part edge
    ])
    pts_pdf = pd.DataFrame({
        "pt_id": np.arange(len(seam_lon)),
        "lon": seam_lon,
        "lat": np.tile(rng.uniform(-20, 20, len(seam_lon) // 2), 2),
    })
    # exact seam/corner points: both ±180 columns are inside (the
    # two-part convention makes the seam a shared boundary, and the
    # boundary-inclusive spec counts it for both parts)
    corners = pd.DataFrame({
        "pt_id": np.arange(10_000, 10_006),
        "lon": [180.0, -180.0, 179.5, -179.5, 170.0, -170.0],
        "lat": [0.0, 0.0, 15.0, -15.0, 3.0, 3.0],
    })
    pts = spark.createDataFrame(pd.concat([pts_pdf, corners]))
    got = _pip_sets(pip_join(pts, prep).toPandas())
    exp = _pip_sets(pip_join_brute(pts, P.valid_polygon_list()).toPandas())
    assert got == exp
    hit530 = {p for p, pid in got if pid == 530}
    # every in-range seam point lands in 530, from BOTH sides
    assert {10_000, 10_001, 10_002, 10_003, 10_004, 10_005} <= hit530
    west = {p for p in hit530 if p < 10_000 and pts_pdf.lon[p] > 0}
    east = {p for p in hit530 if p < 10_000 and pts_pdf.lon[p] < 0}
    assert len(west) > 50 and len(east) > 50


def test_knn_probe_side_broadcast_direction(spark):
    """The cell equi-join must build its hash relation from the SMALL
    (ring-exploded probe) side. Left to AQE with this session's 64 MB
    broadcast ceiling, the 200k-row candidate side was chosen as the
    build side (BuildRight) — rebuilding an ~8 MB hash relation per
    run dominated knn_join_k5. 40 probes sit under
    BROADCAST_PROBE_MAX, so the probe count alone decides it — even
    here, where the candidate table is the smaller one and the planner
    left alone would build from it."""
    import re

    pts = pd.DataFrame({
        "probe_id": np.arange(40), "lon": np.linspace(-170, 170, 40),
        "lat": np.linspace(-80, 80, 40)})
    probes = spark.createDataFrame(pts)
    cands = spark.createDataFrame(
        pd.DataFrame({
            "cand_id": np.arange(12),
            "lon": np.linspace(-179, 179, 12),
            "lat": np.linspace(-84, 84, 12)}))
    _, texts = _plan_descriptions(
        spark, lambda: knn_join(probes, cands, k=3, res=5))
    # the cell join's left side is the probe expansion (explode of the
    # ring array); broadcasting it makes the build side BuildLeft. The
    # tree line carries the build side, the numbered detail the keys.
    sides = []
    for t in texts:
        built = {n: side for side, n in re.findall(
            r"BroadcastHashJoin \w+ (Build\w+) \((\d+)\)", t)}
        sides += [built[n] for n in re.findall(
            r"\((\d+)\) BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[_ccell#", t)]
    assert sides and set(sides) == {"BuildLeft"}
