"""Seeded workload inputs and their reference digests.

Two levels of caching, both under ``.bench_cache/`` in the checkout:

* the **pool**: rows from the repo's own image generator
  (``sources.images.write_images_slim`` / ``write_images``) at a fixed
  generator seed.  Generating is ~1.3 ms per row on one core, so the
  pool is made once per checkout by ``pool.py`` in its own process;
* the **per-seed inputs**: the benchmark ``--seed`` draws the rows of
  each workload from the pool (which images, which probes, which
  changesets), writes them as parquet and computes the expected
  output once with an engine-independent reference (DuckDB SQL or a
  numpy brute force).  Same seed, same files, same digests.

Nothing here starts Spark: the references must not share code paths
with the engine they check.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_VERSION = "pool-v1"
POOL_SEED = 42
POOL_ROWS = 96_000        # slim (image_id, phash) rows
POOL_BYTES_ROWS = 1_600   # bytes-bearing rows (ids 0..N-1 of the same generator)

FLAGSHIP_ROWS = 512_000   # drawn with replacement: the op's cost is mostly per-plan, so
                          # the table must be large for the per-row work to show
NEIGHBOR_CANDS = 64_000
PROBES = 128
KNN_K = 5
RANGE_RADIUS = 0.5
DECODE_ROWS = 1_200

INCR_BASE_ROWS = 32_000
INCR_BATCHES = 6           # micro-batches the traced incremental leg can use
INCR_INSERTS = 96          # per batch; each insert also gets a losing older version
INCR_MOVES = 48
INCR_DELETES = 48

TILE_RES = 8
COVER_RES = 7

INPUT_VERSION = "in-v6"


# -- digests ------------------------------------------------------------------

def digest_rows(rows) -> str:
    """Order-independent digest of an iterable of int tuples."""
    h = hashlib.sha256()
    for r in sorted(tuple(int(v) for v in r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:20]


# pair digests stay inside signed 64-bit arithmetic in every engine
PAIR_MULT = 1_000_003
PAIR_MOD = 2_147_483_647


def pair_digest(count: int, sum_l: int, sum_r: int, sum_mix: int) -> str:
    return f"{int(count)}:{int(sum_l)}:{int(sum_r)}:{int(sum_mix)}"


# -- geometry shared with the references -------------------------------------

def lonlat_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``sources.images.with_geo`` in numpy, same IEEE operation order."""
    p = phash.astype(np.int64)
    lo = (p & np.int64(0xFFFFFFFF)).astype(np.float64)
    hi = ((p >> np.int64(32)) & np.int64(0xFFFFFFFF)).astype(np.float64)
    lon = -180.0 + ((lo / 4294967296.0) * 360.0)
    lat = -85.0 + ((hi / 4294967296.0) * 170.0)
    return lon, lat


def _rollup_sql(points_table: str, with_distinct: bool = True) -> str:
    """DuckDB twin of ``plans.pipeline.flagship_points`` for the
    rectangular admin set: boundary-inclusive containment as range
    predicates, tile id via ``cells.cell_sql``."""
    from osmnightwatch_spark.functions import cells as C
    from osmnightwatch_spark.sources import polygons as P

    rects = " UNION ALL ".join(
        f"SELECT CAST({rid} AS BIGINT) AS polygon_id, {x0!r} AS x0, {y0!r} AS y0,"
        f" {x1!r} AS x1, {y1!r} AS y1"
        for rid, _n, _l, (x0, y0, x1, y1) in P.rect_bounds())
    distinct = ", COUNT(DISTINCT g.phash)" if with_distinct else ""
    return (
        f"SELECT r.polygon_id, {C.cell_sql('g.lon', 'g.lat', TILE_RES)} AS tile, "
        f"COUNT(*){distinct} FROM {points_table} g JOIN ({rects}) r "
        "ON g.lon >= r.x0 AND g.lon <= r.x1 AND g.lat >= r.y0 AND g.lat <= r.y1 "
        "GROUP BY 1, 2"
    )


def rollup_digest(con, points_table: str, with_distinct: bool = True) -> tuple[str, int]:
    rows = con.execute(_rollup_sql(points_table, with_distinct)).fetchall()
    return digest_rows(rows), len(rows)


# -- pool ---------------------------------------------------------------------

def pool_dir(cache: str) -> str:
    return os.path.join(cache, POOL_VERSION)


def pool_ready(cache: str) -> bool:
    return os.path.exists(os.path.join(pool_dir(cache), "READY"))


def load_pool(cache: str) -> dict[str, np.ndarray]:
    t = pq.read_table(os.path.join(pool_dir(cache), "slim"))
    ids = np.array([int(s[3:]) for s in t.column("image_id").to_pylist()], np.int64)
    order = np.argsort(ids)
    return {"id": ids[order], "phash": t.column("phash").to_numpy()[order]}


# -- per-seed inputs ----------------------------------------------------------

def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), int.from_bytes(tag.encode(), "little") % (2**32)])


def _write_parquet(path: str, table: pa.Table, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def _images_table(ids: np.ndarray, phash: np.ndarray) -> pa.Table:
    return pa.table({
        "image_id": pa.array([f"img{i:012d}" for i in ids.tolist()], pa.string()),
        "phash": pa.array(phash, pa.int64()),
    })


def _points_table(ids, phash) -> pa.Table:
    lon, lat = lonlat_from_phash(phash)
    return pa.table({"id": pa.array(ids, pa.int64()), "phash": pa.array(phash, pa.int64()),
                     "lon": pa.array(lon, pa.float64()), "lat": pa.array(lat, pa.float64())})


def _prep_flagship(out: str, pool: dict, seed: int, con) -> dict:
    idx = _rng(seed, "flagship").choice(len(pool["id"]), FLAGSHIP_ROWS, replace=True)
    ids, ph = pool["id"][idx], pool["phash"][idx]
    _write_parquet(os.path.join(out, "images"), _images_table(ids, ph), files=4)
    con.register("pts", _points_table(ids, ph))
    dig, groups = rollup_digest(con, "pts")
    con.unregister("pts")
    return {"rows": int(len(ids)), "digest": dig, "groups": groups}


def _prep_decode(out: str, cache: str, seed: int, con) -> dict:
    """A seeded slice of the bytes-bearing pool for the images_ops layer."""
    t = pq.read_table(os.path.join(pool_dir(cache), "bytes"))
    idx = np.sort(_rng(seed, "decode").choice(t.num_rows, DECODE_ROWS, replace=False))
    t = t.take(pa.array(idx))
    _write_parquet(os.path.join(out, "images_bytes"), t, files=4)
    ph = t.column("phash").to_numpy()
    con.register("pts", _points_table(np.arange(len(ph)), ph))
    dig, groups = rollup_digest(con, "pts", with_distinct=False)
    con.unregister("pts")
    return {"rows": int(t.num_rows), "digest": dig, "groups": groups}


def knn_brute(plon, plat, pid, clon, clat, cid, k: int):
    """``knn_join_brute`` in numpy: per probe the k nearest candidates by
    (planar squared distance, cand id), self-matches excluded."""
    out = []
    kth = np.empty(len(pid))
    for i in range(len(pid)):
        d2 = (plon[i] - clon) * (plon[i] - clon) + (plat[i] - clat) * (plat[i] - clat)
        d2 = np.where(cid == pid[i], np.inf, d2)
        part = np.argpartition(d2, k)[: k + 1]
        cut = np.sort(d2[part])[k - 1]
        cand = np.flatnonzero(d2 <= cut)
        order = np.lexsort((cid[cand], d2[cand]))[:k]
        for rank, j in enumerate(cand[order], start=1):
            out.append((int(pid[i]), int(cid[j]), rank))
        kth[i] = np.sqrt(cut)
    return out, kth


def ring1_guard(lon, lat, res: int):
    """Distance from each probe to the edge of its 3x3 cell block (the
    ring-1 exactness bound ``operators.knn`` checks)."""
    n = float(1 << res)
    cw, ch = 360.0 / n, 180.0 / n
    gx = np.floor((lon + 180.0) / cw)
    gy = np.floor((lat + 90.0) / ch)
    bx0 = gx * cw - 180.0 - cw
    by0 = gy * ch - 90.0 - ch
    glon = np.minimum(lon - bx0, bx0 + 3 * cw - lon)
    glat = np.minimum(lat - by0, by0 + 3 * ch - lat)
    return np.minimum(glon, glat)


def _prep_neighbors(out: str, pool: dict, seed: int, con) -> dict:
    from osmnightwatch_spark.operators.knn import auto_res
    from osmnightwatch_spark.operators.range_join import range_join_sql

    rng = _rng(seed, "neighbors")
    idx = rng.choice(len(pool["id"]), NEIGHBOR_CANDS, replace=False)
    ids, ph = pool["id"][idx], pool["phash"][idx]
    # a fixed share of probes in the planted cities: each city probe pairs
    # with thousands of co-located points, so a seed-dependent count
    # would make the range join's work vary with the seed
    from osmnightwatch_spark.sources.images import CITY_MOD

    city = ids % CITY_MOD == 0
    n_city = round(PROBES / CITY_MOD)
    pidx = np.concatenate([
        rng.choice(np.flatnonzero(city), n_city, replace=False),
        rng.choice(np.flatnonzero(~city), PROBES - n_city, replace=False)])
    _write_parquet(os.path.join(out, "cands"),
                   pa.table({"id": pa.array(ids, pa.int64()), "phash": pa.array(ph, pa.int64())}),
                   files=4)
    _write_parquet(os.path.join(out, "probes"),
                   pa.table({"id": pa.array(ids[pidx], pa.int64()),
                             "phash": pa.array(ph[pidx], pa.int64())}))
    clon, clat = lonlat_from_phash(ph)
    plon, plat, pid = clon[pidx], clat[pidx], ids[pidx]
    knn_rows, kth = knn_brute(plon, plat, pid, clon, clat, ids, KNN_K)
    guard = ring1_guard(plon, plat, auto_res(len(ids), KNN_K))
    con.register("c", _points_table(ids, ph))
    con.register("p", _points_table(pid, ph[pidx]))
    sql = range_join_sql("SELECT id AS probe_id, lon, lat FROM p",
                         "SELECT id AS cand_id, lon, lat FROM c", RANGE_RADIUS,
                         left_id="probe_id", right_id="cand_id")
    cnt, sl, sr, sm = con.execute(
        f"SELECT COUNT(*), SUM(probe_id), SUM(cand_id), "
        f"SUM((probe_id * {PAIR_MULT} + cand_id) % {PAIR_MOD}) FROM ({sql})").fetchone()
    con.unregister("c")
    con.unregister("p")
    return {"rows": int(len(ids) + len(pid)), "cands": int(len(ids)), "probes": int(len(pid)),
            "knn_digest": digest_rows(knn_rows),
            "range_digest": pair_digest(cnt, sl or 0, sr or 0, sm or 0),
            "pairs": int(cnt), "exact_ratio": float(np.mean(kth <= guard))}


def _prep_incremental(out: str, pool: dict, seed: int, con) -> dict:
    """Base snapshot plus a seeded changeset stream with inserts,
    moves, deletes and lower-version losers, and the expected rollup
    after every batch (full recompute over the merged state)."""
    from osmnightwatch_spark.functions import cells as C

    rng = _rng(seed, "incremental")
    perm = rng.permutation(len(pool["id"]))
    base = perm[:INCR_BASE_ROWS]
    fresh = list(perm[INCR_BASE_ROWS:])          # pool rows not yet inserted
    live = {int(pool["id"][i]): int(pool["phash"][i]) for i in base}
    version = {k: 1 for k in live}
    _write_parquet(os.path.join(out, "base"),
                   _points_table(pool["id"][base], pool["phash"][base]), files=4)

    def tiles_of(phashes):
        lon, lat = lonlat_from_phash(np.asarray(phashes, np.int64))
        return C.cell_of(lon, lat, TILE_RES)

    batches = []
    payload_type = pa.struct([("id", pa.int64()), ("phash", pa.int64()),
                              ("lon", pa.float64()), ("lat", pa.float64())])
    for b in range(INCR_BATCHES):
        keys = np.array(sorted(live), np.int64)
        pick = rng.choice(len(keys), INCR_MOVES + INCR_DELETES, replace=False)
        moves, deletes = keys[pick[:INCR_MOVES]], keys[pick[INCR_MOVES:]]
        ins_rows = [fresh.pop() for _ in range(INCR_INSERTS)]
        rows = []  # (op, id, version, phash)
        old_ph = [live[int(i)] for i in np.concatenate([moves, deletes])]
        for i in moves.tolist():
            rows.append(("M", i, version[i] + 1, int(pool["phash"][fresh.pop()])))
        for i in deletes.tolist():
            rows.append(("D", i, version[i] + 1, live[i]))
        new_ph = []
        for r in ins_rows:
            i, ph = int(pool["id"][r]), int(pool["phash"][r])
            rows.append(("C", i, 2, ph))
            rows.append(("M", i, 1, int(pool["phash"][fresh.pop()])))  # loses
        order = rng.permutation(len(rows))
        rows = [rows[j] for j in order]
        # expected state: highest version wins
        for op, i, v, ph in rows:
            if op == "M" and v == 1:
                continue
            if op == "D":
                live.pop(i)
                version.pop(i)
            else:
                live[i] = ph
                version[i] = v
                new_ph.append(ph)
        ph_arr = np.array([r[3] for r in rows], np.int64)
        lon, lat = lonlat_from_phash(ph_arr)
        table = pa.table({
            "op": pa.array([r[0] for r in rows]),
            "entity_type": pa.array(["image"] * len(rows)),
            "id": pa.array([r[1] for r in rows], pa.int64()),
            "version": pa.array([r[2] for r in rows], pa.int32()),
            "payload": pa.StructArray.from_arrays(
                [pa.array([r[1] for r in rows], pa.int64()), pa.array(ph_arr, pa.int64()),
                 pa.array(lon), pa.array(lat)], fields=list(payload_type)),
        })
        _write_parquet(os.path.join(out, "changes", f"batch-{b:03d}"), table)
        ids = np.array(sorted(live), np.int64)
        state = _points_table(ids, np.array([live[i] for i in ids.tolist()], np.int64))
        con.register("pts", state)
        dig, groups = rollup_digest(con, "pts")
        con.unregister("pts")
        dirty = set(tiles_of(old_ph).tolist()) | set(tiles_of(new_ph).tolist())
        st_tiles = C.cell_of(state.column("lon").to_numpy(), state.column("lat").to_numpy(),
                             TILE_RES)
        batches.append({"digest": dig, "groups": groups,
                        "dirty_tiles": len(dirty),
                        "recompute_ratio": float(np.isin(st_tiles, list(dirty)).mean())})
    return {"rows": INCR_BASE_ROWS, "batches": batches}


PARTS = {
    "flagship": lambda out, cache, pool, seed, con: _prep_flagship(out, pool, seed, con),
    "decode": lambda out, cache, pool, seed, con: _prep_decode(out, cache, seed, con),
    "incremental": lambda out, cache, pool, seed, con: _prep_incremental(out, pool, seed, con),
    "neighbors": lambda out, cache, pool, seed, con: _prep_neighbors(out, pool, seed, con),
}

#: input parts per workload: (untraced run, traced run)
WORKLOAD_PARTS = {
    "flagship": (("flagship",), ("flagship", "decode", "incremental")),
    "neighbor_joins": (("neighbors",), ("neighbors",)),
}


def prepare(cache: str, workload: str, seed: int, trace: bool = False) -> tuple[str, dict]:
    """Inputs + expected digests for (workload, seed); each part is made
    once and cached on disk.  Returns (directory, meta)."""
    out = os.path.join(cache, INPUT_VERSION, f"{workload}-{seed}")
    meta_path = os.path.join(out, "meta.json")
    os.makedirs(out, exist_ok=True)
    meta = {"workload": workload, "seed": seed}
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
    todo = [p for p in WORKLOAD_PARTS[workload][int(trace)] if p not in meta]
    if not todo:
        return out, meta
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        pool = load_pool(cache)
        for part in todo:
            tmp = os.path.join(out, f".{part}.tmp-{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            meta[part] = PARTS[part](tmp, cache, pool, seed, con)
            for name in os.listdir(tmp):
                shutil.rmtree(os.path.join(out, name), ignore_errors=True)
                os.rename(os.path.join(tmp, name), os.path.join(out, name))
            os.rmdir(tmp)
            with open(meta_path + ".tmp", "w") as fh:
                json.dump(meta, fh, indent=1)
            os.replace(meta_path + ".tmp", meta_path)
    finally:
        con.close()
    return out, meta
