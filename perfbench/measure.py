"""The timed process: set-ups, the closed-loop op series, the trace.

    python3 perfbench/measure.py --workload W --in-dir D --seconds S --trace 0|1

Started by ``run.py`` once the inputs exist.  One client, closed loop:
the next op starts when the previous one returned.  Prints a readable
report, then one JSON line (the result) last.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import hostenv

SETUPS = 3          # set-ups per untraced run; setup_s and first_op_s are their medians
# the loop runs at least this many ops, however long they take.  Its first
# op (the second in a fresh context) is still slow; the median absorbs it.
MIN_OPS = 3
TRACE_MIN_ITERS = 1


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> bool:
        self.attempted += 1
        self.failed += 0 if ok else 1
        return ok


def timed_op(wl, checks: Checks) -> float:
    """One op, timed; a raise or a wrong output counts as failed."""
    t0 = time.perf_counter()
    try:
        ok = wl.op()
    except Exception as exc:  # one failed op must not end the series
        print(f"op raised: {exc!r}", file=sys.stderr)
        ok = False
    dt = time.perf_counter() - t0
    checks.record(ok)
    return dt


def loop(wl, checks: Checks, seconds: float, min_ops: int,
         rss: hostenv.RssSampler | None = None) -> tuple[list, list, list]:
    """Closed loop for ``seconds`` (and ``min_ops``).  Returns per op the
    wall time, the CPU seconds of the process tree and, with ``rss``, the
    peak RSS during the op."""
    ops, cpus, peaks = [], [], []
    end = time.perf_counter() + seconds
    while (time.perf_counter() < end or len(ops) < min_ops) and not wl.exhausted():
        if rss is not None:
            rss.start_window()
        c0 = hostenv.tree_cpu_s()
        ops.append(timed_op(wl, checks))
        cpus.append(hostenv.tree_cpu_s() - c0)
        if rss is not None:
            peaks.append(rss.window_mb)
    return ops, cpus, peaks


def run_setups(wl, checks: Checks, n_cores: int, t_proc: float,
               setups: int = SETUPS) -> tuple[object, dict]:
    """``setups`` full set-ups: session, cold prepare, first op.  The
    first starts at process start (JVM launch included); the others
    after stopping the previous session (JVM reused)."""
    rec = {"setup_s": [], "first_op_s": [], "get_spark_s": [], "prepare_s": []}
    spark = None
    for k in range(setups):
        if spark is not None:
            spark.stop()
        t0 = t_proc if k == 0 else time.time()
        tg = time.perf_counter()
        spark = hostenv.start_spark(f"perfbench-{wl.name}", n_cores)
        rec["get_spark_s"].append(time.perf_counter() - tg)
        rec["prepare_s"].append(wl.setup(spark, k))
        rec["first_op_s"].append(timed_op(wl, checks))
        rec["setup_s"].append(time.time() - t0)
    return spark, rec


def untraced_metrics(wl, rec: dict, ops: list[float], cpus: list[float],
                     peaks_mb: list[float]) -> dict:
    """Every end-to-end figure of the untraced run: ``metrics.END_TO_END``
    names the gated ones, ``metrics.PRINTED`` the ones only reported."""
    from metrics import median

    p50 = median(ops)
    return {
        "setup_s": median(rec["setup_s"]),
        "op_cpu_s": median(cpus),
        "peak_rss_mb": median(peaks_mb),
        "first_op_s": median(rec["first_op_s"]),
        "op_s_p50": p50,
        "rows_per_s": wl.rows_per_op() / p50 if p50 else 0.0,
    }


def traced_series(wl, tracer, checks: Checks, seconds: float, plain: list | None = None):
    """Traced ops for ``seconds`` (at least one): op walls, self spans
    per layer and layer-specific metrics, each as lists over ops.  With
    ``plain`` given, an untraced op runs before each traced one and its
    time is appended there (the tracing-overhead baseline)."""
    walls, spans, extra = [], {}, {}
    end = time.perf_counter() + seconds
    while (time.perf_counter() < end or len(walls) < TRACE_MIN_ITERS) and not wl.exhausted():
        if plain is not None:
            plain.append(timed_op(wl, checks))
        wall, ok, layers, ext = wl.traced_op(tracer)
        checks.record(ok)
        walls.append(wall)
        for name, span in layers.items():
            spans.setdefault(name, []).append(span)
        for k, v in ext.items():
            extra.setdefault(k, []).append(v)
    return walls, spans, extra


def layer_metrics(spans: dict, extra: dict) -> dict:
    """Medians over ops of every generic metric of the traced layers."""
    from metrics import GENERIC, median

    out = {}
    for layer, ss in spans.items():
        for m, *_ in GENERIC:
            out[f"{layer}.{m}"] = median([getattr(s, "wall_s" if m == "self_s" else m)
                                          for s in ss])
    out.update({k: median(vs) for k, vs in extra.items()})
    return out


def traced_metrics(wl, tracer, checks: Checks, seconds: float,
                   rec: dict) -> tuple[dict, list[float], list[float]]:
    from metrics import EXTRA, GENERIC, LAYERS, median

    plain: list[float] = []
    walls, spans, extra = traced_series(wl, tracer, checks, seconds, plain)
    untraced_p50 = median(plain)
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, *_ in GENERIC}
    out.update({name: 0.0 for name, *_ in EXTRA})
    out.update(layer_metrics(spans, extra))
    out.update(wl.extras())
    out["session.self_s"] = median(rec["get_spark_s"])
    out["session.start_s"] = rec["get_spark_s"][0]
    if wl.prep is not None:
        from osmnightwatch_spark.operators.pip_join import BOUNDARY

        out["operators.pip_join.prepare.self_s"] = median(rec["prepare_s"])
        out["operators.pip_join.prepare.covering_cells"] = len(wl.prep.covering)
        out["operators.pip_join.prepare.boundary_cells"] = int(
            (wl.prep.covering["kind"] == BOUNDARY).sum())
    traced_wall = median(walls)
    out["tracing_overhead_pct"] = (traced_wall / untraced_p50 - 1.0) * 100 if untraced_p50 else 0.0
    out["unattributed_s"] = traced_wall - sum(out[f"{layer}.self_s"] for layer in spans)
    return out, walls, plain


def incremental_leg(wl, tracer, checks: Checks, seconds: float) -> tuple[dict, list[float]]:
    """``streaming.cdc``, ``plans.incremental`` and ``sources.catalog``:
    micro-batches of the seeded changeset stream over catalog tables
    (flagship trace only; the first batch is an untraced warm-up)."""
    from workloads import Incremental

    inc = Incremental(wl.in_dir, wl.meta, wl.work_dir)
    inc.setup(wl.spark, 0)
    checks.record(inc.op())
    walls, spans, extra = traced_series(inc, tracer, checks, seconds)
    out = layer_metrics(spans, extra)
    out.update(inc.extras())
    return out, walls


def decode_layer(wl, tracer, checks: Checks, n_cores: int) -> tuple[dict, object]:
    """``operators.images_ops`` on the bytes-bearing slice (flagship
    trace only), with the N→1 core scaling ratio of ``verified_flagship``."""
    from metrics import median

    def timed(n: int, quarter: bool = False) -> list[float]:
        out = []
        for _ in range(n):
            t0 = time.perf_counter()
            checks.record(wl.verified_op(quarter))
            out.append(time.perf_counter() - t0)
        return out

    spans = wl.traced_decode(tracer)                    # also warms the decode kernel
    rows = wl.meta["decode"]["rows"]
    full = timed(2)
    wl.spark.stop()
    spark = hostenv.start_spark(f"perfbench-{wl.name}-1core", 1)
    wl.spark = spark
    one = timed(2, quarter=True)[1:]                    # the first one warms the new context
    thr_n = rows / median(full)
    thr_1 = (rows // 4) / median(one)
    out = layer_metrics({"operators.images_ops": [spans]}, {})
    out.update({
        "operators.images_ops.kernel_rows_per_s": rows / spans.wall_s if spans.wall_s > 0 else 0.0,
        "operators.images_ops.udf_tasks": spans.udf_tasks,
        "operators.images_ops.scaling_eff": thr_n / (n_cores * thr_1),
        "_decode": {"verified_s_at_n": full, "verified_s_at_1_quarter": one},
    })
    return out, spark


def report(wl, host: dict, rec: dict, ops: list[float], checks: Checks) -> None:
    from metrics import quartiles, slow_ops, tail

    def fmt(xs):
        return "[" + ", ".join(f"{x:.3f}" for x in xs) + "]"

    print(f"# perfbench workload={wl.name} host={json.dumps(host)}")
    print("# BENCH_r0*.json leaf times were taken at local[32]; they are not a baseline "
          "on this host.")
    for k in ("setup_s", "first_op_s", "get_spark_s", "prepare_s"):
        print(f"{k:>12}: {fmt(rec[k])}")
    q1, q2, q3 = quartiles(ops)
    print(f"{'ops':>12}: n={len(ops)} q1={q1:.3f} median={q2:.3f} q3={q3:.3f} raw={fmt(ops)}")
    t = tail(ops)
    print(f"{'op_s_tail':>12}: " + (f"p{t[0]}={t[1]:.3f} s (n={len(ops)})" if t
                                     else f"n/a (n={len(ops)}; needs >= 20 ops)"))
    slow = slow_ops(ops)
    print(f"{'slow mode':>12}: " + (f"ops {slow} above 1.5x median" if slow else "none"))
    ratio = checks.failed / checks.attempted if checks.attempted else 0.0
    print(f"{'fail_ratio':>12}: {ratio:.4f} ({checks.failed}/{checks.attempted})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = hostenv.process_start_time()
    hostenv.require_checkout()
    hostenv.configure_env()
    from metrics import END_TO_END, PRINTED, UNITS
    from spans import Tracer
    from workloads import WORKLOADS

    with open(os.path.join(args.in_dir, "meta.json")) as fh:
        meta = json.load(fh)
    work = os.path.join(hostenv.CACHE, "work", f"{args.workload}-{os.getpid()}")
    wl = WORKLOADS[args.workload](args.in_dir, meta, work)
    n_cores = hostenv.cores()
    host = hostenv.host_info()
    checks = Checks()
    spark = None
    ticks0 = hostenv.cpu_ticks()
    try:
        with hostenv.RssSampler() as rss:
            # the traced run sets up once: its per-layer figures need no
            # set-up medians, and the run must stay short
            spark, rec = run_setups(wl, checks, n_cores, t_proc, 1 if args.trace else SETUPS)
            if not args.trace:
                ops, cpus, peaks = loop(wl, checks, args.seconds, MIN_OPS, rss)
                figures = untraced_metrics(wl, rec, ops, cpus, peaks)
                metrics = {name: figures[name] for name, *_ in END_TO_END}
                print(f"# per-op CPU s: {[round(c, 2) for c in cpus]}")
                print(f"# per-op peak RSS MB: {[round(p) for p in peaks]}; "
                      f"run peak {rss.peak_mb:.0f}")
                print("# not gated: " + ", ".join(f"{name}={figures[name]:.4g} {unit}"
                                                  for name, unit in PRINTED))
            else:
                tracer = Tracer(spark)
                timed_op(wl, checks)  # the second op in a fresh context is still slow
                metrics, walls, ops = traced_metrics(wl, tracer, checks, args.seconds, rec)
                print(f"# traced op walls: {walls}")
                if wl.name == "flagship":
                    inc, walls = incremental_leg(wl, tracer, checks, args.seconds / 2)
                    print(f"# incremental leg batch walls: {walls}")
                    metrics.update(inc)
                    dec, spark = decode_layer(wl, tracer, checks, n_cores)
                    print(f"# decode leg: {dec.pop('_decode')}")
                    metrics.update(dec)
        report(wl, host, rec, ops, checks)
        total, steal = (b - a for a, b in zip(ticks0, hostenv.cpu_ticks()))
        print(f"# cpu steal during the run: {100 * steal / max(1, total):.1f}%")
    finally:
        if spark is not None:
            hostenv.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
