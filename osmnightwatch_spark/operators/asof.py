"""As-of (point-in-time) join — match each probe row to the latest
reference row at-or-before its timestamp, per key.

The reference engine's closest analog is the last-known-good lookup of
``IssuesData`` against the newest processed diff (``Program.cs:75-117``
keeps exactly one "current state as of the latest minutely diff" per
entity); the generalized operator is what a training-data pipeline
needs to stamp every example with the most recent upstream state
(model snapshot, label version, quote before a trade).

Spark has no ASOF JOIN, and the naive formulation
(``p JOIN r ON p.k = r.k AND r.t <= p.t`` + max-per-probe) explodes to
O(|p|·|r|/keys) intermediate rows. The distributed-standard rewrite
used here is **union + ordered window**:

1. tag probes (``_is_probe=1``) and refs (0) and UNION them — column-
   aligned, no join at all;
2. one shuffle on ``key``, one sort on ``(t, tag, tiebreak)`` per key;
3. ``last(ref_struct, ignorenulls=True)`` over
   ``rowsBetween(unboundedPreceding, currentRow)`` carries the most
   recent reference ROW forward onto every probe row. The payload is
   carried as ONE struct — never per-column — so a NULL inside the
   matched ref's payload stays NULL instead of inheriting a stale
   value from an older ref (per-column ``last(ignorenulls)`` would
   tear the row); struct nullness (ref-row presence) is the only
   carry-forward signal.
4. filter back to probes and explode the struct into ``{prefix}{col}``
   output columns.

Cost = exactly ONE shuffle of |p|+|r| rows (a sort-merge join would
shuffle the same volume and still need the per-probe max). Everything
is native Column expressions — whole-stage codegen, no Python.

Tie semantics are explicit on BOTH axes:

* probe-vs-ref at equal ``t``: ``strict=False`` (default, DuckDB
  ``ASOF ... ON p.t >= r.t``) sorts refs BEFORE probes so an equal-time
  ref is visible; ``strict=True`` (``>``) sorts probes first.
* ref-vs-ref at equal ``(key, t)``: pass ``tiebreak=`` (a ref column,
  e.g. an event id) and the GREATEST-tiebreak ref wins,
  deterministically — equivalent to ``max_by(ref, (t, tiebreak))``.
  Without it, duplicate-``(key, t)`` refs with distinct payloads are
  engine/partition-order dependent (DuckDB's native ASOF also picks an
  arbitrary equal-t ref).

Scale note (100 TB): the single shuffle partitions by ``key`` only —
a hot key serializes its window on one task and AQE cannot split a
window the way it splits a skewed join. For keys with bounded row
counts (users, instruments) that is the right trade; for pathological
keys use :func:`asof_join_bucketed`, which splits every key into
``(key, time_slice)`` partitions and forwards exactly one boundary
ref per (key, probe-slice) so no task ever sees a whole hot key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "_is_probe"
_REF = "_asof_ref"   # carried ref-row struct
_TB = "_asof_tb"     # ref tiebreak sort column
_T_FIELD = "__asof_t"  # matched-ref-time field inside the struct


def asof_join(
    probes: DataFrame,
    refs: DataFrame,
    key: str,
    t: str,
    payload: Sequence[str],
    *,
    strict: bool = False,
    prefix: str = "ref_",
    tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: every probe row + the payload of the latest ref
    row with ``ref.t <= probe.t`` (``<`` when ``strict``) and equal
    ``key``; nulls when no such ref exists.

    ``probes``/``refs`` need ``key`` and ``t`` columns (``t`` orderable;
    use an integer epoch for cross-engine determinism). ``payload``
    names ref columns carried onto the match, emitted as
    ``{prefix}{name}``; ``{prefix}{t}`` (the matched ref time) is always
    emitted. Probe columns pass through unchanged. ``tiebreak`` (a ref
    column) pins which ref wins among duplicates of ``(key, t)`` —
    greatest value, i.e. ``max_by`` over ``(t, tiebreak)``.
    """
    dup = [c for c in payload if f"{prefix}{c}" in probes.columns]
    if dup:
        raise ValueError(f"probe columns collide with prefixed payload: {dup}")
    if _T_FIELD in payload:
        raise ValueError(f"payload column name {_T_FIELD!r} is reserved")

    probe_cols = list(probes.columns)
    ref_struct = F.struct(
        *[F.col(c).alias(c) for c in payload],
        F.col(t).alias(_T_FIELD),
    )
    tb_col = (F.col(tiebreak) if tiebreak is not None
              else F.lit(None).cast("long"))
    tagged_refs = refs.select(
        F.col(key).alias(key), F.col(t).alias(t),
        ref_struct.alias(_REF), tb_col.alias(_TB),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c)
          for c in probe_cols if c not in (key, t)],
        F.lit(0).alias(_TAG),
    )
    struct_type = tagged_refs.schema[_REF].dataType
    tb_type = tagged_refs.schema[_TB].dataType
    tagged_probes = probes.select(
        key, t,
        F.lit(None).cast(struct_type).alias(_REF),
        F.lit(None).cast(tb_type).alias(_TB),
        *[c for c in probe_cols if c not in (key, t)],
        F.lit(1).alias(_TAG),
    )
    # strict: probes sort before refs at equal t → an equal-t ref is
    # outside the frame; non-strict: refs first → visible. Among refs
    # at equal t the tiebreak ascends, so last() picks the greatest.
    tie = F.col(_TAG).desc() if strict else F.col(_TAG).asc()
    w = (Window.partitionBy(key)
         .orderBy(F.col(t).asc(), tie, F.col(_TB).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    carried = tagged_refs.unionByName(tagged_probes)
    matched = F.last(_REF, ignorenulls=True).over(w)
    return (
        carried.select(*probe_cols, matched.alias(_REF), _TAG)
        .where(F.col(_TAG) == 1)
        .select(
            *probe_cols,
            *[F.col(_REF)[c].alias(f"{prefix}{c}") for c in payload],
            F.col(_REF)[_T_FIELD].alias(f"{prefix}{t}"),
        )
    )


def asof_join_bucketed(
    probes: DataFrame,
    refs: DataFrame,
    key: str,
    t: str,
    payload: Sequence[str],
    *,
    slice_width: int,
    strict: bool = False,
    prefix: str = "ref_",
    tiebreak: str | None = None,
) -> DataFrame:
    """Hot-key-safe as-of join: identical output contract to
    :func:`asof_join`, but every key is split into ``(key,
    floor(t / slice_width))`` partitions so a key holding half the
    corpus still parallelizes across its time slices (the reference's
    steady-state loop, ``Program.cs:75-117``, is exactly the
    single-hot-key shape at 100×).

    Plan: (1) one ``max_by`` AGGREGATION per ``(key, slice)`` picks
    each ref slice's *closer* — its latest ``(t, tiebreak)`` ref row.
    An agg, not a window: partial aggregation collapses every slice
    map-side, so the closers exchange carries one row per occupied
    (key, slice), not per ref. (2) a tiny recursive :func:`asof_join`
    on the slice index (strict: an earlier-slice ref is ALWAYS
    strictly before any probe in a later slice) assigns every probed
    ``(key, slice)`` exactly ONE carry-in boundary ref — O(keys ×
    occupied-slices) rows, bounded by the time span, never by corpus
    size; (3) refs union the carry-ins and run the standard
    union+window partitioned by the COMPOSITE ``(key, slice)`` — no
    partition ever receives a whole key.

    ``slice_width`` is in ``t``'s own units (epoch seconds for the
    usual integer-epoch ``t``). Choose it so a slice of the hottest
    key fits one task: e.g. rows_per_key_per_day ≈ 10M → hourly
    slices ≈ 400k rows/partition.

    Cost trade, measured (BENCH.md, round-5 scale study: 3.75M rows,
    local[32]): ~2 ref shuffles vs the plain path's 1, so at sizes
    where one task can still sort the hottest key the plain path wins
    on wall clock; bucketing is the CLUSTER-scale path — a 10⁹-row
    key cannot sort on one task at all, and here no task ever sees
    more than a slice.
    """
    b = "_asof_slice"
    kb = "_asof_kb"
    if b in probes.columns or kb in probes.columns:
        raise ValueError(f"probe columns collide with internals: {b}/{kb}")
    slice_of = (F.floor(F.col(t) / F.lit(slice_width))).cast("long")

    pb = probes.withColumn(b, slice_of)
    rb = refs.withColumn(b, slice_of)

    # (1) per-(key, slice) closer — the max_by((t, tiebreak)) ref row,
    # carried whole as a struct (map-side-combining agg).
    carry_payload = list(dict.fromkeys(
        [t, *payload] + ([tiebreak] if tiebreak is not None else [])))
    ord_fields = [F.col(t).alias("_t")]
    if tiebreak is not None:
        ord_fields.append(F.col(tiebreak).alias("_tb"))
    closers = (
        rb.groupBy(key, b)
        .agg(F.max_by(
            F.struct(*[F.col(c).alias(c) for c in carry_payload]),
            F.struct(*ord_fields)).alias("_c"))
        .select(key, b, *[F.col(f"_c.{c}").alias(c) for c in carry_payload])
    )

    # (2) carry-in: for each probed slice, the closer of the latest
    # EARLIER slice (strict on the slice index — a ref in slice < B has
    # t < B·width ≤ any probe t in B, valid under both strict modes).
    pslices = pb.select(key, b).distinct()
    carry = asof_join(pslices, closers, key=key, t=b,
                      payload=carry_payload, strict=True, prefix="_ci_")
    carry_refs = carry.where(F.col(f"_ci_{t}").isNotNull()).select(
        F.col(key), F.col(b),
        *[F.col(f"_ci_{c}").alias(c) for c in carry_payload],
    )

    # (3) refs union the carry-ins; one window over the composite
    # (key, slice) partition. Refs in probe-less slices fall out at
    # the probe filter — pre-pruning them with a semi-join costs a
    # third ref shuffle and only pays when probes are very sparse.
    rb_live = (rb.select(key, b, t, *[c for c in carry_payload if c != t])
               .unionByName(carry_refs.select(
                   key, b, t, *[c for c in carry_payload if c != t])))
    pb2 = pb.withColumn(kb, F.struct(key, b))
    rb2 = rb_live.withColumn(kb, F.struct(key, b))
    out = asof_join(pb2, rb2, key=kb, t=t, payload=payload,
                    strict=strict, prefix=prefix, tiebreak=tiebreak)
    return out.drop(kb, b)


def asof_join_sql(
    probes_sql: str,
    refs_sql: str,
    key: str,
    t: str,
    payload: Sequence[str],
    *,
    strict: bool = False,
    prefix: str = "ref_",
    probe_select: str = "p.*",
    tiebreak: str | None = None,
) -> str:
    """DuckDB twin: native ``ASOF LEFT JOIN`` (independent engine path —
    DuckDB plans a partitioned merge, not our union+window). With
    ``tiebreak``, refs are first reduced to one row per ``(key, t)``
    (greatest tiebreak wins) so the native ASOF — which picks an
    arbitrary equal-t ref — is pinned to the same row the engine's
    ``max_by``-style window picks.
    """
    op = ">" if strict else ">="
    refs_src = f"({refs_sql})"
    if tiebreak is not None:
        refs_src = (
            f"(SELECT * FROM ({refs_sql}) "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {key}, {t} "
            f"ORDER BY {tiebreak} DESC) = 1)"
        )
    pay = ", ".join(
        [f"r.{c} AS {prefix}{c}" for c in payload] + [f"r.{t} AS {prefix}{t}"])
    return (
        f"SELECT {probe_select}, {pay} FROM ({probes_sql}) p "
        f"ASOF LEFT JOIN {refs_src} r "
        f"ON p.{key} = r.{key} AND p.{t} {op} r.{t}"
    )
