"""Snapshot catalog — a minimal Iceberg-style table layout on parquet.

No Iceberg runtime jar ships in this environment (SURVEY.md §7.0), so
the engine provides the subset of semantics the north_rule needs, in
a layout deliberately shaped like Iceberg's so a real catalog can slot
in behind the same API:

* a table is a directory of immutable parquet data files plus
  ``manifests/manifest-N.json`` listing the files of snapshot N with
  **per-file row/byte metrics** and **lineage** (what inputs + stage
  fingerprint produced the snapshot) — the reference's transactional
  watermark (``KeyValueDatabase.cs:83-115``, ``Program.cs:97-116``)
  generalized;
* commits are atomic: the manifest is written to a temp name and
  ``os.rename``d into place, then the ``CURRENT`` pointer file is
  atomically renamed — readers see the old or the new snapshot, never
  a partial one (Iceberg's swap-pointer commit);
* ``run_stage`` gives resumability: a stage whose (name, inputs
  fingerprint) already has a committed snapshot is skipped and its
  output re-read — a killed multi-stage job re-runs only unfinished
  stages (ST3: "resume = re-run from last committed snapshot").

Time never enters snapshot content (deterministic resume); wall-clock
appears only as informational metadata.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import CacheScope

CURRENT = "CURRENT"


class CommitConflict(Exception):
    """A replace-style commit found the table advanced past its base
    snapshot (Iceberg's validation failure): the caller must re-read
    the new current state and redo its rewrite."""


class Table:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- read side ----------------------------------------------------------

    def current_snapshot(self) -> int | None:
        ptr = os.path.join(self.root, CURRENT)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return int(fh.read().strip())

    def manifest(self, snapshot: int | None = None) -> dict | None:
        if snapshot is None:
            snapshot = self.current_snapshot()
        if snapshot is None:
            return None
        path = os.path.join(self.root, "manifests", f"manifest-{snapshot}.json")
        with open(path) as fh:
            return json.load(fh)

    def read(self, spark: SparkSession, snapshot: int | None = None,
             where: dict | None = None) -> DataFrame:
        """Read a snapshot; ``where={col: (lo, hi)}`` additionally does
        manifest-level file skipping (Iceberg's min/max pruning): a
        data file whose recorded ``[min, max]`` range for ``col``
        cannot intersect ``[lo, hi]`` is dropped from the scan before
        Spark ever lists it — at 100 TB this is the difference
        between scanning a day's partition and scanning the table.
        ``lo``/``hi`` may be ``None`` for one-sided ranges. Files
        without stats for a column are conservatively kept, and the
        exact residual predicate is still applied to the surviving
        rows, so results always equal a full scan + filter."""
        m = self.manifest(snapshot)
        if m is None or not m["files"]:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        files = m["files"]
        if where:
            files = [f for f in files if _file_may_match(f, where)]
        if not files:
            df = spark.read.parquet(
                os.path.join(self.root, m["files"][0]["path"])).limit(0)
        else:
            df = spark.read.parquet(
                *[os.path.join(self.root, f["path"]) for f in files])
        return _apply_range_filters(df, where)

    def read_changes(self, spark: SparkSession, from_snapshot: int,
                     to_snapshot: int | None = None,
                     where: dict | None = None) -> DataFrame:
        """Incremental (changelog) read: rows in data files that are
        part of ``to_snapshot`` but not of ``from_snapshot`` — the
        Iceberg incremental-scan analog, and the snapshot-range read
        the replication catch-up ladder rides (a consumer far behind
        reads the net-new files of a whole range in one scan instead
        of replaying per-snapshot). ``from_snapshot=0`` means
        everything up to ``to_snapshot``. ``where`` applies the same
        manifest min/max file skipping + exact residual filter as
        :meth:`read` to the net-new files."""
        to_m = self.manifest(to_snapshot)
        if to_m is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        old_files: set[str] = set()
        if from_snapshot > 0:
            from_m = self.manifest(from_snapshot)
            if from_m is not None:
                old_files = {f["path"] for f in from_m["files"]}
        new = [f for f in to_m["files"] if f["path"] not in old_files]
        if where:
            new = [f for f in new if _file_may_match(f, where)]
        if not new:
            return self.read(spark, to_snapshot).limit(0)
        df = spark.read.parquet(
            *[os.path.join(self.root, f["path"]) for f in new])
        return _apply_range_filters(df, where)

    # -- write side ---------------------------------------------------------

    def commit(self, df: DataFrame, lineage: dict | None = None,
               append: bool = False, stats_cols: list[str] | None = None,
               cluster_by: str | None = None, n_files: int = 32,
               replace_base: int | None = None,
               claim_grace_s: float = 60.0) -> int:
        """Write df as a new snapshot; atomic pointer swap; returns id.

        ``append=True`` makes an Iceberg-style append commit: the new
        manifest lists the previous snapshot's files PLUS the new data
        files (no rewrite), which is what makes
        :meth:`read_changes` a true incremental scan.

        Concurrent writers use optimistic concurrency (Iceberg's
        metastore-CAS analog on a filesystem): the expensive data
        write happens once, outside any critical section, into an
        immutable uniquely-named directory; then a short claim loop
        serializes metadata. A writer claims snapshot id ``cur+1`` by
        ``os.link``-ing a fully-written manifest into
        ``manifest-{id}.json`` — link(2) fails atomically if another
        writer already owns the id, and because the source is
        complete before the link, a claimed manifest can never be
        partial. On conflict an append commit REBASES: it re-reads
        the winner's manifest so its file list includes the winner's
        files (no lost update), then retries the next id. The CURRENT
        pointer rename is race-free because only the claim winner of
        ``cur+1`` ever writes that value. A writer that dies between
        claim and pointer swap leaves an orphan manifest that would
        block the id forever; a competing writer steals the claim
        once the orphan is older than ``claim_grace_s`` seconds with
        the pointer still behind it. The steal primitive is an atomic
        ``os.rename`` of the orphan to a unique graveyard name — of N
        concurrent stealers exactly one wins; the age and pointer
        checks re-run immediately before the rename, so a freshly
        re-claimed manifest (age ≈ 0) is never stolen. Because a
        stalled-then-woken original writer could still race its
        pointer rename against a thief, every claimed manifest
        carries a ``writer`` uuid and the owner re-verifies it (and
        that the pointer is still behind) right before the swap; a
        stolen claim loops back and re-claims a fresh id instead of
        publishing — the commit is delayed, never lost. The residual
        window (theft between that verify and the rename) needs the
        owner to stall longer than the grace period at exactly that
        instruction — the documented limit of a filesystem protocol;
        a real deployment swaps this for a metastore CAS behind the
        same method signature.

        ``stats_cols`` selects which columns get per-file min/max
        stats recorded in the manifest (parquet footer metadata, no
        data read) for :meth:`read` file skipping; ``None`` records
        stats for every primitive column.

        ``replace_base`` marks a replace-style commit (compaction,
        rewrite): the df was computed FROM that snapshot, so the
        commit raises :class:`CommitConflict` if the table has
        advanced past it — without this, a rewrite racing an append
        would publish a manifest missing the append's files (caught
        by ``test_catalog_concurrent_commit_with_maintenance``).

        ``cluster_by`` range-clusters the snapshot into ``n_files``
        files sorted on that column before writing (Iceberg's
        sort-order write). With the engine's interleaved cell ids —
        a Z-order curve over (lon, lat) — clustering by a cell column
        makes every data file cover a compact spatial block, so a
        :meth:`read` with a cell-range ``where`` prunes to the few
        files that actually intersect the region: the layout decision
        that turns the 100 TB table's spatial queries into
        partition-sized scans.
        """
        # -- data write: once, immutable, collision-free ------------------
        with CacheScope() as scope:
            if cluster_by is not None:
                from pyspark.sql import functions as F

                # repartitionByRange runs a boundary-sampling job over its
                # child before the shuffle — persist the input so the (in
                # the streaming sink, full-merge-sized) plan is computed
                # once, not twice
                df = scope.persist(df).repartitionByRange(
                    max(1, n_files), F.col(cluster_by)
                ).sortWithinPartitions(cluster_by)
            provisional = (self.current_snapshot() or 0) + 1
            rel_dir = os.path.join(
                "data", f"snap-{provisional}-{uuid.uuid4().hex[:8]}")
            out_dir = os.path.join(self.root, rel_dir)
            df.write.mode("errorifexists").parquet(out_dir)
        new_files = []
        for fn in sorted(os.listdir(out_dir)):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(out_dir, fn)
            new_files.append({
                "path": os.path.join(rel_dir, fn),
                "bytes": os.path.getsize(full),
                "rows": _parquet_rows(full),
                "stats": _parquet_stats(full, stats_cols),
            })

        # -- metadata claim loop ------------------------------------------
        mdir = os.path.join(self.root, "manifests")
        writer = uuid.uuid4().hex
        deadline = time.monotonic() + max(300.0, 5 * claim_grace_s)
        built_for: int | None = None  # avoid rebuilding while waiting
        while True:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit to {self.root} could not claim a snapshot id "
                    f"(another writer holds the next id and the pointer "
                    f"never advanced)")
            cur = self.current_snapshot()
            if replace_base is not None and (cur or 0) != replace_base:
                # replace-style commit (compact/rewrite): its df was
                # computed FROM replace_base, so publishing over a
                # newer snapshot would silently drop that snapshot's
                # changes — the caller must redo the rewrite (Iceberg's
                # commit validation)
                if built_for is not None:  # drop this loop's stale tmp
                    try:
                        os.remove(os.path.join(
                            mdir, f"manifest-{built_for}.json.tmp-{writer[:8]}"))
                    except FileNotFoundError:
                        pass
                raise CommitConflict(
                    f"table advanced to snapshot {cur} past replace "
                    f"base {replace_base}")
            snap = (cur or 0) + 1
            mpath = os.path.join(mdir, f"manifest-{snap}.json")
            if built_for != snap:
                if built_for is not None:  # rebased: drop the stale tmp
                    try:
                        os.remove(os.path.join(
                            mdir, f"manifest-{built_for}.json.tmp-{writer[:8]}"))
                    except FileNotFoundError:
                        pass
                files = []
                if append and cur is not None:
                    try:
                        prev = self.manifest(cur)
                    except FileNotFoundError:
                        # concurrent expire_snapshots raced us between
                        # the pointer read and the manifest read (the
                        # CURRENT snapshot itself is never expired, so
                        # the pointer must have moved) — re-read it
                        time.sleep(0.02)
                        continue
                    if prev is not None:
                        files.extend(prev["files"])
                files = files + new_files
                manifest = {
                    "snapshot": snap,
                    "writer": writer,
                    "files": files,
                    "metrics": {
                        "total_rows": sum(f["rows"] for f in files),
                        "total_bytes": sum(f["bytes"] for f in files),
                        "n_files": len(files),
                    },
                    "lineage": lineage or {},
                    "committed_at_unix": int(time.time()),  # informational
                }
                tmp = mpath + f".tmp-{writer[:8]}"
                with open(tmp, "w") as fh:
                    json.dump(manifest, fh, indent=1)
                    fh.flush()
                    os.fsync(fh.fileno())
                built_for = snap
            try:
                os.link(tmp, mpath)  # atomic claim of snapshot id
                claimed = True
            except FileExistsError:
                claimed = False
            if claimed:
                os.remove(tmp)
                # post-claim ownership verify just before the swap: a
                # writer that stalled past the grace period may have
                # been stolen from — publish nothing, re-claim instead
                try:
                    with open(mpath) as fh:
                        owned = json.load(fh).get("writer") == writer
                except (FileNotFoundError, json.JSONDecodeError):
                    owned = False
                cur_now = self.current_snapshot() or 0
                if owned and cur_now < snap:
                    break
                built_for = None  # stolen or superseded: rebase + retry
                continue
            # id taken: either the winner is about to advance the
            # pointer (wait and rebase) or it died post-claim (steal
            # after the grace period). Age and pointer re-checked at
            # the last instant; the steal itself is an atomic rename
            # (only one of N stealers wins, and a file that was just
            # re-claimed has age ~0 so it is never the rename target).
            try:
                age = time.time() - os.path.getmtime(mpath)
            except FileNotFoundError:
                age = 0.0
            if age > claim_grace_s and self.current_snapshot() == cur:
                grave = mpath + f".stolen-{writer[:8]}"
                try:
                    os.rename(mpath, grave)
                    os.remove(grave)
                except FileNotFoundError:
                    pass  # another stealer won
            else:
                time.sleep(0.02)

        ptr_tmp = os.path.join(
            self.root, CURRENT + f".tmp-{writer[:8]}")
        with open(ptr_tmp, "w") as fh:
            fh.write(str(snap))
        os.rename(ptr_tmp, os.path.join(self.root, CURRENT))
        return snap


    # -- maintenance --------------------------------------------------------

    def compact(self, spark: SparkSession,
                target_file_bytes: int = 128 * 1024 * 1024,
                min_files: int = 2,
                cluster_by: str | None = None) -> int | None:
        """Iceberg ``rewrite_data_files`` analog: coalesce the current
        snapshot's many small files into ~``target_file_bytes`` files
        and commit the rewrite as a NEW snapshot (same rows, fewer
        files). The old snapshot's manifest and data files stay on
        disk — time travel via ``read(snapshot=...)`` still works and
        a concurrent reader of the old pointer is undisturbed.

        Why it matters at 100 TB: a long-running append stream (the
        replication loop) accretes per-batch small files; scan tasks,
        driver file listings and footer reads all scale with file
        count, so periodic compaction is what keeps an
        ever-appending table scannable. No-op (returns None) when the
        snapshot already has < ``min_files`` files.

        A rewrite racing a concurrent append is detected by
        ``replace_base`` commit validation and redone from the new
        head; after ``max_retries`` straight lost races it gives up
        QUIETLY (returns None) — sustained append contention is a
        normal condition for a maintenance pass, not an error, and
        the next scheduled pass will compact the then-current head.

        ``cluster_by`` restores Z-order layout in the same rewrite
        (range-cluster + sort instead of plain coalesce) — the
        documented companion to a stream that commits unclustered
        micro-batches.
        """
        max_retries = 5
        for _ in range(max_retries):
            m = self.manifest()
            if m is None or len(m["files"]) < min_files:
                return None
            n_out = max(1, -(-m["metrics"]["total_bytes"] // target_file_bytes))
            df = self.read(spark)
            if cluster_by is None:
                df = df.coalesce(int(n_out))
            try:
                return self.commit(df, replace_base=m["snapshot"],
                                   cluster_by=cluster_by,
                                   n_files=int(n_out), lineage={
                    "op": "compact",
                    "source_snapshot": m["snapshot"],
                    "files_before": len(m["files"]),
                })
            except CommitConflict:
                continue  # an append won the race: recompact the new head
        return None  # contended the whole window — next pass will get it


    def remove_orphan_files(self, older_than_s: float = 3600.0) -> dict:
        """Iceberg ``remove_orphan_files`` analog: delete data files no
        manifest references. Orphans are produced by failed or
        conflicted commits (a replace losing its ``CommitConflict``
        race, a writer dying after the data write but before the
        claim) — the data write is deliberately outside the commit
        critical section, so its files become garbage, not corruption.
        ``older_than_s`` (default 1 h) keeps files an IN-FLIGHT commit
        has written but not yet manifested: a live writer claims its
        id within seconds of finishing the write, so an hour-old
        unreferenced file belongs to a dead one. Returns
        ``{"files_removed": n, "bytes_removed": b}``.

        Why it matters at 100 TB: every lost commit race strands a
        full snapshot-sized write; without this op the stranded bytes
        accumulate invisibly (they are in no manifest, so expiry
        never sees them).
        """
        import shutil

        referenced: set[str] = set()
        for s in self._snapshot_ids():
            try:
                m = self.manifest(s)
            except FileNotFoundError:
                continue  # concurrent expire removed it mid-walk
            referenced.update(f["path"] for f in m["files"])
        now = time.time()
        removed, bytes_removed = 0, 0
        ddir = os.path.join(self.root, "data")
        for d in sorted(os.listdir(ddir)):
            full_dir = os.path.join(ddir, d)
            if not os.path.isdir(full_dir):
                continue
            try:
                members = [
                    os.path.join("data", d, fn) for fn in os.listdir(full_dir)
                    if fn.endswith(".parquet")
                ]
                if not members or any(m in referenced for m in members):
                    continue
                ages = [now - os.path.getmtime(os.path.join(self.root, m))
                        for m in members]
                if min(ages) <= older_than_s:
                    continue  # possibly an in-flight commit's fresh write
                size = sum(
                    os.path.getsize(os.path.join(self.root, m))
                    for m in members)
            except FileNotFoundError:
                continue  # a racing cleaner got here first
            bytes_removed += size
            removed += len(members)
            shutil.rmtree(full_dir, ignore_errors=True)
        return {"files_removed": removed, "bytes_removed": bytes_removed}

    def _snapshot_ids(self) -> list[int]:
        """Sorted snapshot ids present in manifests/ (shared by the
        maintenance ops so the manifest naming scheme lives once)."""
        mdir = os.path.join(self.root, "manifests")
        return sorted(
            int(fn[len("manifest-"):-len(".json")])
            for fn in os.listdir(mdir)
            if fn.startswith("manifest-") and fn.endswith(".json")
        )

    def expire_snapshots(self, keep_n: int | None = None,
                         older_than_unix: int | None = None) -> dict:
        """Iceberg ``expire_snapshots`` analog: drop old snapshots'
        manifests and any data file no kept snapshot references. The
        reference analog is resetting state for a newer planet
        (README.md:55 — the LMDB is disposable once a newer snapshot
        supersedes it).

        Keep rules (union when both given): the newest ``keep_n``
        snapshots; snapshots committed at/after ``older_than_unix``.
        The CURRENT snapshot is always kept regardless. Manifests are
        removed before data files, so a crash mid-expiry can never
        leave a resolvable snapshot with missing files; a concurrent
        reader of a kept snapshot is unaffected (its files are never
        touched). Time travel to kept snapshots keeps working; reads
        of expired ids raise. Returns
        ``{"expired": [...], "kept": [...], "files_removed": n}``.

        Why it matters at 100 TB: every commit (append, compaction,
        steady-state merge) retains the previous snapshot's files for
        time travel — without expiry the table's footprint grows
        without bound and file listings slow every maintenance pass.
        """
        if keep_n is None and older_than_unix is None:
            raise ValueError("pass keep_n and/or older_than_unix")
        cur = self.current_snapshot()
        mdir = os.path.join(self.root, "manifests")
        snaps = self._snapshot_ids()
        keep = {cur} if cur is not None else set()
        if keep_n is not None:
            keep.update(snaps[-max(0, keep_n):] if keep_n > 0 else [])
        if older_than_unix is not None:
            keep.update(
                s for s in snaps
                if self.manifest(s)["committed_at_unix"] >= older_than_unix
            )
        expired = [s for s in snaps if s not in keep]
        referenced = {
            f["path"] for s in keep if s in snaps
            for f in self.manifest(s)["files"]
        }
        doomed: set[str] = set()
        for s in expired:
            doomed.update(
                f["path"] for f in self.manifest(s)["files"]
                if f["path"] not in referenced
            )
        for s in expired:
            os.remove(os.path.join(mdir, f"manifest-{s}.json"))
        for rel in sorted(doomed):
            full = os.path.join(self.root, rel)
            if os.path.exists(full):
                os.remove(full)
            d = os.path.dirname(full)
            # snapshot data dirs hold only their own files (+ _SUCCESS
            # markers): drop the dir once no data file remains
            if os.path.isdir(d) and not any(
                fn.endswith(".parquet") for fn in os.listdir(d)
            ):
                import shutil

                shutil.rmtree(d, ignore_errors=True)
        return {"expired": expired, "kept": sorted(keep & set(snaps)),
                "files_removed": len(doomed)}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _parquet_stats(path: str, cols: list[str] | None = None) -> dict:
    """Per-file {col: [min, max]} from parquet footer row-group stats
    (metadata only — no data pages read). A column is recorded only
    when every row group carries stats for it and the values are
    JSON-representable (int/float/str/bool); anything else is simply
    omitted, which the pruning side treats as "may match"."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    want = set(cols) if cols is not None else None
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    dead: set[str] = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for i in range(group.num_columns):
            col = group.column(i)
            name = col.path_in_schema  # dotted path: unambiguous for nested
            if name in dead or (want is not None and name not in want):
                continue
            st = col.statistics
            if (st is None or not st.has_min_max
                    or not isinstance(st.min, (int, float, str, bool))):
                dead.add(name)
                continue
            try:
                if name not in mins or st.min < mins[name]:
                    mins[name] = st.min
                if name not in maxs or st.max > maxs[name]:
                    maxs[name] = st.max
            except TypeError:  # mixed types across row groups
                dead.add(name)
    return {n: [mins[n], maxs[n]] for n in mins if n not in dead}


def _apply_range_filters(df: DataFrame, where: dict | None) -> DataFrame:
    """Exact residual predicate matching the manifest pruning ranges."""
    if not where:
        return df
    from pyspark.sql import functions as F

    for col, (lo, hi) in where.items():
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
    return df


def _file_may_match(f: dict, where: dict) -> bool:
    stats = f.get("stats") or {}
    for col, (lo, hi) in where.items():
        rng = stats.get(col)
        if rng is None:
            continue  # no stats → conservatively keep
        fmin, fmax = rng
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def fingerprint(*parts) -> str:
    """Stable fingerprint of stage inputs (snapshot ids, params)."""
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]


def path_signature(path: str) -> list:
    """Content signature of a data directory: sorted (name, size,
    mtime_ns) of its data files. Cheap (listing only, no reads) but
    changes whenever the data at the path is regenerated — include it
    in a stage ``fingerprint`` so a resumed run never serves a stale
    snapshot built from different bytes at the same path."""
    import os

    sig = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            sig.append((os.path.relpath(os.path.join(root, f), path),
                        st.st_size, st.st_mtime_ns))
    sig.sort()
    return sig


def run_stage(spark: SparkSession, table_root: str, stage: str,
              inputs_fp: str, build: "callable") -> DataFrame:
    """Resumable stage: skip if a committed snapshot already carries
    this (stage, inputs_fp); else build, commit, return the committed
    data (read back so downstream consumes the durable copy)."""
    t = Table(table_root)
    m = t.manifest()
    if m and m["lineage"].get("stage") == stage and m["lineage"].get("inputs_fp") == inputs_fp:
        return t.read(spark)
    df = build()
    t.commit(df, lineage={"stage": stage, "inputs_fp": inputs_fp})
    return t.read(spark)
