"""Snapshot-per-wave state store (SURVEY.md S10, C6; north_rule resume).

The reference checkpoints by saving its workbook after every keyword and on
crash (getRank.py:479, 426-430; getStockNumber.py:151-153) — bounded loss,
but no way to resume mid-run. Here every wave commits an **atomic snapshot**
in the Iceberg style: data files first, then a single manifest JSON whose
rename is the commit point. A crash loses at most the in-flight wave;
``latest_manifest`` + the loaders give exact resume (tests/test_crawler.py).

Layout under ``root``, one ``<table>/wave=<n>/`` directory per table a wave
writes (the crawl writes all ten every wave, empty or not, except
``shards`` when no bucket changed and ``seed_flags`` without early stop)::

    frontier/        full frontier snapshot, partitioned (depth, host_shard)
    shards/          Bloom shard buckets, copy-on-write (dirty buckets only)
    seed_flags/      full per-seed early-stop flags snapshot
    seen/            seen-set delta (append-only log: the exact record of
                     admitted URLs; the wave loop never reads it)
    results/         parsed SERP result delta
    quarantine/      unknown-layout SERP rows (rank 'Other mode')
    detail_results/  detail-page (BSR) delta
    cart_results/    cart-probe (inventory) delta
    images/          image+caption delta (input_hint schema)
    lineage/         the per-fetch record: one row per fetch attempt with
                     status, attempt, dead, sizes and SERP page shape
                     (per-shard fetch counts, P8/P9 page flags and dead
                     letters are reads over it)
    _manifests/manifest-<n>.json   the commit records: each written table's
                                   path and schema (loaders read with it,
                                   so no read infers a schema), counters
                                   and bases

**The chain rule** (one walk, ``_chain``, serves every loader and
``expire_snapshots``): a table as of wave ``w`` is the union of its
versions at waves ≤ ``w``, walking back to and including the most recent
*base*. A base is a wave whose manifest lists the table in ``bases`` (a
compaction rewrote its full history) or any write of a full-snapshot table
(``SNAPSHOT_TABLES``). So the frontier and ``seed_flags`` read one
version, ``shards`` reads back to its last compaction (the only table that
compacts), and the per-wave logs (``seen``, ``lineage`` and the parsed
results) read every wave. At 10^10 scale the shard state would become
manifest-pruned per bucket — same manifest mechanics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def partitioned_counts(path: str) -> dict[tuple[str, ...], int]:
    """Row counts per key=value partition directory, from parquet footers
    only — driver-side, no Spark job. Keys are the ordered partition path
    segments, e.g. ('depth=1', 'host_shard=3'). Flat layouts yield {(): n}.
    This is the Iceberg-manifest analogue of per-partition row counts, and
    what makes the depth-pruned frontier dequeue free to plan."""
    import glob

    import pyarrow.parquet as pq

    out: dict[tuple[str, ...], int] = {}
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(f, path)
        parts = tuple(p for p in rel.split(os.sep)[:-1] if "=" in p)
        out[parts] = out.get(parts, 0) + pq.ParquetFile(f).metadata.num_rows
    return out


SNAPSHOT_TABLES = ("frontier", "seed_flags")   # full snapshot: every write is a base
DELTA_TABLES = (
    "seen", "results", "quarantine", "detail_results", "cart_results", "images", "lineage",
)
#: write-time partition spec (Iceberg partition spec): the frontier is laid
#: out by (depth, host_shard) so the politeness dequeue can prune depth
#: bands from file paths alone; depth leads because it leads the priority
#: order
PARTITIONING: dict[str, tuple[str, ...]] = {"frontier": ("depth", "host_shard")}


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # ------------------------------------------------------------- commit
    def commit_wave(
        self,
        wave: int,
        tables: dict[str, DataFrame | None],
        counters: dict[str, float],
        bases: frozenset[str] | set[str] = frozenset(),
    ) -> None:
        """Write all wave outputs, then atomically publish the manifest.

        The per-table writes are independent Spark jobs — submitting them
        from a thread pool overlaps their scheduling/IO latency (the wave
        loop's dominant fixed cost; each wave commits ~10 small tables).
        Tables in ``PARTITIONING`` are written under their partition spec.

        Each written table's schema is recorded beside its path, so a read
        never infers it from the files (a Spark job per read).

        The frontier row count is recorded in the manifest counters from
        the written parquet FOOTERS (driver-side pyarrow, no Spark job) —
        it is the loop's stop condition, and a count() job per wave just
        for it was one of the larger per-wave fixed costs. ``started_at``
        is stamped before the writes and ``committed_at`` after them, just
        before the rename, so consecutive stamps time whole waves.
        """
        from concurrent.futures import ThreadPoolExecutor

        entry: dict = {
            "wave": wave,
            "tables": {},
            # each table's schema as written: loaders pass it to the
            # reader, which then runs no schema-inference job
            "schemas": {n: df.schema.json() for n, df in tables.items() if df is not None},
            "counters": dict(counters),
            # bases: tables for which THIS wave's files are a full compacted
            # rewrite (delta-chain checkpoint) — loaders read from the most
            # recent base forward instead of the whole wave history
            "bases": sorted(bases),
            "started_at": time.time(),
        }

        def write(item: tuple[str, DataFrame]) -> tuple[str, str]:
            name, df = item
            path = os.path.join(self.root, name, f"wave={wave}")
            w = df.write.mode("overwrite")
            if name in PARTITIONING:
                w = w.partitionBy(*PARTITIONING[name])
            w.parquet(path)
            return name, path

        todo = [(n, df) for n, df in tables.items() if df is not None]
        with ThreadPoolExecutor(max_workers=min(8, max(1, len(todo)))) as pool:
            for name, path in pool.map(write, todo):
                entry["tables"][name] = path
        if "frontier" in entry["tables"]:
            entry["counters"]["n_frontier"] = sum(
                partitioned_counts(entry["tables"]["frontier"]).values()
            )
        tmp = os.path.join(self.root, "_manifests", f".manifest-{wave}.tmp")
        final = os.path.join(self.root, "_manifests", f"manifest-{wave}.json")
        entry["committed_at"] = time.time()
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.rename(tmp, final)  # the commit point

    def counter(self, name: str):
        m = self.latest_manifest()
        return None if m is None else m["counters"].get(name)

    # ------------------------------------------------------------- resume
    def committed_waves(self) -> list[int]:
        mdir = os.path.join(self.root, "_manifests")
        waves = []
        for fn in os.listdir(mdir):
            if fn.startswith("manifest-") and fn.endswith(".json"):
                waves.append(int(fn[len("manifest-") : -len(".json")]))
        return sorted(waves)

    def latest_manifest(self) -> dict | None:
        waves = self.committed_waves()
        if not waves:
            return None
        return self._manifest(waves[-1])

    def _chain(self, name: str, as_of_wave: int | None, live: bool = True) -> list[tuple[int, str]]:
        """``(wave, path)`` versions of ``name`` that make up the table as of
        ``as_of_wave`` (None = latest), oldest first: walk back from it to
        and including the most recent base (the module docstring's chain
        rule). ``live`` raises when the walk reaches an expired version."""
        expired = self._expired_paths() if live else set()
        chain: list[tuple[int, str]] = []
        for w in reversed(self.committed_waves()):
            if as_of_wave is not None and w > as_of_wave:
                continue
            m = self._manifest(w)
            path = m["tables"].get(name)
            if path is None:
                continue
            if path in expired:
                raise ValueError(
                    f"snapshot expired: {path} was removed by expire_snapshots(); "
                    "time travel older than the retention horizon is gone"
                )
            chain.append((w, path))
            if name in SNAPSHOT_TABLES or name in m.get("bases", ()):
                break
        chain.reverse()
        return chain

    def _reader(self, name: str, wave: int):
        """A parquet reader carrying ``name``'s schema as wave ``wave``
        wrote it (``commit_wave``)."""
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(self._manifest(wave)["schemas"][name]))
        return self.spark.read.schema(schema)

    def _read(self, name: str, as_of_wave: int | None) -> DataFrame | None:
        chain = self._chain(name, as_of_wave)
        if not chain:
            return None
        return self._reader(name, chain[-1][0]).parquet(*[p for _w, p in chain])

    def load_snapshot(self, name: str, as_of_wave: int | None = None) -> DataFrame | None:
        """Committed full snapshot of ``name`` (``SNAPSHOT_TABLES``) as of
        the given wave (Iceberg-style time travel; None = latest)."""
        return self._read(name, as_of_wave)

    def load_shard_state(self, as_of_wave: int | None = None) -> DataFrame | None:
        """Copy-on-write Bloom shard state: each wave writes ONLY its dirty
        buckets (operators/bloom.py merge_into_shards dirty_only=True); the
        live state is the latest version of every bucket across the chain.
        At Iceberg scale this is manifest-pruned to one file read per
        bucket; here it is a tiny union + max_by (n_buckets × waves short
        rows). ``as_of_wave`` time-travels to the state as committed at
        that wave."""
        from pyspark.sql import functions as F

        chain = self._chain("shards", as_of_wave)
        if not chain:
            return None
        dfs = [self._reader("shards", w).parquet(path).withColumn("_v", F.lit(w)) for w, path in chain]
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        latest = (
            u.groupBy("bucket")
            .agg(F.max_by(F.struct("bits", "n_items", "m_bits", "k", "keys"), "_v").alias("_s"))
            .select("bucket", "_s.*")
        )
        return latest

    def load_deltas(self, name: str, as_of_wave: int | None = None) -> DataFrame | None:
        """Union of committed deltas of ``name`` since (and including) the
        most recent compaction base — a base wave's files are the full
        cumulative table, so earlier waves are never read again.
        ``as_of_wave`` reads the table exactly as it stood after that wave's
        commit (snapshot time travel — by determinism, identical to what an
        interrupted run stopped at that wave would hold; tested)."""
        return self._read(name, as_of_wave)

    def _manifest(self, wave: int) -> dict:
        with open(os.path.join(self.root, "_manifests", f"manifest-{wave}.json")) as f:
            return json.load(f)

    # -------------------------------------------------------- expiration
    def _expired_paths(self) -> set[str]:
        p = os.path.join(self.root, "_manifests", "expired.json")
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(json.load(f)["paths"])

    def expire_snapshots(self, keep_last: int) -> dict:
        """Iceberg-style snapshot expiration: delete wave directories no
        longer REACHABLE from the last ``keep_last`` committed waves — on
        no retained wave's chain (``_chain``, the walk the loaders use).
        Superseded frontier rewrites are garbage (this is where a
        per-wave-rewritten 10^10-row frontier grows O(waves) disk without
        expiration), as are pre-base versions of compacted tables once a
        base is retained; tables that never compact, and tables of any
        other name, keep every version and lose nothing.

        Manifests are kept (delta unions still need them); expired paths
        are tombstoned in ``_manifests/expired.json`` and any later time
        travel into them raises instead of reading missing files. Only
        paths referenced by SOME manifest are ever deleted — a crashed
        run's uncommitted in-flight wave directory is not touched (it is
        invisible to resume anyway). Run from the driver while no wave is
        committing.

        Returns ``{"deleted": [(table, wave), ...], "bytes_reclaimed": n,
        "retained_waves": [...]}``.
        """
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        waves = self.committed_waves()
        retained = waves[-keep_last:]
        all_paths = {
            path: (name, w)
            for w in waves
            for name, path in self._manifest(w)["tables"].items()
        }
        referenced = {
            path
            for name in {name for name, _w in all_paths.values()}
            for r in retained
            for _w, path in self._chain(name, r, live=False)
        }
        deleted: list[tuple[str, int]] = []
        bytes_reclaimed = 0
        expired = self._expired_paths()
        for path, (name, w) in sorted(all_paths.items()):
            if path in referenced or path in expired or not os.path.isdir(path):
                continue
            bytes_reclaimed += sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dns, fns in os.walk(path)
                for f in fns
            )
            shutil.rmtree(path)
            deleted.append((name, w))
            expired.add(path)
        tmp = os.path.join(self.root, "_manifests", ".expired.tmp")
        with open(tmp, "w") as f:
            json.dump({"paths": sorted(expired)}, f)
        os.rename(tmp, os.path.join(self.root, "_manifests", "expired.json"))
        return {
            "deleted": deleted,
            "bytes_reclaimed": bytes_reclaimed,
            "retained_waves": retained,
        }

    # ---------------------------------------------------------- orphans
    def orphan_scan(self) -> dict:
        """Iceberg remove-orphan-files analog, SCAN phase: ``wave=*``
        directories on disk that NO committed manifest references — the
        residue of a crashed in-flight commit (``commit_wave`` writes the
        table directories first; the manifest rename is the commit point,
        so a crash between the two strands fully-written parquet that
        resume correctly ignores but nothing ever reclaims — at one wave
        per politeness epoch over 10^10 URLs that residue is real disk).

        Scan-only and side-effect free: returns ``{"orphans": [(table,
        path, bytes), ...], "bytes": n}``. Deletion is the separate
        :meth:`delete_orphans`, age-guarded so a commit IN PROGRESS
        (directories written, manifest not yet renamed) is never swept —
        the same two-phase discipline as ``expire_snapshots`` (which
        handles the complementary set: manifest-referenced but
        unreachable).
        """
        referenced = {
            path
            for w in self.committed_waves()
            for path in self._manifest(w)["tables"].values()
        }
        expired = self._expired_paths()
        orphans: list[tuple[str, str, int]] = []
        total = 0
        for entry in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, entry)
            if entry == "_manifests" or not os.path.isdir(tdir):
                continue
            for wdir in sorted(os.listdir(tdir)):
                p = os.path.join(tdir, wdir)
                if not wdir.startswith("wave=") or not os.path.isdir(p):
                    continue
                if p in referenced or p in expired:
                    continue
                size = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _dns, fns in os.walk(p)
                    for f in fns
                )
                orphans.append((entry, p, size))
                total += size
        return {"orphans": orphans, "bytes": total}

    def delete_orphans(self, min_age_s: float = 3600.0) -> dict:
        """Delete orphan wave directories older than ``min_age_s`` (by the
        NEWEST mtime under each directory — a directory still being
        written keeps refreshing it, so an in-flight commit can never look
        old enough to sweep). Returns ``{"deleted": [paths],
        "bytes_reclaimed": n, "skipped_young": [paths]}``. Run from the
        driver while no wave is committing, same as expire_snapshots."""
        import shutil

        scan = self.orphan_scan()
        now = time.time()
        deleted: list[str] = []
        skipped: list[str] = []
        reclaimed = 0
        for _table, path, size in scan["orphans"]:
            newest = max(
                (
                    os.path.getmtime(os.path.join(dp, f))
                    for dp, _dns, fns in os.walk(path)
                    for f in fns
                ),
                default=os.path.getmtime(path),
            )
            if now - newest < min_age_s:
                skipped.append(path)
                continue
            shutil.rmtree(path)
            deleted.append(path)
            reclaimed += size
        return {
            "deleted": deleted,
            "bytes_reclaimed": reclaimed,
            "skipped_young": skipped,
        }


def file_column_ranges(path: str, column: str) -> list[tuple[str, object, object, int]]:
    """Per-parquet-file (path, min, max, num_rows) for ``column`` from the
    footers only — no Spark job. Row-group statistics fold to file level
    (min of mins, max of maxes); a file whose footer carries NO statistics
    for the column reports ``(None, None)`` and the planner must read it
    (conservative). The Iceberg-manifest analogue of per-data-file column
    bounds — what turns a predicate into a file-skip plan before any
    executor spins up."""
    import glob

    import pyarrow.parquet as pq

    out: list[tuple[str, object, object, int]] = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            out.append((f, None, None, md.num_rows))
            continue
        mins, maxs = [], []
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mins.append(st.min)
            maxs.append(st.max)
        if ok and mins:
            out.append((f, min(mins), max(maxs), md.num_rows))
        else:
            out.append((f, None, None, md.num_rows))
    return out


def plan_file_skips(path: str, column: str, lo=None, hi=None) -> dict:
    """Scan plan for the predicate ``lo <= column <= hi`` over a parquet
    directory: which files the footer bounds PROVE irrelevant (their
    [min, max] range cannot intersect [lo, hi]) and which must be read.
    ``lo``/``hi`` of None are open ends. Files without statistics for the
    column are always read — skipping is only ever proof-backed.

    This is the planning half of the layout work ``zorder_layout`` does at
    write time: clustering writes by key makes per-file ranges disjoint,
    and THIS function is where that pays off — a point lookup over a
    range-clustered 10^10-row seen table opens one file's worth of pages
    instead of all of them. (Spark's own reader applies the same pruning
    from PushedFilters; exposing the plan makes the saving observable and
    testable, the way Iceberg's scan planning reports it.)

    Returns {"files": n, "read": [paths], "skipped": [paths],
    "rows_read": n, "rows_skipped": n}.
    """
    read: list[str] = []
    skipped: list[str] = []
    rows_read = rows_skipped = 0
    for f, mn, mx, n in file_column_ranges(path, column):
        prunable = mn is not None and (
            (hi is not None and mn > hi) or (lo is not None and mx < lo)
        )
        if prunable:
            skipped.append(f)
            rows_skipped += n
        else:
            read.append(f)
            rows_read += n
    return {
        "files": len(read) + len(skipped),
        "read": read,
        "skipped": skipped,
        "rows_read": rows_read,
        "rows_skipped": rows_skipped,
    }
